package graft

import graft.functions.{Checksum, Hashing, Masquerade, TextFunctions, VectorFunctions}
import graft.operators.{AsofJoin, ChunkPlanner, Dedup, DocChunker, NearDupStore, NgramLm, Similarity, Skew}
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The operator catalog: every SURVEY §2 operator (plus the training-data
  * pipeline extensions) as a named query over the driver testdata, each
  * with a DuckDB oracle where SQL-expressible.
  *
  * Determinism contract with the oracle (the driver materializes BOTH
  * sides via pandas, sorts rows, and hashes values — so dtypes are part
  * of the contract, not just the numbers):
  *  - every query ends in a total ORDER BY on both sides;
  *  - double aggregates reduce through DECIMAL(18,s) (exact,
  *    order-independent across partitions/threads) and the FINAL value
  *    is cast to DOUBLE on both sides — DuckDB's pandas path turns
  *    DECIMAL into float64 while Spark parquet decimals stay Decimal
  *    objects, which fails the hash on identical values;
  *  - counts/sizes cast to long; DuckDB sum(BIGINT) needs CAST(… AS
  *    BIGINT) (it returns HUGEINT → pandas object);
  *  - ratio outputs floor-truncated at a fixed scale on both sides;
  *  - dates surface as TIMESTAMP (parquet DATE → datetime.date vs
  *    DuckDB DATE → pandas Timestamp);
  *  - never output array cells (unhashable in the pandas row sort) —
  *    string-join them;
  *  - DuckDB CAST(double AS BIGINT) ROUNDS where Spark truncates: write
  *    floor() explicitly in oracles.
  * tools/pandas_check.py replays this compare; run it with
  * tools/local_verify.py (both sf0.01 and sf0.1) before committing.
  */
object Queries {
  import Tables._

  type QFn = (SparkSession, String) => DataFrame

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  // Sums go through DECIMAL so the reduction is exact and associative
  // (order-independent across partitions), then the FINAL value is cast
  // to DOUBLE: the driver materializes DuckDB results via pandas, where
  // DECIMAL becomes float64 while Spark parquet decimals stay Decimal
  // objects — a dtype mismatch that fails the value hash even when the
  // numbers are identical. Both engines cast the same exact decimal to
  // the same (correctly-rounded) binary64, so double==double always.
  private def sum38_2(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  private def sum38_4(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  // ---------------------------------------------------------------- scans
  /** P1 — explicit column projection (generated-column pruning analog). */
  val qScanProject: QFn = (s, d) =>
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  val qScanProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin

  /** P2 — computed-column projection (columns_on_select_replace). */
  val qProjCompute: QFn = (s, d) =>
    part(s, d).select(
      col("p_partkey"),
      upper(col("p_type")).as("type_u"),
      concat(col("p_brand"), lit("#"), col("p_size").cast(StringType)).as("brand_size"),
      (col("p_retailprice") + lit(100.0)).as("price_adj"))
      .orderBy("p_partkey")
  val qProjComputeSql: String =
    """SELECT p_partkey, upper(p_type) AS type_u,
      |  p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size,
      |  p_retailprice + 100.0 AS price_adj
      |FROM part ORDER BY p_partkey""".stripMargin

  /** P3 — row filter (user WHERE pushed to the scan). */
  val qFilterWhere: QFn = (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-06-01")) &&
        col("l_discount") > lit(0.05))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "l_discount")
  val qFilterWhereSql: String =
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber, l_shipdate, l_discount""".stripMargin

  /** P4/C2 — chunk-range predicates: plan 8 integer chunks on the orders
    * PK, scan each range as its own filtered job, union, and report
    * per-chunk stats. Chunk membership is pure arithmetic so DuckDB can
    * replay it. */
  val qChunkPred: QFn = (s, d) => {
    val o = orders(s, d)
    val (lo, hi) = ChunkPlanner.intBounds(o, "o_orderkey")
    val step = math.max((hi - lo + 1) / 8, 1L)
    val chunks = ChunkPlanner.integerChunks("o_orderkey", lo, hi, step, includeNull = false)
    chunks.map(c => o.filter(c.filter).withColumn("chunk_id", lit(c.id)))
      .reduce(_ unionAll _)
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("cnt"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("chunk_id")
  }
  val qChunkPredSql: String =
    """WITH b AS (SELECT min(o_orderkey) lo, max(o_orderkey) hi FROM orders),
      |     s AS (SELECT lo, greatest((hi - lo + 1) // 8, 1) st FROM b)
      |SELECT CAST((o_orderkey - lo) // st AS INT) AS chunk_id, count(*) AS cnt,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders, s GROUP BY 1 ORDER BY 1""".stripMargin

  /** P5 — top-k (ORDER BY + LIMIT → TakeOrderedAndProject). */
  val qLimitTopK: QFn = (s, d) =>
    orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  val qLimitTopKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ----------------------------------------------------------- aggregates
  /** A1 — MIN/MAX bounds probe (+ LEFT(MIN(...),1) shape). */
  val qMinMax: QFn = (s, d) =>
    orders(s, d).agg(
      min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
      substring(min(col("o_orderdate")).cast(StringType), 1, 4).as("min_year"))
  val qMinMaxSql: String =
    """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  substring(CAST(min(o_orderdate) AS VARCHAR), 1, 4) AS min_year
      |FROM orders""".stripMargin

  /** A2 — exact COUNT(*) with WHERE. */
  val qCountWhere: QFn = (s, d) =>
    lineitem(s, d).filter(col("l_quantity") >= lit(25.0))
      .agg(count(lit(1)).as("cnt"))
  val qCountWhereSql: String =
    "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity >= 25.0"

  /** A4 — CRC32-XOR table checksums (the reference's round-trip oracle,
    * checksum.c:98-153). DuckDB 1.0 lacks crc32 → rows-only check here;
    * the ScalaTest round-trip (dump → load → checksum equality) is the
    * real gate. */
  val qChecksum: QFn = (s, d) =>
    Seq("region", "nation", "supplier", "part")
      .map(n => Checksum.checksumRow(t(s, d, n), n))
      .reduce(_ unionAll _)
      .orderBy("table")
  /** CRC-32 (the IEEE-reflected crc32() Spark ships) replayed in DuckDB
    * SQL — round-6 upgrade that makes A4's NATIVE form value-gated
    * (DuckDB 1.0 has no crc32 builtin): the standard 256-entry
    * table-driven byte fold runs as a list_reduce over ord() bytes with
    * the table as a literal list. Sound because the row text is ASCII
    * (TPC-H strings; ints/doubles render identically — DuckDB and Java
    * both emit shortest-roundtrip doubles, diverging only at the ≥1e7
    * scientific-notation threshold these columns never reach) and the
    * q_checksum_md5 gate already pins the exact same concat strings, so
    * only the CRC arithmetic itself is new here. */
  private val crc32Table: IndexedSeq[Long] = (0 until 256).map { n =>
    var c = n.toLong
    var k = 0
    while (k < 8) { c = if ((c & 1L) != 0) 0xEDB88320L ^ (c >>> 1) else c >>> 1; k += 1 }
    c
  }
  private def crc32XorSql(table: String, cols: Seq[String]): String = {
    val row = cols.map(c => s"coalesce(CAST($c AS VARCHAR), chr(0))")
      .mkString("concat_ws(chr(31), ", ", ", ")")
    s"""SELECT '$table' AS "table",
       |  bit_xor(xor(list_reduce(
       |    list_prepend(CAST(4294967295 AS BIGINT),
       |      list_transform(generate_series(1, length($row)),
       |        i -> CAST(ord(substr($row, i, 1)) AS BIGINT))),
       |    (acc, ch) -> xor(acc >> 8, t[CAST((xor(acc, ch) & 255) AS INTEGER) + 1])),
       |  4294967295)) AS checksum
       |FROM $table, (SELECT ${crc32Table.mkString("[", ", ", "]")} AS t)""".stripMargin
  }
  val qChecksumSql: String =
    Seq("region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
      .map { case (n, cols) => crc32XorSql(n, cols) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"table\"")

  /** A4, engine-portable form: md5-prefix-XOR table digests over the
    * int/string column subsets (float/timestamp rendering differs per
    * engine) — DuckDB replays the exact digest, giving the checksum
    * family a value-level oracle that CRC32 can't (absent in DuckDB
    * 1.0). The dump→load round-trip equality gate stays on the CRC32
    * form (ChecksumSpec / RoundTripSpec). */
  val qChecksumMd5: QFn = (s, d) =>
    Seq("region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_mktsegment"))
      .map { case (n, cols) => Checksum.portableChecksumRow(t(s, d, n), n, cols) }
      .reduce(_ unionAll _)
      .orderBy("table")
  private def md5XorSql(table: String, cols: Seq[String]): String = {
    val row = cols.map(c => s"coalesce(CAST($c AS VARCHAR), chr(0))")
      .mkString("concat_ws(chr(31), ", ", ", ")")
    s"""SELECT '$table' AS "table",
       |  bit_xor(CAST(('0x' || substring(md5($row), 1, 15)) AS BIGINT)) AS checksum
       |FROM $table""".stripMargin
  }
  val qChecksumMd5Sql: String =
    Seq("region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_mktsegment"))
      .map { case (n, cols) => md5XorSql(n, cols) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"table\"")

  /** A5 — structure checksum over the discovered catalog: one digest per
    * table across its (table, column, ordinal) rows, the engine analog
    * of the reference's schema checksum (checksum.c:105-153 — there over
    * SHOW CREATE TABLE text; here over catalog rows, which is what a
    * columnar catalog exposes portably). Spark derives the rows from the
    * live parquet schemas; DuckDB replays them from information_schema —
    * the gate fails if either engine sees different columns or order.
    * Type names are deliberately excluded: each engine spells types
    * differently, and name+position is the cross-engine invariant. */
  private val StructTables = Seq("region", "nation", "supplier", "customer")
  val qChecksumStruct: QFn = (s, d) => {
    val catalog = StructTables.map { n =>
      s.createDataFrame(
        t(s, d, n).schema.fields.toSeq.zipWithIndex
          .map { case (f, i) => (n, f.name, i + 1) })
        .toDF("tbl", "col_name", "ordinal")
    }.reduce(_ unionAll _)
    catalog.groupBy("tbl")
      .agg(Checksum.bitXorAgg(
        conv(substring(md5(Checksum.rowText(
          Seq(col("tbl"), col("col_name"), col("ordinal"))).cast(BinaryType)),
          1, 15), 16, 10).cast(LongType)).as("struct_checksum"))
      .orderBy("tbl")
  }
  val qChecksumStructSql: String =
    s"""SELECT table_name AS tbl,
       |  bit_xor(CAST(('0x' || substring(md5(concat_ws(chr(31),
       |    coalesce(CAST(table_name AS VARCHAR), chr(0)),
       |    coalesce(CAST(column_name AS VARCHAR), chr(0)),
       |    coalesce(CAST(ordinal_position AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT))
       |    AS struct_checksum
       |FROM information_schema.columns
       |WHERE table_name IN (${StructTables.map(n => s"'$n'").mkString(", ")})
       |GROUP BY table_name ORDER BY tbl""".stripMargin

  /** TPC-H Q1 shape — grouped aggregate with decimal-exact sums. */
  val q1Agg: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
      sum38_2(col("l_quantity")).as("sum_qty"),
      sum38_2(col("l_extendedprice")).as("sum_base_price"),
      sum38_4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
      count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Grouping sets — ROLLUP with NULLS FIRST ordering parity. */
  val qRollup: QFn = (s, d) =>
    lineitem(s, d).rollup("l_returnflag", "l_linestatus").agg(
      count(lit(1)).as("cnt"), sum38_2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE over two dims with grouping_id (declared §2.4 surface). */
  val qCube: QFn = (s, d) =>
    lineitem(s, d).cube("l_returnflag", "l_linestatus").agg(
      grouping_id().cast(LongType).as("gid"),
      count(lit(1)).as("cnt"), sum38_2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS — the general grouped-aggregate lattice (SQL surface:
    * the engine accepts full Spark SQL, q run through spark.sql). */
  val qGroupingSets: QFn = (s, d) => {
    orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }
  val qGroupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  /** PIVOT — returnflag columns per linestatus (fixed value list, so the
    * plan is one pass, no distinct-values pre-query). */
  val qPivot: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum38_2(col("l_quantity")))
      .orderBy("l_linestatus")
  val qPivotSql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Exact interpolated percentiles (sort-based agg). Quartiles on an
    * integer column interpolate at g ∈ {0, ¼, ½, ¾} — exactly
    * representable in binary, so Spark and DuckDB agree bit-for-bit.
    * One ARRAY-percentile buffer serves all three quartiles — the
    * three-separate-aggs form maintains three copies of the per-group
    * value-counts map and merges each across partitions (3× the agg
    * state and exchange payload for identical output). */
  val qPercentile: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag").agg(
      percentile(col("l_partkey"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
      .select(col("l_returnflag"),
        col("ps").getItem(0).as("p25"),
        col("ps").getItem(1).as("p50"),
        col("ps").getItem(2).as("p75"))
      .orderBy("l_returnflag")
  val qPercentileSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_partkey, 0.25) AS p25,
      |  quantile_cont(l_partkey, 0.5) AS p50,
      |  quantile_cont(l_partkey, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate distinct (HLL++) next to the exact count — the sketch
    * path for cardinality at 100 TB (A3's modern form). HLL internals
    * differ per engine → rows-only gate; QueriesSpec asserts ≤5% relative
    * error against the exact count. */
  /** HLL++ sketch next to the exact distinct count. The sketch value
    * itself is engine-specific, so the gate hashes the EXACT count plus
    * a Spark-computed error bound check — DuckDB replays the exact
    * count and pins the boolean TRUE, making the sketch's ≤5% relative
    * error oracle-visible (approx_count_distinct's default rsd is 5%). */
  val qApproxDistinct: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag").agg(
      // default rsd (0.05) with a 2.5-sigma asserted bound (12.5%): the
      // r5 variant pinned 5% by paying rsd=0.02 (8x the HLL registers),
      // which measured 2.3x slower when combined with the exact-check
      // branch's Expand — same gate robustness (a 1-sigma bound flips
      // spuriously on ~1/3 of fresh draws; 2.5 sigma doesn't), sketch
      // cost back to the default
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          / col("exact_parts") <= lit(0.125)).as("approx_ok"))
      .orderBy("l_returnflag")
  val qApproxDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate quantiles (GK/KLL-style sketch) next to q_percentile's
    * exact sort-based path — the cardinality-independent quantile tier
    * for 100 TB (one pass, mergeable partials, no global sort). Sketch
    * internals differ per engine → rows-only gate; QueriesSpec pins the
    * rank error against the exact interpolated percentile. */
  val qApproxQuantile: QFn = (s, d) => {
    val li = lineitem(s, d)
    // exact side: reduce to (group, value, count) in a CODEGEN hash agg
    // first, then percentile's frequency form over the distinct values —
    // identical interpolation to the raw form (the counts map Percentile
    // builds per row is handed the same multiset), but the 10x-larger
    // raw pass runs in whole-stage codegen instead of per-row
    // TypedImperativeAggregate updates (sf1 warm 1.8 -> 1.3 s)
    val exact = li.groupBy("l_returnflag", "l_partkey").count()
      .groupBy("l_returnflag").agg(
        expr("percentile(l_partkey, array(0.25, 0.5, 0.75), count)").as("pe"))
    // sketch side keeps the raw one-pass GK summary — the tier under
    // test — at the default accuracy (10000): at sf0.001 the 1% value
    // bound is UNDER one distinct-value step, so the sketch must be
    // near-exact there (accuracy measured cost-neutral; the sf1 win
    // came from splitting, not loosening). Fusing it INTO the exact agg
    // made every row pay both object buffers in one ObjectHashAggregate
    // (sf1 warm 3.2 s fused vs 1.9 s split)
    val approx = li.groupBy("l_returnflag").agg(
      expr("approx_percentile(l_partkey, array(0.25, 0.5, 0.75), 10000)")
        .as("qa"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"),
        element_at(col("pe"), 1).as("p25"),
        element_at(col("pe"), 2).as("p50"),
        element_at(col("pe"), 3).as("p75"),
        (abs(element_at(col("qa"), 1) - element_at(col("pe"), 1)) <= element_at(col("pe"), 1) * 0.01 &&
         abs(element_at(col("qa"), 2) - element_at(col("pe"), 2)) <= element_at(col("pe"), 2) * 0.01 &&
         abs(element_at(col("qa"), 3) - element_at(col("pe"), 3)) <= element_at(col("pe"), 3) * 0.01)
          .as("approx_ok"))
      .orderBy("l_returnflag")
  }
  val qApproxQuantileSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_partkey, 0.25) AS p25,
      |  quantile_cont(l_partkey, 0.5) AS p50,
      |  quantile_cont(l_partkey, 0.75) AS p75,
      |  TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Statistical aggregates — stddev / correlation / covariance (single
    * pass, map-side partial moments). Floor-truncated to absorb the last
    * ulp of order-dependent FP accumulation. */
  val qStatsAgg: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag").agg(
      TextFunctions.trunc4(stddev_samp(col("l_quantity"))).as("sd_qty"),
      TextFunctions.trunc4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
      TextFunctions.trunc4(covar_samp(col("l_discount"), col("l_tax"))).as("cov_dt"))
      .orderBy("l_returnflag")
  val qStatsAggSql: String =
    """SELECT l_returnflag,
      |  floor(stddev_samp(l_quantity) * 10000.0) / 10000.0 AS sd_qty,
      |  floor(corr(l_quantity, l_extendedprice) * 10000.0) / 10000.0 AS corr_qp,
      |  floor(covar_samp(l_discount, l_tax) * 10000.0) / 10000.0 AS cov_dt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** COUNT(DISTINCT ...) — expand + two-phase hash agg. */
  val qDistinctAgg: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag").agg(
      countDistinct(col("l_suppkey")).as("n_supp"),
      countDistinct(col("l_partkey")).as("n_part"),
      count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
  val qDistinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT l_partkey) AS n_part, count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- joins
  /** Broadcast-dim star join: revenue per nation (dims broadcast, fact
    * never shuffled for the joins — only for the final small agg). */
  val qJoinRevenue: QFn = (s, d) => {
    val li = lineitem(s, d); val o = orders(s, d)
    val c = customer(s, d); val n = nation(s, d)
    // nation is a FIXED-size dim (25 rows at any sf) — broadcast always;
    // customer scales with sf (GB-size at sf100), so no hint: AQE picks
    // broadcast while it is actually small and degrades to shuffle join
    // beyond, instead of an OOM'ing forced build side
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("n_name"))
      .agg(sum38_4(li("l_extendedprice") * (lit(1.0) - li("l_discount"))).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("n_name")
  }
  val qJoinRevenueSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS cnt
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Left-semi join (EXISTS). */
  val qJoinSemi: QFn = (s, d) => {
    val o = orders(s, d)
    val big = lineitem(s, d).filter(col("l_quantity") >= lit(50.0))
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(big, Seq("o_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }
  val qJoinSemiSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_quantity >= 50.0)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no high-value orders. */
  val qJoinAnti: QFn = (s, d) => {
    val c = customer(s, d)
    val o = orders(s, d).filter(col("o_totalprice") > lit(300000.0))
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }
  val qJoinAntiSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** As-of join: each click picks up its user's latest prior-or-equal
    * view (operators.AsofJoin — one shuffle on the key; DuckDB's native
    * ASOF JOIN is the oracle). */
  val qAsofJoin: QFn = (s, d) => {
    val e = events(s, d)
    val clicks = e.where(col("event_type") === "click")
    val views = e.where(col("event_type") === "view")
    AsofJoin.asof(clicks, views, "user_id", "ts",
      valueCols = Seq("event_id", "value"), tieBreak = "event_id")
      .select("event_id", "user_id", "asof_event_id", "asof_value")
      .orderBy("event_id")
  }
  val qAsofJoinSql: String =
    """WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
      |     c AS (SELECT * FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, v.event_id AS asof_event_id,
      |       v.value AS asof_value
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
      |ORDER BY c.event_id""".stripMargin

  /** Range (interval) join — facts bucketed to price bands via the
    * equi-join-on-bucket rewrite (operators.RangeJoin): no nested-loop
    * join anywhere in the plan. */
  val qRangeJoin: QFn = (s, d) => {
    import s.implicits._
    val bands = s.range(0, 10).select(
      col("id").as("band"),
      (lit(900.0) + col("id") * 10.0).as("lo"),
      (lit(910.0) + col("id") * 10.0).as("hi"))
    operators.RangeJoin.bandJoin(part(s, d), "p_retailprice",
      bands, "lo", "hi", bucket = 10.0)
      .groupBy("band")
      .agg(count(lit(1)).as("cnt"), sum38_2(col("p_retailprice")).as("sum_price"))
      .orderBy("band")
  }
  val qRangeJoinSql: String =
    """WITH bands AS (
      |  SELECT CAST(i AS BIGINT) AS band, 900.0 + i*10.0 AS lo,
      |         910.0 + i*10.0 AS hi
      |  FROM generate_series(0, 9) t(i))
      |SELECT band, count(*) AS cnt,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** The same interval join arriving as OPAQUE SQL, de-nested by the
    * injected optimizer rule ([[org.apache.spark.sql.graftnative.RangeJoinRewrite]],
    * `spark.graft.rangeJoin.bucket`): Verify/Bench sessions register
    * GraftExtensions, so this plans as the banded equi-join —
    * ExtensionsSpec asserts the BNLJ-free plan and value parity. In a
    * plain session (no extensions) the rule is simply absent and the
    * query still returns identical values via the nested-loop plan. */
  val qRangeJoinAuto: QFn = (s, d) => {
    // Arm the rewrite in a CLONED session (shared SparkContext +
    // extensions, isolated conf/temp views): the rule reads the conf at
    // optimization time — i.e. when the caller's action runs — so a
    // set/unset around plan construction would disarm it, while setting
    // it on the shared session would leave every later pure-inequality
    // join in the same Verify/Bench run silently bucketed (round-3
    // advice). The returned DataFrame stays bound to the clone, whose
    // conf dies with it.
    val rj = s.newSession()
    rj.conf.set("spark.graft.rangeJoin.bucket", "10.0")
    part(rj, d).createOrReplaceTempView("graft_part_rj")
    rj.range(0, 10).selectExpr("id AS band",
      "900.0 + id * 10.0 AS lo", "910.0 + id * 10.0 AS hi")
      .createOrReplaceTempView("graft_bands_rj")
    rj.sql(
      """SELECT band, count(*) AS cnt,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft_part_rj JOIN graft_bands_rj
        |ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band ORDER BY band""".stripMargin)
  }
  val qRangeJoinAutoSql: String =
    """WITH bands AS (
      |  SELECT CAST(i AS BIGINT) AS band, 900.0 + i*10.0 AS lo,
      |         910.0 + i*10.0 AS hi
      |  FROM generate_series(0, 9) t(i))
      |SELECT band, count(*) AS cnt,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** HAVING — filter on an aggregate (TPC-H Q18 shape): large orders by
    * total quantity, rejoined to order facts. */
  val qHaving: QFn = (s, d) => {
    val li = lineitem(s, d)
    val big = li.groupBy("l_orderkey")
      .agg(sum38_2(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > lit(300))
    big.join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(20)
  }
  val qHavingSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300) b
      |JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin

  /** TPC-H Q3 shape — segment-filtered star join, top-10 revenue. */
  val qTopkRevenue: QFn = (s, d) => {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d)
    val li = lineitem(s, d)
    // customer scales with sf — no broadcast hint (see qJoinRevenue);
    // the segment filter keeps it AQE-broadcastable far longer anyway
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(o("o_orderkey").as("o_orderkey"), o("o_orderdate").as("o_orderdate"))
      .agg(sum38_4(li("l_extendedprice") * (lit(1.0) - li("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }
  val qTopkRevenueSql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Scalar subquery — parts priced above the corpus average (Catalyst
    * rewrites the uncorrelated scalar subquery to a broadcast of one
    * row; run through spark.sql for the declared SQL surface). */
  val qScalarSubquery: QFn = (s, d) => {
    part(s, d).createOrReplaceTempView("graft_part_sq")
    s.sql(
      """SELECT p_partkey, p_retailprice FROM graft_part_sq
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM graft_part_sq)
        |ORDER BY p_partkey""".stripMargin)
  }
  val qScalarSubquerySql: String =
    """SELECT p_partkey, p_retailprice FROM part
      |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
      |ORDER BY p_partkey""".stripMargin

  /** Skew-safe two-phase salted aggregation (operators.Skew): identical
    * results to the plain plan — the oracle is the UNsalted SQL. */
  val qSaltedAgg: QFn = (s, d) =>
    Skew.saltedAgg(lineitem(s, d), Seq("l_returnflag"), salts = 16,
      aggs = Seq(
        ("sum_base", c => sum(c), c => sum(c).cast(DoubleType)),
        ("cnt", c => count(c), c => sum(c).cast(LongType))),
      inputs = Seq(
        ("sum_base", dec2(col("l_extendedprice"))),
        ("cnt", lit(1))))
      .orderBy("l_returnflag")
  val qSaltedAggSql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------- windows
  /** row_number ranking per group (top-3 orders per customer). */
  val qWindowRank: QFn = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }
  val qWindowRankSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Running sum over rowsBetween (decimal-exact). (orderkey, linenumber)
    * is NOT unique in the testdata, so the window order includes
    * l_quantity: remaining ties add equal amounts → the output multiset
    * is deterministic, and running_qty completes the output sort key. */
  val qWindowRunning: QFn = (s, d) => {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        sum(dec2(col("l_quantity"))).over(w).cast(DoubleType).as("running_qty"))
      .orderBy("l_orderkey", "l_linenumber", "running_qty")
  }
  val qWindowRunningSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, running_qty""".stripMargin

  /** lead() — the chunk-cursor analog (§2.5: next boundary per key). */
  val qWindowLead: QFn = (s, d) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), lead(col("l_shipdate"), 1).over(w).as("next_ship"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("next_ship").asc_nulls_first)
  }
  val qWindowLeadSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      |  lead(l_shipdate, 1) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS next_ship
      |FROM lineitem
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      |  next_ship ASC NULLS FIRST""".stripMargin

  /** ntile chunk boundaries — the window-native replacement of the
    * reference's cursor-probe boundary walk (SURVEY §2.5). */
  val qNtileChunks: QFn = (s, d) =>
    ChunkPlanner.ntileBounds(orders(s, d), "o_orderkey", 8)
      .select(col("tile").cast(LongType).as("tile"), col("lo"), col("hi"),
        col("cnt"))
  val qNtileChunksSql: String =
    """WITH t AS (SELECT o_orderkey,
      |    ntile(8) OVER (ORDER BY o_orderkey) AS tile FROM orders)
      |SELECT tile, min(o_orderkey) AS lo, max(o_orderkey) AS hi,
      |  count(*) AS cnt
      |FROM t GROUP BY tile ORDER BY tile""".stripMargin

  /** String-PK chunk boundaries (C4): same boundary contract on a string
    * key — the reference's prefix-walk (mydumper_string_chunks.c) done as
    * one windowed pass. */
  val qStringChunks: QFn = (s, d) =>
    ChunkPlanner.ntileBounds(customer(s, d), "c_name", 8)
      .select(col("tile").cast(LongType).as("tile"), col("lo"), col("hi"),
        col("cnt"))
  val qStringChunksSql: String =
    """WITH t AS (SELECT c_name,
      |    ntile(8) OVER (ORDER BY c_name) AS tile FROM customer)
      |SELECT tile, min(c_name) AS lo, max(c_name) AS hi, count(*) AS cnt
      |FROM t GROUP BY tile ORDER BY tile""".stripMargin

  /** Session windows (gap-based) per user — the stateful-session analog
    * of §2.10's declared streaming surface, run on the batch plan;
    * oracle = gaps-and-islands SQL. */
  val qSessionWindow: QFn = (s, d) =>
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum38_2(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("s_start"), col("cnt"), col("sum_value"))
      .orderBy("user_id", "s_start")
  val qSessionWindowSql: String =
    """WITH o AS (SELECT user_id, ts, value,
      |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |         >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM events),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
      |SELECT user_id, min(ts) AS s_start, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin

  // --------------------------------------------------------------- setops
  /** INTERSECT / EXCEPT / UNION-distinct cardinalities. */
  val qSetOps: QFn = (s, d) => {
    val a = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val b = orders(s, d).filter(col("o_totalprice") > lit(150000.0))
      .select(col("o_custkey").as("k"))
    val inter = a.intersect(b).agg(count(lit(1)).as("cnt"))
      .select(lit("intersect").as("op"), col("cnt"))
    val exc = a.except(b).agg(count(lit(1)).as("cnt"))
      .select(lit("except").as("op"), col("cnt"))
    val uni = a.union(b).distinct().agg(count(lit(1)).as("cnt"))
      .select(lit("union").as("op"), col("cnt"))
    inter.unionAll(exc).unionAll(uni).orderBy("op")
  }
  val qSetOpsSql: String =
    """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
      |     b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000.0)
      |SELECT 'intersect' AS op, count(*) AS cnt FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
      |UNION ALL
      |SELECT 'except' AS op, count(*) AS cnt FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
      |UNION ALL
      |SELECT 'union' AS op, count(*) AS cnt FROM (SELECT k FROM a UNION SELECT k FROM b)
      |ORDER BY op""".stripMargin

  /** Multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    * multiplicities (the bag-semantics half of q_setops). */
  val qSetopsAll: QFn = (s, d) => {
    val a = lineitem(s, d).filter(col("l_quantity") >= lit(30.0))
      .select(col("l_orderkey").as("k"))
    val b = lineitem(s, d).filter(col("l_discount") > lit(0.05))
      .select(col("l_orderkey").as("k"))
    val ia = a.intersectAll(b).agg(count(lit(1)).as("cnt"))
      .select(lit("intersect_all").as("op"), col("cnt"))
    val ea = a.exceptAll(b).agg(count(lit(1)).as("cnt"))
      .select(lit("except_all").as("op"), col("cnt"))
    ia.unionAll(ea).orderBy("op")
  }
  val qSetopsAllSql: String =
    """WITH a AS (SELECT l_orderkey AS k FROM lineitem WHERE l_quantity >= 30.0),
      |     b AS (SELECT l_orderkey AS k FROM lineitem WHERE l_discount > 0.05)
      |SELECT 'intersect_all' AS op, count(*) AS cnt
      |  FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
      |UNION ALL
      |SELECT 'except_all' AS op, count(*) AS cnt
      |  FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
      |ORDER BY op""".stripMargin

  // ------------------------------------------------- masquerade / scalars
  /** F1/F6/F7/F8/F9 — SQL-expressible masquerade family. */
  val qMasquerade: QFn = (s, d) => {
    import Masquerade._
    val dict = Format(Seq(FormatPart.FileDict(MaskDict)))
    customer(s, d).select(
      col("c_custkey"),
      Constant("ACME")(col("c_name")).as("name_const"),
      Affix("cust-", "-x")(col("c_name")).as("name_affix"),
      Regex("[0-9]+", "#")(col("c_name")).as("name_regex"),
      dict(col("c_name")).as("name_dict"),
      Null(col("c_acctbal")).as("bal_null"))
      .orderBy("c_custkey")
  }
  /** F5 dictionary for q_masquerade: inline stand-in for a `<file …>`
    * word list (FormatPart.File loads real files; the gate needs a
    * fixed list both engines can embed). */
  private val MaskDict = Vector("alder", "birch", "cedar", "elm", "fir", "oak", "pine")
  val qMasqueradeSql: String = {
    val dictSql = MaskDict.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT c_custkey,
       |  CASE WHEN c_name IS NULL THEN NULL ELSE 'ACME' END AS name_const,
       |  'cust-' || c_name || '-x' AS name_affix,
       |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_regex,
       |  CASE WHEN c_name IS NULL THEN NULL ELSE list_extract($dictSql,
       |    CAST((ascii(substring(md5(c_name), 1, 1)) * 256 +
       |          ascii(substring(md5(c_name), 2, 1))) % ${MaskDict.size} AS INTEGER) + 1)
       |  END AS name_dict,
       |  CAST(NULL AS VARCHAR) AS bal_null
       |FROM customer ORDER BY c_custkey""".stripMargin
  }

  /** F2/F3/F4 — deterministic hash masking (md5-keyed; identical
    * algorithm in DuckDB, so fully oracle-checkable). The shared
    * md5-chain entropy pool is projected ONCE and the mask columns read
    * it — inlining it per column (RandomIntDet/RandomStringDet each
    * embed it) tripled the codegen unit and measured ~7 s of first-use
    * JIT; this two-stage form is value-identical (same oracle). */
  val qMaskHash: QFn = (s, d) => {
    val pooled = customer(s, d).select(col("c_custkey"), col("c_name"))
      .withColumn("__pool", Masquerade.hexPool(col("c_name")))
    val keepLen = least(length(col("c_name").cast(StringType)), lit(128))
    pooled.select(
      col("c_custkey"),
      substring(translate(col("__pool"), "abcdef", "012345"), 1, 128)
        .substr(lit(1), keepLen).as("mask_int"),
      translate(col("__pool"), "0123456789", "ghijklmnop")
        .substr(lit(1), keepLen).as("mask_str"),
      Masquerade.RandomUuidDet(col("c_name")).as("mask_uuid"))
      .orderBy("c_custkey")
  }
  private val hexPoolSql =
    "md5(c_name) || md5(md5(c_name) || '#2') || md5(md5(c_name) || '#3') || md5(md5(c_name) || '#4')"
  val qMaskHashSql: String =
    s"""SELECT c_custkey,
       |  substring(translate($hexPoolSql, 'abcdef', '012345'), 1,
       |    least(length(c_name), 128)) AS mask_int,
       |  substring(translate($hexPoolSql, '0123456789', 'ghijklmnop'), 1,
       |    least(length(c_name), 128)) AS mask_str,
       |  substring(md5(c_name), 1, 8) || '-' || substring(md5(c_name), 9, 4) || '-' ||
       |    substring(md5(c_name), 13, 4) || '-' || substring(md5(c_name), 17, 4) || '-' ||
       |    substring(md5(c_name), 21, 12) AS mask_uuid
       |FROM customer ORDER BY c_custkey""".stripMargin

  /** Scalar string/date/json surface (§2.6 server-side functions). */
  val qScalarFns: QFn = (s, d) =>
    orders(s, d).select(
      col("o_orderkey"),
      substring(col("o_orderpriority"), 1, 1).as("prio_left"),
      concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("cw"),
      col("o_orderstatus").like("F%").as("is_f"),
      (!col("o_orderpriority").like("1%")).as("not_urgent"),
      expr("replace(o_orderpriority, '-', '_')").as("prio_repl"),
      expr("find_in_set(o_orderstatus, 'O,F,P')").cast(LongType).as("status_pos"),
      year(col("o_orderdate")).cast(LongType).as("o_year"),
      lower(hex(col("o_orderpriority").cast(BinaryType))).as("prio_hex"))
      .orderBy("o_orderkey")
  val qScalarFnsSql: String =
    """SELECT o_orderkey,
      |  substring(o_orderpriority, 1, 1) AS prio_left,
      |  concat_ws('|', o_orderstatus, o_orderpriority) AS cw,
      |  o_orderstatus LIKE 'F%' AS is_f,
      |  o_orderpriority NOT LIKE '1%' AS not_urgent,
      |  replace(o_orderpriority, '-', '_') AS prio_repl,
      |  CAST(COALESCE(list_position(str_split('O,F,P', ','), o_orderstatus), 0) AS BIGINT) AS status_pos,
      |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  lower(hex(o_orderpriority)) AS prio_hex
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** JSON extraction (§2.6 JSON pass-through → native json functions). */
  val qJsonExtract: QFn = (s, d) =>
    events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .orderBy("event_id")
  val qJsonExtractSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------- text pipeline
  /** Token / word statistics per document. */
  val qTextStats: QFn = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextFunctions.meanWordLen(col("text")).as("mean_wlen"),
      TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  val qTextStatsSql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, text, n_tokens,
      |    CASE WHEN n_tokens = 0 THEN 0.0
      |         ELSE floor((CAST(length(trim(text)) - (n_tokens - 1) AS DOUBLE) / n_tokens) * 10000.0) / 10000.0 END AS mean_wlen,
      |    CASE WHEN n_tokens = 0 THEN 0.0
      |         ELSE floor((CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS DOUBLE) / n_tokens) * 10000.0) / 10000.0 END AS stop_ratio
      |  FROM t)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, mean_wlen, stop_ratio,
      |  floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
      |    + least(stop_ratio * 5.0, 1.0) * 0.3
      |    + (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3) * 10000.0) / 10000.0 AS quality
      |FROM u ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic (marker-stopword argmax). */
  val qLangId: QFn = (s, d) =>
    TextFunctions.withLangId(documents(s, d), "text")
      .select("doc_id", "lang_pred")
      .orderBy("doc_id")
  private def hitsSql(words: Seq[String]): String =
    s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
  // CJK markers carry NO \b: word boundaries never fire adjacent to CJK
  // in either engine's regex (ASCII word-char definition), so the
  // boundary-wrapped form scored 0 on pure Chinese text — mirrors
  // TextFunctions.markerPattern exactly
  private def hitsSqlBare(words: Seq[String]): String =
    s"len(regexp_extract_all(lower(text), '(${words.mkString("|")})'))"
  val qLangIdSql: String = {
    val en = hitsSql(Seq("the", "and", "of", "to", "is", "with", "that"))
    val es = hitsSql(Seq("el", "la", "los", "las", "que", "por", "una"))
    val fr = hitsSql(Seq("le", "les", "des", "est", "avec", "pour", "une"))
    val de = hitsSql(Seq("der", "die", "das", "und", "ist", "mit", "ein"))
    val zh = hitsSqlBare(Seq("的", "是", "了", "在", "我", "有"))
    s"""WITH t AS (SELECT doc_id, $en s_en, $es s_es, $fr s_fr, $de s_de, $zh s_zh
       |  FROM documents),
       |u AS (SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh,
       |  greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM t)
       |SELECT doc_id,
       |  CASE WHEN s_en = best AND s_en > 0 THEN 'en'
       |       WHEN s_es = best AND s_es > 0 THEN 'es'
       |       WHEN s_fr = best AND s_fr > 0 THEN 'fr'
       |       WHEN s_de = best AND s_de > 0 THEN 'de'
       |       WHEN s_zh = best AND s_zh > 0 THEN 'zh'
       |       ELSE 'und' END AS lang_pred
       |FROM u ORDER BY doc_id""".stripMargin
  }

  /** Per-line language segmentation (TextFunctions.langSegments): a
    * German line appended to every even doc forces genuinely
    * mixed-language documents; the gate pins line counts, run-length
    * segment counts (array fold, windowless) and the deterministic
    * dominant-language argmax with exact fixed-point share. */
  val qLangSegments: QFn = (s, d) => {
    val id = col("doc_id")
    val docs = documents(s, d).select(id,
      when(id % 2 === 0, concat(col("text"),
        lit("\nder hund und die katze ist mit ein")))
        .otherwise(col("text")).as("text"))
    TextFunctions.langSegments(docs, "text", "doc_id").orderBy("doc_id")
  }
  val qLangSegmentsSql: String = {
    val en = "len(regexp_extract_all(lower(line), '\\b(the|and|of|to|is|with|that)\\b'))"
    val es = "len(regexp_extract_all(lower(line), '\\b(el|la|los|las|que|por|una)\\b'))"
    val fr = "len(regexp_extract_all(lower(line), '\\b(le|les|des|est|avec|pour|une)\\b'))"
    val de = "len(regexp_extract_all(lower(line), '\\b(der|die|das|und|ist|mit|ein)\\b'))"
    val zh = "len(regexp_extract_all(lower(line), '(的|是|了|在|我|有)'))"
    s"""WITH t0 AS (SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0
       |       THEN text || chr(10) || 'der hund und die katze ist mit ein'
       |       ELSE text END AS text FROM documents),
       |ln0 AS (SELECT doc_id, list_filter(list_transform(
       |        string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS arr
       |        FROM t0),
       |x AS (SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos, arr
       |      FROM ln0),
       |l AS (SELECT doc_id, pos, arr[pos] AS line FROM x),
       |sc AS (SELECT doc_id, pos, $en s_en, $es s_es, $fr s_fr, $de s_de,
       |       $zh s_zh FROM l),
       |lg AS (SELECT doc_id, pos,
       |  CASE WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_zh) AND s_en > 0 THEN 'en'
       |       WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_zh) AND s_es > 0 THEN 'es'
       |       WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_zh) AND s_fr > 0 THEN 'fr'
       |       WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_zh) AND s_de > 0 THEN 'de'
       |       WHEN s_zh = greatest(s_en,s_es,s_fr,s_de,s_zh) AND s_zh > 0 THEN 'zh'
       |       ELSE 'und' END AS lang FROM sc),
       |chg AS (SELECT doc_id, pos, lang,
       |  CASE WHEN lang IS DISTINCT FROM
       |            lag(lang) OVER (PARTITION BY doc_id ORDER BY pos)
       |       THEN 1 ELSE 0 END AS is_new FROM lg),
       |seg AS (SELECT doc_id, count(*) AS n_lines, sum(is_new) AS n_segments
       |        FROM chg GROUP BY 1),
       |cnt AS (SELECT doc_id, lang, count(*) AS c FROM lg GROUP BY 1, 2),
       |dom AS (SELECT doc_id, lang, c,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang DESC) AS rn,
       |  sum(c) OVER (PARTITION BY doc_id) AS tot FROM cnt)
       |SELECT d.doc_id, CAST(coalesce(seg.n_lines, 0) AS BIGINT) AS n_lines,
       |  CAST(coalesce(seg.n_segments, 0) AS BIGINT) AS n_segments,
       |  coalesce(dm.lang, 'und') AS main_lang,
       |  CASE WHEN dm.lang IS NULL THEN CAST(0 AS BIGINT)
       |       ELSE CAST(floor(dm.c * 1000.0 / dm.tot) AS BIGINT)
       |  END AS main_permille
       |FROM t0 d LEFT JOIN seg USING (doc_id)
       |LEFT JOIN (SELECT * FROM dom WHERE rn = 1) dm USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary-coverage / OOV-rate check — the tokenizer-health gate a
    * pipeline runs after training a vocab: the corpus top-500 tokens
    * (deterministic ties: count DESC, token ASC) stand in for the vocab;
    * per source we report token mass, OOV mass and the exact fixed-point
    * OOV rate. Plan: one token count agg, the 500-row vocab broadcast
    * back as a LEFT SEMI probe (never a shuffle of the corpus side by
    * token), one final groupBy. */
  val qOovRate: QFn = (s, d) => {
    val toks = documents(s, d).select(col("source"),
      explode(filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= ""))
        .as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(500)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        floor(col("n_oov").cast("double") * 10000.0 /
          col("n_tokens").cast("double")).cast(LongType).as("oov_bp"))
      .orderBy("source")
  }
  val qOovRateSql: String =
    """WITH tk AS (SELECT source, unnest(list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM tk GROUP BY 1)
      |          ORDER BY cnt DESC, tok ASC LIMIT 500),
      |m AS (SELECT tk.source, tk.tok, vocab.tok IS NOT NULL AS iv
      |      FROM tk LEFT JOIN vocab ON tk.tok = vocab.tok)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
      |  CAST(floor(sum(CASE WHEN iv THEN 0 ELSE 1 END) * 10000.0
      |             / count(*)) AS BIGINT) AS oov_bp
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** Token totals per source (corpus accounting). */
  val qTokenTotals: QFn = (s, d) =>
    documents(s, d)
      .groupBy("source")
      .agg(sum(TextFunctions.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  val qTokenTotalsSql: String =
    """SELECT source,
      |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
      |  count(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Subword (BPE-ish) counting, punctuation density, md5 fingerprint —
    * the remaining text-metric surface, all regex/hash built-ins. */
  val qTextMetrics: QFn = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      TextFunctions.subwordCount(col("text")).cast(LongType).as("subwords"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  val qTextMetricsSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS subwords,
      |  CASE WHEN length(text) = 0 THEN 0.0
      |       ELSE floor(CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
      |            / length(text) * 10000.0) / 10000.0 END AS punct_ratio,
      |  substring(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Line-level boilerplate removal (TextFunctions.stripBoilerplate):
    * wrap each document in a cookie-banner line (wordy but
    * stopword-free) and a nav line (too short), strip, and emit
    * kept-chars / removed-ratio / cleaned-text fingerprint. The corpus
    * line itself survives only when its own stopword density clears the
    * 1/20 bar, so BOTH filter legs fire in both directions; the oracle
    * replays lines → per-line word/stopword counts → integer
    * cross-multiplied keep rule → reassembly in DuckDB list lambdas
    * (COALESCE for its NULL empty-array join vs Spark's ""). */
  val qBoilerplate: QFn = (s, d) => {
    val raw = concat(lit("Accept cookies subscribe now\n"), col("text"),
      lit("\nmenu home login"))
    documents(s, d).select(col("doc_id"), raw.as("raw"))
      .withColumn("clean", TextFunctions.stripBoilerplate(col("raw")))
      .select(col("doc_id"),
        length(col("clean")).cast(LongType).as("kept_chars"),
        TextFunctions.trunc4(lit(1.0) -
          length(col("clean")).cast(DoubleType) / length(col("raw")))
          .as("rm_ratio"),
        substring(md5(col("clean")), 1, 16).as("fp"))
      .orderBy("doc_id")
  }
  val qBoilerplateSql: String =
    """WITH t AS (SELECT doc_id,
      |  'Accept cookies subscribe now' || chr(10) || text || chr(10) || 'menu home login' AS raw
      |  FROM documents),
      |k AS (SELECT doc_id, raw,
      |  COALESCE(array_to_string(
      |    list_filter(string_split(raw, chr(10)), l ->
      |      len(list_filter(regexp_split_to_array(lower(trim(l)), '\s+'), w -> w <> '')) >= 4
      |      AND 20 * len(list_filter(regexp_split_to_array(lower(trim(l)), '\s+'),
      |                   w -> list_contains(['the','a','an','and','of','to','in','is','it','for'], w)))
      |          >= len(list_filter(regexp_split_to_array(lower(trim(l)), '\s+'), w -> w <> ''))),
      |    chr(10)), '') AS clean
      |  FROM t)
      |SELECT doc_id, CAST(length(clean) AS BIGINT) AS kept_chars,
      |  floor((1.0 - CAST(length(clean) AS DOUBLE) / length(raw)) * 10000.0) / 10000.0 AS rm_ratio,
      |  substring(md5(clean), 1, 16) AS fp
      |FROM k ORDER BY doc_id""".stripMargin

  /** Stupid-backoff bigram LM quality score (NgramLm.score): counts
    * train on the doc_id%10<8 split, every doc scores Σ floor(ln p·10⁴)
    * over its bigrams — FIXED-POINT per-bigram truncation makes the
    * per-doc reduction an integer sum (order-free), so the gate hashes
    * exact values instead of trusting a float fold's partial-agg order.
    * The held-out 20% exercises both backoff paths (seen-unigram and
    * OOV-floor). */
  val qLmScore: QFn = (s, d) =>
    NgramLm.score(documents(s, d), "text", "doc_id",
      col("doc_id") % 10 < 8).orderBy("doc_id")
  val qLmScoreSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |           FROM documents),
      |bg0 AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(w)-1),
      |          i -> struct_pack(w1 := w[i], w2 := w[i+1])) AS pairs FROM d),
      |bgu AS (SELECT doc_id, unnest(pairs) AS p FROM bg0),
      |bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bgu),
      |trtok AS (SELECT unnest(w) AS w FROM d WHERE doc_id % 10 < 8),
      |uni AS (SELECT w, count(*) AS c1 FROM trtok GROUP BY w),
      |tt AS (SELECT count(*) AS t FROM trtok),
      |big AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 10 < 8
      |        GROUP BY w1, w2),
      |sc AS (SELECT bg.doc_id,
      |   CASE WHEN big.c2 IS NOT NULL THEN CAST(big.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
      |        ELSE (0.4 * CAST(coalesce(u2.c1, 1) AS DOUBLE)) / CAST(tt.t AS DOUBLE) END AS p
      |   FROM bg LEFT JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
      |       LEFT JOIN uni u1 ON bg.w1 = u1.w
      |       LEFT JOIN uni u2 ON bg.w2 = u2.w, tt),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |        CAST(sum(CAST(floor(ln(p)*10000.0) AS BIGINT)) AS BIGINT) AS lp_sum
      |        FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
      |       coalesce(agg.lp_sum, 0) AS lp_sum
      |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id ORDER BY d.doc_id""".stripMargin

  /** Corpus-scale BPE tokenizer training (BpeTrain.merges): the top-8
    * learned merges, VALUE-gated — the oracle replays all 8 rounds in
    * DuckDB as chained CTEs over the same DOUBLE-spaced symbol
    * representation (every boundary carries two spaces so a literal
    * `replace(s, " l  r ", " lr ")` implements exact greedy
    * left-to-right non-overlapping BPE merging — identical semantics in
    * both engines; argmax tie-breaks are a total order: freq DESC, lhs,
    * rhs in binary collation). An EXHAUSTED round (corpus fully merged
    * before k rounds → b_i empty) leaves v_i = v_{i-1} via the LEFT
    * JOIN instead of emptying the chain through a bare cross join —
    * matching the engine, which simply learns fewer merges. */
  val qBpeMerges: QFn = (s, d) =>
    graft.operators.BpeTrain.merges(documents(s, d), "text", 8).orderBy("rank")
  private def bpeOracle(k: Int, finalSelect: String = ""): String = {
    val sb = new StringBuilder
    sb ++= """WITH wc AS (SELECT w, count(*) AS cnt FROM (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |  FROM documents) GROUP BY w),
      |v0 AS (SELECT ' ' || array_to_string(regexp_split_to_array(w, ''), '  ')
      |       || '  </w> ' AS s, cnt FROM wc)""".stripMargin
    for (i <- 1 to k) sb ++= s""",
      |a$i AS (SELECT string_split(trim(s), '  ') AS a, cnt FROM v${i - 1}),
      |pu$i AS (SELECT cnt, unnest(list_transform(generate_series(1, len(a)-1),
      |  x -> struct_pack(l := a[x], r := a[x+1]))) AS p FROM a$i),
      |pc$i AS (SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS f
      |  FROM pu$i GROUP BY p.l, p.r),
      |b$i AS (SELECT l, r, f FROM pc$i ORDER BY f DESC, l, r LIMIT 1),
      |v$i AS (SELECT CASE WHEN b.l IS NULL THEN s
      |  ELSE replace(s, ' ' || b.l || '  ' || b.r || ' ',
      |  ' ' || b.l || b.r || ' ') END AS s, cnt
      |  FROM v${i - 1} LEFT JOIN b$i b ON TRUE)""".stripMargin
    sb ++= "\n" + (if (finalSelect.nonEmpty) finalSelect
    else (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, f AS freq FROM b$i")
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY rank"))
    sb.toString
  }
  val qBpeMergesSql: String = bpeOracle(8)

  /** BPE ENCODE (operators.BpeTrain.segment): train 8 merges, then
    * tokenize the corpus with them and emit the corpus token-frequency
    * table — the apply side of the tokenizer, what a 100 TB pipeline
    * runs per crawl batch (training runs once; the merge table folds
    * into a constant replace chain in every task, no join/broadcast).
    * The 8-row merge table is collected driver-side (control-plane
    * metadata, same standing ruling as the stream file-announce list).
    * Oracle: the training replay's final vocabulary v8 IS the
    * segmented (distinct-word × count) table, so corpus token counts =
    * v8 exploded, weighted by word count. */
  val qBpeEncode: QFn = (s, d) => {
    val mt = graft.operators.BpeTrain.merges(documents(s, d), "text", 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.BpeTrain.segment(documents(s, d), "text", mt)
      .select(explode(col("subwords")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy("token")
  }
  val qBpeEncodeSql: String = bpeOracle(8,
    """SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM (
      |  SELECT unnest(string_split(trim(s), '  ')) AS token, cnt FROM v8)
      |GROUP BY token ORDER BY token""".stripMargin)

  /** BPE ENCODE through the VOCAB-SCALE apply path
    * ([[graft.operators.BpeTrain.segmentLarge]] — broadcast rank map +
    * iterative lowest-rank merging instead of the folded replace chain,
    * which cannot stretch to a real tokenizer's 32k merges). SHARES
    * q_bpe_encode's oracle text: the two application orders are provably
    * identical (a merge's operands are products of strictly lower
    * ranks), and the shared oracle pins that identity at value level —
    * the q_decontam_bloom contract. */
  val qBpeEncodeLarge: QFn = (s, d) => {
    val mt = graft.operators.BpeTrain.merges(documents(s, d), "text", 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.BpeTrain.segmentLarge(documents(s, d), "text", mt)
      .select(explode(col("subwords")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy("token")
  }
  val qBpeEncodeLargeSql: String = qBpeEncodeSql

  /** Within-document repetition: fraction of duplicated word-3-grams —
    * the repetitive-document quality filter of web-corpus pipelines.
    * Compiled kernel, not HOF shingles: the Column-expression form
    * (transform+slice+concat_ws) is interpreted per element and measured
    * 9× slower at sf0.1 (SCALE.md "Sketch kernels"). */
  val qRepetition: QFn = (s, d) => {
    val repUdf = udf { (t: String) =>
      if (t == null) 0.0
      else {
        val sh = graft.functions.Hashing.shingles(t, 3)
        if (sh.isEmpty) 0.0
        else 1.0 - sh.distinct.length.toDouble / sh.length
      }
    }
    documents(s, d).select(
      col("doc_id"),
      TextFunctions.trunc4(repUdf(col("text"))).as("rep_ratio"))
      .orderBy("doc_id")
  }
  val qRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(generate_series(1, len(w)-2),
      |                i -> array_to_string(w[i:i+2], ' ')) END AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |        FROM documents))
      |SELECT doc_id,
      |  floor((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) * 10000.0)
      |    / 10000.0 AS rep_ratio
      |FROM t ORDER BY doc_id""".stripMargin

  /** PII scan + redaction (masquerade extended to unstructured text):
    * per-doc counts of email/phone/IP spans and the redacted length. */
  val qPiiScan: QFn = (s, d) => {
    val (emails, phones, ips) = TextFunctions.piiCounts(col("text"))
    documents(s, d).select(
      col("doc_id"), emails.as("n_email"), phones.as("n_phone"),
      ips.as("n_ip"),
      length(TextFunctions.redactPii(col("text"))).cast(LongType).as("redacted_len"))
      .orderBy("doc_id")
  }
  val qPiiScanSql: String = {
    val em = TextFunctions.EmailPattern
    val ph = TextFunctions.PhonePattern
    val ip = TextFunctions.Ipv4Pattern
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'), '$ip', '<IP>', 'g'))
       |    AS BIGINT) AS redacted_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Generator surface — explode tokens into rows, aggregate into the
    * top-50 corpus vocabulary (the UDTF/Generator slot of §2.11; also the
    * natural token-frequency pass of a training-data pipeline). */
  val qExplodeTokens: QFn = (s, d) =>
    documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(50)
  val qExplodeTokensSql: String =
    """SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin

  /** Rolling polynomial (Rabin-Karp) token hash per document — the
    * order-sensitive fingerprint. md5-derived token hashes make the fold
    * engine-portable: DuckDB replays it exactly with list_reduce. */
  val qRollingFp: QFn = (s, d) =>
    documents(s, d).select(
      col("doc_id"), TextFunctions.rollingHash(col("text")).as("rolling_fp"))
      .orderBy("doc_id")
  val qRollingFpSql: String =
    """WITH t AS (SELECT doc_id,
      |  list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
      |    w -> CAST(('0x' || substring(md5(w), 1, 7)) AS BIGINT)) AS hs
      |  FROM documents)
      |SELECT doc_id,
      |  list_reduce(list_concat([CAST(0 AS BIGINT)], hs),
      |    (a, b) -> (a * 1000003 + b) % 2147483647) AS rolling_fp
      |FROM t ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprints (Dedup.winnowFingerprints — Schleimer et
    * al. SIGMOD 2003, k=5 w=4): the guaranteed-coverage sparse
    * fingerprint set, selected entirely in array arithmetic (zero
    * shuffle; see operator scaladoc). VALUE gate over every selected
    * (doc, pos, fp) — DuckDB replays the 28-bit md5 gram hashes, the
    * arithmetic rightmost-min encoding, and the window minima. */
  val qWinnow: QFn = (s, d) =>
    Dedup.winnowFingerprints(documents(s, d), "text", "doc_id")
      .orderBy("doc_id", "pos")
  val qWinnowSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wd
      |           FROM documents),
      |g AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(wd) - 4),
      |          i -> CAST(('0x' || substring(md5(array_to_string(wd[i:i+4], ' ')), 1, 7)) AS BIGINT)
      |               * 2147483648 + (2147483647 - (i - 1))) AS keys
      |      FROM d WHERE len(wd) >= 8),
      |s AS (SELECT doc_id,
      |        unnest(list_distinct(list_transform(generate_series(4, len(keys)),
      |          e -> list_min(keys[e-3:e])))) AS key
      |      FROM g)
      |SELECT doc_id, 2147483647 - (key & 2147483647) AS pos, key >> 31 AS fp
      |FROM s ORDER BY doc_id, pos""".stripMargin

  /** MOSS-style winnow near-dup pairs (Dedup.winnowPairs): candidates
    * AND containment scores from the sparse fingerprint set — the one
    * dedup path whose full pipeline (no seeds anywhere) the oracle
    * replays value-for-value, stop-fingerprint cap included. */
  val qWinnowPairs: QFn = (s, d) =>
    Dedup.winnowPairs(documents(s, d), "text", "doc_id")
      .orderBy("id1", "id2")
  val qWinnowPairsSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wd
      |           FROM documents),
      |g AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(wd) - 4),
      |          i -> CAST(('0x' || substring(md5(array_to_string(wd[i:i+4], ' ')), 1, 7)) AS BIGINT)
      |               * 2147483648 + (2147483647 - (i - 1))) AS keys
      |      FROM d WHERE len(wd) >= 8),
      |s0 AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(generate_series(4, len(keys)),
      |           e -> list_min(keys[e-3:e])))) AS key
      |       FROM g),
      |s AS (SELECT DISTINCT doc_id, key >> 31 AS fp FROM s0),
      |nf AS (SELECT doc_id, count(*) AS nf FROM s GROUP BY 1),
      |live AS (SELECT * FROM (SELECT doc_id, fp,
      |           count(*) OVER (PARTITION BY fp) AS df FROM s)
      |         WHERE df <= 100),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
      |      FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT id1, id2, shared,
      |  floor(shared / least(n1.nf, n2.nf) * 10000.0) / 10000.0 AS overlap
      |FROM p JOIN nf n1 ON p.id1 = n1.doc_id JOIN nf n2 ON p.id2 = n2.doc_id
      |ORDER BY id1, id2""".stripMargin

  // ---------------------------------------------------------------- dedup
  /** Exact dedup via normalized-text fingerprint (hash-groupBy). */
  val qDedupExact: QFn = (s, d) =>
    Dedup.exact(documents(s, d), "text", "doc_id").orderBy("fp")
  val qDedupExactSql: String =
    """SELECT substring(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** MinHash-LSH near-dup pairs, VALUE-gated (round-6 upgrade from
    * rows-only): on the bounded <500-id slice the output is the full
    * (id1, id2, jaccard) pair list. Why a hash-match oracle is possible
    * for a seeded-sketch path DuckDB cannot replay: verification
    * guarantees found ⊆ truth (every emitted pair has exact string-level
    * shingle-Jaccard ≥ 0.5, the same arithmetic DuckDB brute-forces),
    * and the banded-LSH recall on this slice is exactly 1.0 (near-dup
    * pairs sit far above the 8×4 band-collision threshold: a J=0.5 pair
    * collides with p = 1-(1-0.5^4)^8 ≈ 0.40 per band set, but the
    * corpus' organic near-dups are J ≈ 0.6-1.0 where p ≥ 0.97, and the
    * sketch is seeded+deterministic, so the equality is reproducible,
    * not probabilistic) — hence found = truth and DuckDB's brute-forced
    * pair list hash-matches. A band/hash/verify regression that drops
    * or invents one pair now FAILS the gate instead of passing rows-only. */
  val qDedupMinhash: QFn = (s, d) =>
    Dedup.minhashPairs(documents(s, d).where(col("doc_id") < 500),
      "text", "doc_id",
      shingleSize = 3, bands = 8, rowsPerBand = 4, verifyJaccard = Some(0.5))
      .orderBy("id1", "id2")
  /** Shared DuckDB shingle machinery for the dedup oracles — ONE
    * definition of the per-doc 3-word shingle set (with the <3-words
    * whole-text case) and the exact-Jaccard expression, so the four
    * pair/recall oracles cannot silently drift apart. */
  private def shingleSetCte(where: String): String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |      ELSE list_transform(generate_series(1, len(w)-2),
       |             i -> array_to_string(w[i:i+2], ' ')) END) AS sh
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
       |        FROM documents$where))""".stripMargin
  private val jaccardSql: String =
    """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))""".stripMargin
  val qDedupMinhashSql: String =
    s"""${shingleSetCte(" WHERE doc_id < 500")}
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  floor($jaccardSql * 10000.0) / 10000.0 AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE $jaccardSql >= 0.5
       |ORDER BY id1, id2""".stripMargin

  /** MinHash-LSH recall, oracle-visible (same pattern as q_knn_recall):
    * on the <500-id slice the TRUE Jaccard-≥0.5 pair set is small enough
    * for DuckDB to brute-force all pairs; the gate hashes that exact
    * count plus a boolean asserting the banded LSH path (verified
    * candidates) recovered ≥70% of it (measured 1.0 on the test corpus —
    * near-dup pairs sit far above the band-collision threshold). A
    * band/hash regression that drops candidates now fails the gate. */
  /** Brute-force TRUE Jaccard-≥th pairs on a small doc slice — the
    * ground truth both LSH recall gates (minhash, simhash) compare
    * against. Pair stage stripped to the bone: shingle each doc ONCE
    * into a sorted array of 64-bit shingle hashes, then merge-intersect
    * per pair — O(|A|+|B|) longs, no Set building, no per-pair
    * re-tokenization (the naive jaccard(text,text) UDF re-shingled both
    * docs for all ~125k pairs: 4.6s; an inverted shingle index was tried
    * and measured WORSE here — near-dup docs share most shingles, so the
    * equi-join re-explodes quadratically). Hash collisions (~75k
    * shingles vs 2^64) are below any realistic concern. */
  private def exactJaccardPairs(slice: DataFrame, th: Double): DataFrame = {
    val shUdf = udf { t: String =>
      val hs = functions.Hashing.shingles(t, 3)
        .map(s => functions.Hashing.hash64(s)).distinct
      java.util.Arrays.sort(hs); hs
    }
    val setJaccard = udf { (a: Seq[Long], b: Seq[Long]) =>
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1 else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }
    // the 500-doc slice reads as ONE scan split — without an explicit
    // repartition the nested-loop pair stage runs on a single core
    val l = slice.select(col("doc_id").as("id1"), shUdf(col("text")).as("sh1"))
      .repartition(32)
    val r = slice.select(col("doc_id").as("id2"), shUdf(col("text")).as("sh2"))
    // size-ratio prefilter, codegen'd, BEFORE the UDF: |∩| ≤ min(|A|,|B|)
    // and |∪| ≥ max(|A|,|B|), so J ≤ min/max — a pair whose shingle-set
    // sizes differ by more than th can't pass and never pays the UDF's
    // array marshalling (the dominant per-pair cost on ~125k pairs)
    l.crossJoin(broadcast(r)).where(col("id1") < col("id2"))
      .where(least(size(col("sh1")), size(col("sh2"))).cast(DoubleType)
        >= greatest(size(col("sh1")), size(col("sh2"))) * th)
      .where(setJaccard(col("sh1"), col("sh2")) >= th)
      .select("id1", "id2")
  }

  val qDedupMinhashRecall: QFn = (s, d) => {
    val slice = documents(s, d).where(col("doc_id") < 500)
    val exact = exactJaccardPairs(slice, 0.5)
    val mh = Dedup.minhashPairs(slice, "text", "doc_id",
      shingleSize = 3, bands = 8, rowsPerBand = 4, verifyJaccard = Some(0.5))
      .select("id1", "id2").withColumn("hit", lit(1))
    exact.join(mh, Seq("id1", "id2"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        // <= 2 true pairs is statistically inconclusive for a recall
        // RATIO (one borderline organic pair missed by design odds flips
        // 0.7 to 0.5/0.0) — the gate stays meaningful where the ground
        // truth has mass (25 pairs at the sf0.01 gate scale)
        when(count(lit(1)) <= 2, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.7))
          .as("recall_ok"))
  }
  val qDedupMinhashRecallSql: String =
    s"""${shingleSetCte(" WHERE doc_id < 500")}
       |SELECT count(*) AS n_exact, TRUE AS recall_ok
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE $jaccardSql >= 0.5""".stripMargin

  /** SimHash near-dups, VALUE-gated (round-6 upgrade from rows-only).
    * SimHash targets token-multiset cosine, so its raw hamming-≤6 pair
    * set legitimately contains pairs DuckDB's shingle-Jaccard oracle
    * would reject (precision vs a DIFFERENT similarity is not a defect)
    * — the gate therefore emits the near-exact tier the two measures
    * agree on: TRUE Jaccard-≥0.8 pairs (brute-forced on the <500-id
    * slice, DuckDB-replayable) that the pigeonhole-segmented simhash
    * path recovered. Measured recall of that tier is exactly 1.0
    * (near-exact dups flip almost no signature bits, far inside the
    * hamming budget; seeded hashing makes it reproducible), so the
    * semi-join output equals the brute-forced truth list and
    * hash-matches. A segmentation or kernel regression that drops one
    * near-exact pair now FAILS the gate; the unrestricted pair set
    * stays covered by DedupIncrementalSpec's recall test. */
  val qDedupSimhash: QFn = (s, d) => {
    val slice = documents(s, d).where(col("doc_id") < 500)
    val truth = exactJaccardPairs(slice, 0.8)
    val found = Dedup.simhashPairs(slice, "text", "doc_id", maxHamming = 6)
      .select("id1", "id2")
    val txt = slice.select(col("doc_id"), col("text"))
    truth.join(found, Seq("id1", "id2"), "left_semi")
      .join(txt.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(txt.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
      .select(col("id1"), col("id2"),
        Dedup.ngramJaccard(col("t1"), col("t2"), 3).as("jaccard"))
      .orderBy("id1", "id2")
  }
  val qDedupSimhashSql: String =
    s"""${shingleSetCte(" WHERE doc_id < 500")}
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  floor($jaccardSql * 10000.0) / 10000.0 AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE $jaccardSql >= 0.8
       |ORDER BY id1, id2""".stripMargin

  /** SimHash recall, oracle-visible (the q_dedup_minhash_recall pattern
    * applied to the remaining rows-only sketch): DuckDB brute-forces the
    * TRUE Jaccard-≥0.8 near-exact-duplicate set on the <500-id slice —
    * SimHash targets token-multiset cosine, so only the near-exact tier
    * maps cleanly onto a hamming budget — and the boolean asserts the
    * pigeonhole-segmented hamming-≤6 path recovered ≥70% of it
    * (measured 1.0 on the test corpus — near-exact dups flip almost no
    * signature bits, far inside the budget). A segmentation or
    * kernel regression that drops near-dups now fails the gate. */
  val qDedupSimhashRecall: QFn = (s, d) => {
    val slice = documents(s, d).where(col("doc_id") < 500)
    val exact = exactJaccardPairs(slice, 0.8)
    val sh = Dedup.simhashPairs(slice, "text", "doc_id", maxHamming = 6)
      .select("id1", "id2").withColumn("hit", lit(1))
    exact.join(sh, Seq("id1", "id2"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        // same small-n inconclusive guard as q_dedup_minhash_recall
        when(count(lit(1)) <= 2, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.7))
          .as("recall_ok"))
  }
  val qDedupSimhashRecallSql: String =
    s"""${shingleSetCte(" WHERE doc_id < 500")}
       |SELECT count(*) AS n_exact, TRUE AS recall_ok
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE $jaccardSql >= 0.8""".stripMargin

  /** Incremental dedup equivalence gate: split the corpus into an "old"
    * half (its band table = the persisted signature store) and a "new"
    * batch; assert pairs(old alone) ∪ incremental(new vs store) equals
    * the full-batch pair set EXACTLY (same band scheme + verify
    * threshold on every path). n_docs anchors the oracle; `consistent`
    * is the set equality — a store-schema or band-key drift between the
    * batch and incremental paths flips it false. */
  val qDedupIncremental: QFn = (s, d) => {
    val docs = documents(s, d)
    val oldDocs = docs.where(col("doc_id") % 2 === 0)
    val newDocs = docs.where(col("doc_id") % 2 === 1)
    val store = Dedup.minhashBands(oldDocs, "text", "doc_id")
    // Scoped.apply: the comparison fully consumes the pairs inside the
    // scope, so the batch's checkpointed band sketch is freed before
    // this gate even returns — zero storage blocks outlive the query
    val consistent = Dedup.minhashIncrementalPairs(newDocs, store, docs,
      "text", "doc_id", verifyJaccard = Some(0.5)) { incrFull =>
      // each pair set is materialized ONCE before the set-equality:
      // the two exceptAll actions would otherwise recompute every
      // band-join + verify pipeline on both sides — measured 49 s vs
      // 15 s at sf1 for identical results. The materialized sets are
      // tiny (16 B per pair) and freed before the gate returns.
      val (incr, freeI) = Dedup.checkpointTracked(
        incrFull.select("id1", "id2"))
      val (full, freeF) = Dedup.checkpointTracked(
        Dedup.minhashPairs(docs, "text", "doc_id",
          verifyJaccard = Some(0.5)).select("id1", "id2"))
      // pairs(oldDocs) ≡ full ∩ (even, even): minhash signatures and
      // band keys are PER-DOC (corpus-independent), so the old half's
      // batch pair set is exactly the full set restricted to even ids —
      // derive it from the checkpointed full set instead of paying a
      // third sketch+band-join+verify pipeline (profiled 2.3 s of the
      // gate's 15.6 s at sf1; the subset-consistency property itself is
      // spec-pinned by DedupIncrementalSpec)
      val oldPairs = full.where(col("id1") % 2 === 0 && col("id2") % 2 === 0)
      try {
        val union = incr.unionByName(oldPairs).distinct()
        (full.exceptAll(union).count() == 0L) && (union.exceptAll(full).count() == 0L)
      } finally { freeI(); freeF() }
    }
    docs.agg(count(lit(1)).cast(LongType).as("n_docs"))
      .withColumn("consistent", lit(consistent))
  }
  val qDedupIncrementalSql: String =
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS consistent FROM documents"

  /** Substring-level dedup: 8-word sliding spans duplicated across ≥2
    * documents (Dedup.duplicatedSpans — the Lee-et-al. training-data op
    * whole-document dedup misses). Fully oracle-replayable: both sides
    * fingerprint with md5/16 over the identical span construction. */
  val qDupSpans: QFn = (s, d) =>
    Dedup.duplicatedSpans(documents(s, d), "text", "doc_id", window = 8)
      .orderBy("fp")
  val qDupSpansSql: String =
    """WITH t AS (SELECT doc_id,
      |  regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      |sp AS (SELECT doc_id,
      |  unnest(list_transform(generate_series(1, len(w) - 7),
      |    i -> substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16))) AS fp
      |  FROM t WHERE len(w) >= 8)
      |SELECT fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
      |  min(doc_id) AS keep_id
      |FROM sp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY fp""".stripMargin

  /** Per-document duplicated-span coverage (Dedup.spanDupRatio): the
    * quality-filter threshold signal on top of q_dup_spans. */
  val qDupSpanRatio: QFn = (s, d) =>
    Dedup.spanDupRatio(documents(s, d), "text", "doc_id", window = 8)
      .orderBy("doc_id")
  val qDupSpanRatioSql: String =
    """WITH t AS (SELECT doc_id,
      |  regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      |sp AS (SELECT doc_id,
      |  unnest(list_transform(generate_series(1, len(w) - 7),
      |    i -> substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16))) AS fp
      |  FROM t WHERE len(w) >= 8),
      |dup AS (SELECT fp FROM sp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2)
      |SELECT sp.doc_id, count(*) AS n_spans,
      |  CAST(sum(CASE WHEN dup.fp IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
      |  floor(sum(CASE WHEN dup.fp IS NULL THEN 0 ELSE 1 END)
      |    / CAST(count(*) AS DOUBLE) * 10000.0) / 10000.0 AS dup_ratio
      |FROM sp LEFT JOIN dup ON sp.fp = dup.fp
      |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin

  /** Embedding-cosine near-dups via hyperplane LSH at the PRODUCTION
    * pruned setting (bits=2 bucket, hamming prefilter). Value-gated:
    * the ±1 hyperplanes are data-independent (seeded splitmix64,
    * Hashing.hyperplanes), so the oracle inlines them as literals and
    * DuckDB replays the signature bit-for-bit — sign of a left-to-right
    * double dot-product, same accumulation order as Hashing.lshSig64 —
    * then the bucket/hamming candidate walls and the exact-cosine verify.
    * (Testdata max pairwise cosine ≈0.51, so threshold 0.35 yields
    * pairs.) */
  val qDedupEmbedding: QFn = (s, d) =>
    Dedup.embeddingNearDups(embeddings(s, d), "embedding", "vec_id",
      threshold = 0.35, bits = 2, dim = 64)
      .orderBy("id1", "id2")
  /** ±1 hyperplane rows as DuckDB VALUES literals, from the SAME
    * generator the engine uses (Hashing.hyperplanes) — a seed or dim
    * change updates engine and oracle together. The signature replay is
    * exact because the planes are data-independent and the sign decision
    * is a left-to-right double dot-product in both engines. */
  private def planeRows(bits: Int, seed: Long = 42L): String =
    Hashing.hyperplanes(bits, 64, seed).zipWithIndex.map { case (pl, p) =>
      s"($p, [${pl.map(x => if (x > 0) "1" else "-1").mkString(",")}]::DOUBLE[])"
    }.mkString(", ")

  val qDedupEmbeddingSql: String = {
    val vals = planeRows(64)
    val ham = Dedup.hammingLimit(0.35, slackBits = 4)
    s"""WITH planes(p, pl) AS (VALUES $vals),
       |sig AS (
       |  SELECT vec_id, embedding,
       |    string_agg(CASE WHEN list_sum(list_transform(list_zip(embedding, pl),
       |      z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY p) AS s
       |  FROM embeddings, planes GROUP BY vec_id, embedding),
       |cand AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    a.embedding AS v1, b.embedding AS v2
       |  FROM sig a JOIN sig b
       |    ON a.vec_id < b.vec_id
       |   AND substring(a.s, 1, 2) = substring(b.s, 1, 2)
       |   AND hamming(a.s, b.s) <= $ham),
       |p2 AS (
       |  SELECT id1, id2,
       |    list_sum(list_transform(list_zip(v1, v2), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(v1, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(v2, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM cand)
       |SELECT id1, id2, floor(cos * 10000.0) / 10000.0 AS cosine
       |FROM p2 WHERE cos >= 0.35 ORDER BY id1, id2""".stripMargin
  }

  /** Embedding near-dup recall, oracle-visible: DuckDB brute-forces the
    * exact cosine-≥0.35 pair count on the <150-id slice; the boolean
    * asserts the sig64+hamming-prefilter CORE recovered ≥60% of those
    * pairs (measured 0.96). Gated with bucket bits = 0: the bucket
    * partitioning that q_dedup_embedding adds on top is a recall/cost
    * scale knob (each bucket bit drops ~1-P(bit agrees) of borderline
    * pairs by design, calibrated in SimilaritySpec), not part of the
    * signature machinery this gate protects; slackBits=8 widens the
    * hamming window for the loose 0.35 threshold, where the ±σ≈4-bit
    * noise of a 64-bit sketch is proportionally larger than at the
    * production 0.95 threshold. */
  val qEmbedRecall: QFn = (s, d) => {
    val slice = embeddings(s, d).where(col("vec_id") < 150)
    val l = slice.select(col("vec_id").as("id1"), col("embedding").as("v1"))
    val r = slice.select(col("vec_id").as("id2"), col("embedding").as("v2"))
    val exact = l.crossJoin(r).where(col("id1") < col("id2"))
      .where(functions.VectorFunctions.cosine(col("v1"), col("v2")) >= 0.35)
      .select("id1", "id2")
    val near = Dedup.embeddingNearDups(slice, "embedding", "vec_id",
      threshold = 0.35, bits = 0, dim = 64, slackBits = 8)
      .select("id1", "id2").withColumn("hit", lit(1))
    exact.join(near, Seq("id1", "id2"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        when(count(lit(1)) === 0, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.6))
          .as("recall_ok"))
  }
  val qEmbedRecallSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150)
      |SELECT count(*) AS n_exact, TRUE AS recall_ok
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |  >= 0.35""".stripMargin

  /** Embedding near-dup at the degenerate-exact setting, VALUE-gated
    * (the q_ann_ivf_full / q_knn_lsh_exact pattern): bits = 0 puts every
    * row in the single LSH bucket and slackBits = 64 makes the hamming
    * prefilter vacuously true, so the three-stage pipeline — sig UDF,
    * slim candidate join, vector re-attach, codegen cosine — must emit
    * the exact all-pairs cosine-≥0.35 set, which DuckDB brute-forces.
    * [[qDedupEmbedding]] keeps the pruned production shape (rows-only),
    * with [[qEmbedRecall]] gating what the pruning is allowed to cost. */
  val qDedupEmbeddingExact: QFn = (s, d) =>
    Dedup.embeddingNearDups(embeddings(s, d).where(col("vec_id") < 150),
      "embedding", "vec_id", threshold = 0.35, bits = 0, dim = 64,
      slackBits = 64)
      .orderBy("id1", "id2")
  val qDedupEmbeddingExactSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
      |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT id1, id2, floor(cos * 10000.0) / 10000.0 AS cosine
      |FROM p WHERE cos >= 0.35 ORDER BY id1, id2""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * embedding near-dup pairs (deterministic LSH cells in place of the
    * paper's k-means — same role, batch-appendable) → connected
    * components → keep the min-id representative per semantic cluster.
    * The full composed pipeline is VALUE-gated: DuckDB replays the
    * inline-plane pair construction (qDedupEmbedding's oracle), a
    * recursive-CTE transitive closure (qDedupClusters' oracle), and the
    * survivor anti-join. */
  val qSemDedup: QFn = (s, d) => {
    val e = embeddings(s, d)
    val pairs = Dedup.embeddingNearDups(e, "embedding", "vec_id",
      threshold = 0.35, bits = 2, dim = 64).select("id1", "id2")
    val labels = Dedup.clusters(pairs)
    val dropped = labels.where(col("id") =!= col("cluster"))
      .select(col("id").as("vec_id"))
    e.select("vec_id").join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }
  val qSemDedupSql: String = {
    val vals = planeRows(64)
    val ham = Dedup.hammingLimit(0.35, slackBits = 4)
    s"""WITH RECURSIVE planes(p, pl) AS (VALUES $vals),
       |sig AS (
       |  SELECT vec_id, embedding,
       |    string_agg(CASE WHEN list_sum(list_transform(list_zip(embedding, pl),
       |      z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY p) AS s
       |  FROM embeddings, planes GROUP BY vec_id, embedding),
       |cand AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    a.embedding AS v1, b.embedding AS v2
       |  FROM sig a JOIN sig b
       |    ON a.vec_id < b.vec_id
       |   AND substring(a.s, 1, 2) = substring(b.s, 1, 2)
       |   AND hamming(a.s, b.s) <= $ham),
       |pr AS (
       |  SELECT id1, id2 FROM cand
       |  WHERE list_sum(list_transform(list_zip(v1, v2), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(v1, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(v2, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |    >= 0.35),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pr
       |          UNION SELECT id2, id1 FROM pr),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
       |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster)
       |ORDER BY vec_id""".stripMargin
  }

  /** n-gram Jaccard dedup: prefix-bucket candidates + exact shingle-set
    * Jaccard verify (fully SQL-replayable — shingles and set overlap are
    * string ops, no hashing involved). */
  val qDedupNgram: QFn = (s, d) =>
    Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
      n = 3, threshold = 0.4)
      .orderBy("id1", "id2")
  val qDedupNgramSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    array_to_string(w[1:least(3, len(w))], ' ') AS bucket,
      |    list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |      ELSE list_transform(generate_series(1, len(w)-2),
      |             i -> array_to_string(w[i:i+2], ' ')) END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |        FROM documents))
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |  floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      |    * 10000.0) / 10000.0 AS jaccard
      |FROM s a JOIN s b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4
      |ORDER BY id1, id2""".stripMargin

  /** Dedup clusters: connected components over the (deterministic,
    * SQL-replayable) n-gram Jaccard pairs — each doc labeled with the
    * min id of its transitive near-dup cluster (the canonical survivor).
    * Oracle: recursive-CTE transitive closure in DuckDB. */
  val qDedupClusters: QFn = (s, d) =>
    Dedup.clusters(Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
      n = 3, threshold = 0.4))
      .orderBy("id")
  val qDedupClustersSql: String =
    """WITH RECURSIVE p AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM (SELECT doc_id,
      |          array_to_string(w[1:least(3, len(w))], ' ') AS bucket,
      |          list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |            ELSE list_transform(generate_series(1, len(w)-2),
      |                   i -> array_to_string(w[i:i+2], ' ')) END) AS sh
      |        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |              FROM documents)) a
      |  JOIN (SELECT doc_id,
      |          array_to_string(w[1:least(3, len(w))], ' ') AS bucket,
      |          list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |            ELSE list_transform(generate_series(1, len(w)-2),
      |                   i -> array_to_string(w[i:i+2], ' ')) END) AS sh
      |        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |              FROM documents)) b
      |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4),
      |edges AS (SELECT id1 AS src, id2 AS dst FROM p
      |          UNION SELECT id2, id1 FROM p),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
      |SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** TF-IDF over the corpus (SURVEY §7 text analysis): term frequency ×
    * smoothed inverse document frequency, docs 0-99 scored against the
    * FULL corpus df. ln() is libm-identical across engines; floor-trunc
    * guards the last ulp. */
  val qTfidf: QFn = (s, d) => {
    val docs = documents(s, d)
    val tokens = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tokens.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .where(col("doc_id") < 100)
      .select(col("doc_id"), col("term"), col("tf"),
        (floor(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)) * lit(10000.0))
          / lit(10000.0)).as("tfidf"))
      .orderBy("doc_id", "term")
  }
  val qTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf,
      |  floor(tf * ln((n_docs + 1.0) / (df + 1.0)) * 10000.0) / 10000.0 AS tfidf
      |FROM tf JOIN dfreq USING (term), n
      |WHERE doc_id < 100
      |ORDER BY doc_id, term""".stripMargin

  /** Deterministic corpus shuffle + sharding (operators.Sampling
    * .shuffledShards): reproducible training order (md5 sort key) and
    * hex-prefix shard buckets — per-shard counts, order boundaries and
    * the first doc in reading order, all engine-replayable. */
  val qShuffleShards: QFn = (s, d) =>
    graft.operators.Sampling.shuffledShards(documents(s, d), "doc_id", 10)
      .groupBy(col("shard").cast(LongType).as("shard"))
      .agg(count(lit(1)).as("cnt"),
        min("ord").as("first_ord"), max("ord").as("last_ord"),
        min_by(col("doc_id"), col("ord")).as("first_doc"))
      .orderBy("shard")
  val qShuffleShardsSql: String =
    """WITH s AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ord,
      |    ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
      |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 10
      |      AS shard
      |  FROM documents)
      |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS cnt,
      |  min(ord) AS first_ord, max(ord) AS last_ord,
      |  arg_min(doc_id, ord) AS first_doc
      |FROM s GROUP BY 1 ORDER BY shard""".stripMargin

  /** Deterministic hash sampling (corpus downsampling that is stable
    * across runs AND engines — no RNG): keep keys whose md5 prefix falls
    * under the fraction. The engine's fast path is xxhash64
    * (operators.Sampling.byKeyHash, SamplingPackingSpec); this portable
    * md5 form is the oracle-checkable equivalent, ~25% of orders. */
  val qSampleHash: QFn = (s, d) =>
    orders(s, d)
      .where(substring(md5(col("o_orderkey").cast(StringType)), 1, 4) < "4000")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum38_2(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  val qSampleHashSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '4000'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Deterministic STRATIFIED sampling (operators.Sampling
    * .stratifiedByMd5): per-stratum keep fractions through the portable
    * md5-prefix rule — downsample finished orders hard, keep every
    * pending one (the corpus-rebalancing "data recipe" move, e.g.
    * downsample web text / keep all code). No RNG: both engines select
    * the IDENTICAL row set, so the gate checks the sample itself, not
    * just its size. */
  val qStratified: QFn = (s, d) =>
    operators.Sampling.stratifiedByMd5(orders(s, d), "o_orderstatus",
      "o_orderkey", Map("F" -> 0.25, "O" -> 0.5, "P" -> 1.0))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum38_2(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  val qStratifiedSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) <
      |  CASE o_orderstatus WHEN 'F' THEN '4000' WHEN 'O' THEN '8000'
      |       WHEN 'P' THEN 'g' ELSE '0000' END
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Persisted incremental ANN index (operators.Similarity.appendIndex
    * / queryIndex): the index is built in two batches (blind
    * append — cells are data-independent seeded hyperplanes) as a
    * cell-PARTITIONED parquet table, and the probe must return exactly
    * what the direct in-memory IVF returns over the same rows. The
    * consistency boolean is the gate; n_vecs anchors the oracle. */
  private val annIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val qAnnIndex: QFn = (s, d) => {
    val e = embeddings(s, d)
    val qv = probeVec(s, d, 42L)
    val bits = 4; val k = 10
    // index built once per sfDir per JVM (probeVec-style memoization):
    // re-invocations (bench min-of-N, verify) re-run the PROBE + the
    // consistency check against the same immutable index instead of
    // leaking one full index copy into /tmp per call
    val dir = annIndexCache.computeIfAbsent(d, { _ =>
      val t = Scratch.dir("graft_annidx")
      Similarity.appendIndex(e.where(col("vec_id") % 2 === 0), t, "embedding", bits)
      Similarity.appendIndex(e.where(col("vec_id") % 2 === 1), t, "embedding", bits)
      t
    })
    val viaIndex = Similarity.queryIndex(s, dir, "embedding", "vec_id", qv, k, bits)
    val direct = Similarity.ivfTopK(Similarity.withCell(e, "embedding", bits),
      "embedding", "vec_id", qv, k, bits)
    val consistent = viaIndex.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaIndex).count() == 0
    e.agg(count(lit(1)).cast(LongType).as("n_vecs"))
      .withColumn("consistent", lit(consistent))
  }
  val qAnnIndexSql: String =
    "SELECT CAST(count(*) AS BIGINT) AS n_vecs, TRUE AS consistent FROM embeddings"

  /** Deterministic fixed-size per-group sample (operators.Sampling
    * .topKPerGroup — the no-RNG reservoir): exactly k rows per stratum,
    * chosen by md5-rank of the key, identical in any engine. The gate
    * hashes the SAMPLED ROWS with their ranks, not counts. */
  val qReservoir: QFn = (s, d) =>
    operators.Sampling.topKPerGroup(orders(s, d), "o_orderstatus",
      "o_orderkey", k = 50)
      .select(col("o_orderstatus"), col("sample_rank").cast(IntegerType).as("sample_rank"),
        col("o_orderkey"))
      .orderBy("o_orderstatus", "sample_rank")
  val qReservoirSql: String =
    """SELECT o_orderstatus, CAST(sample_rank AS INTEGER) AS sample_rank, o_orderkey
      |FROM (SELECT o_orderstatus, o_orderkey,
      |        row_number() OVER (PARTITION BY o_orderstatus
      |          ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS sample_rank
      |      FROM orders)
      |WHERE sample_rank <= 50
      |ORDER BY o_orderstatus, sample_rank""".stripMargin

  /** Z-order (Morton) layout key (operators.Layout): one z-range
    * predicate selects a RECTANGLE in (partkey, suppkey) space —
    * z < 2^(2k) ⟺ both coordinates < 2^k — which is how a z-clustered
    * lake prunes files on either dimension. The gate replays the full
    * interleave arithmetic in DuckDB bit ops and hashes the selected
    * rows WITH their z-values, pinning the exact bit layout. */
  val qZorder: QFn = (s, d) => {
    // bits=31 (the 2-column max): zorder2 truncates inputs to `bits`
    // bits, so 16 would silently wrap l_partkey past sf≈0.3 (partkey
    // 65,600 ≡ 64 would sneak into the "rectangle"); 31 bits covers any
    // TPC-H scale the key generator can emit
    val z = operators.Layout.zorder2(col("l_partkey"), col("l_suppkey"), 31)
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), z.as("z"))
      .where(col("z") < 4096L) // ⟺ l_partkey < 64 AND l_suppkey < 64
      .orderBy("z", "l_orderkey", "l_linenumber")
  }
  val qZorderSql: String = {
    // linear-size stepwise replay of the magic-number dilation: each
    // ladder step is written once (a derived-table chain), so the SQL
    // stays readable and DuckDB evaluates each step once per row
    val inner = operators.Layout.zorder2SqlCte("lineitem", "l_partkey",
      "l_suppkey", 31,
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, z
       |FROM ($inner)
       |WHERE z < 4096
       |ORDER BY z, l_orderkey, l_linenumber""".stripMargin
  }

  /** Sequence packing (operators.Packing): greedy first-fit-decreasing
    * into 512-token bins per partition. Bin ASSIGNMENT is
    * partition-local, but the gate hashes what is invariant under any
    * partitioning: total docs and tokens (DuckDB replays both) plus two
    * in-query invariant booleans — every multi-doc bin respects the
    * budget (FFD never overfills a shared bin; only oversized singleton
    * docs may exceed it) and the bin count is ≥ the information-
    * theoretic lower bound ceil(tokens/budget). SamplingPackingSpec
    * keeps the tighter utilization assertions. */
  val qPackStats: QFn = (s, d) => {
    val packed = operators.Packing.packByTokenBudget(documents(s, d), "text", 512)
    packed.groupBy("bin_id")
      .agg(count(lit(1)).as("bin_docs"), sum("n_tokens").as("bin_tokens"))
      .agg(
        sum("bin_docs").cast(LongType).as("docs"),
        sum("bin_tokens").cast(LongType).as("tokens"),
        (max(when(col("bin_docs") >= 2, col("bin_tokens")).otherwise(lit(0L)))
          <= lit(512L)).as("budget_ok"),
        // lower bound over CAPPED bin tokens: an oversized singleton doc
        // legitimately exceeds the budget (see budget_ok), so the
        // information-theoretic bound is ceil(sum(min(bin_tokens, B))/B)
        // — the uncapped sum would overshoot the real bin count on
        // corpora with any doc longer than the budget
        (count(lit(1)) >= ceil(sum(least(col("bin_tokens"), lit(512L))) / lit(512.0)))
          .as("bins_lb_ok"))
  }
  val qPackStatsSql: String =
    """SELECT
      |  count(*) AS docs,
      |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS tokens,
      |  TRUE AS budget_ok,
      |  TRUE AS bins_lb_ok
      |FROM documents""".stripMargin

  // ----------------------------------------------------------- similarity
  /** Probe-vector fetch, memoized per (sfDir, id): the `.head()` is a
    * driver-side action that runs at DataFrame-BUILD time, so without
    * the cache every bench/verify invocation pays an extra full-table
    * scan inside the timed region (round-3 advice item). Semantics are
    * unchanged — the vector is immutable test data. */
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[Float]]()
  private def probeVec(s: SparkSession, d: String, id: Long): Seq[Float] =
    probeCache.computeIfAbsent((d, id), { _ =>
      embeddings(s, d).where(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0)
    })

  /** Brute-force cosine top-k ANN (oracle: explicit sequential-fold
    * cosine in DuckDB — bit-identical to the zip_with/aggregate fold). */
  val qAnnCosine: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    Similarity.bruteForceTopK(e.where(col("vec_id") =!= 0), "embedding", "vec_id", q, 20)
      .select(col("vec_id"), (floor(col("score") * lit(1000000.0)) / lit(1000000.0)).as("score"))
  }
  val qAnnCosineSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |c AS (SELECT vec_id,
      |  list_sum(list_transform(list_zip(embedding, qe),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, q WHERE vec_id <> 0)
      |SELECT vec_id, floor(cos * 1000000.0) / 1000000.0 AS score FROM c
      |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin

  /** ANN in randomly-PROJECTED space (Similarity.randomProject, seeded
    * ±1 sign matrix, 64→32): the wide-embedding preprocessing move —
    * 2× less vector weight through every downstream scan/shuffle. The
    * oracle regenerates the same projection from inline ±1 literals and
    * replays the float rounding, the projected cosine fold and the
    * top-k bit-for-bit. */
  val qAnnProjected: QFn = (s, d) => {
    val proj = Similarity.randomProject(embeddings(s, d), "embedding",
      dim = 64, outDim = 32)
    val q = Similarity.projectOne(probeVec(s, d, 0L), 64, 32)
    Similarity.bruteForceTopK(proj.where(col("vec_id") =!= 0), "proj",
        "vec_id", q.toSeq, 20)
      .select(col("vec_id"),
        (floor(col("score") * lit(1000000.0)) / lit(1000000.0)).as("score_p"))
  }
  private def projSqlCtes: String = {
    val vals = planeRows(32, seed = 7L)
    s"""planes(p, pl) AS (VALUES $vals),
       |proj AS (SELECT vec_id,
       |  list(CAST(list_sum(list_transform(list_zip(embedding, pl),
       |    z -> CAST(z[1] AS DOUBLE) * z[2])) AS FLOAT) ORDER BY p) AS pv
       |  FROM embeddings, planes GROUP BY vec_id, embedding),
       |q AS (SELECT pv AS qv FROM proj WHERE vec_id = 0),
       |pc AS (SELECT vec_id,
       |  list_sum(list_transform(list_zip(pv, qv),
       |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(pv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM proj, q WHERE vec_id <> 0)""".stripMargin
  }
  val qAnnProjectedSql: String =
    s"""WITH $projSqlCtes
       |SELECT vec_id, floor(cos * 1000000.0) / 1000000.0 AS score_p FROM pc
       |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin

  /** The production JL shape: projected-space SHORTLIST (top-200 on the
    * 32-d column — the cheap scan) then EXACT 64-d re-rank of the
    * shortlist to top-20, pinned against the exact top-20. Single-row
    * gate; the threshold is part of the shared formula, so both engines
    * agree by construction and the VALUE records the measured overlap.
    * Note the floor is set for THIS testdata's near-isotropic vectors
    * (the hardest case for JL ranking — real embedding corpora are
    * anisotropic and recall far better): measured 18/20 at sf0.01,
    * 12/20 at sf0.1. */
  val qAnnProjectedRecall: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q64 = probeVec(s, d, 0L)
    val exact = Similarity.bruteForceTopK(e.where(col("vec_id") =!= 0),
      "embedding", "vec_id", q64, 20).select("vec_id")
    val proj = Similarity.randomProject(e, "embedding", dim = 64, outDim = 32)
    val qp = Similarity.projectOne(q64, 64, 32)
    val shortlist = Similarity.bruteForceTopK(proj.where(col("vec_id") =!= 0),
      "proj", "vec_id", qp.toSeq, 200).select("vec_id")
    val rerank = Similarity.bruteForceTopK(e.join(shortlist, Seq("vec_id")),
      "embedding", "vec_id", q64, 20).select("vec_id")
    exact.join(rerank, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"),
        (count(lit(1)) >= 10).as("recall_ok"))
  }
  val qAnnProjectedRecallSql: String =
    s"""WITH $projSqlCtes,
       |short AS (SELECT vec_id FROM pc ORDER BY cos DESC, vec_id LIMIT 200),
       |eq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ec AS (SELECT vec_id,
       |  list_sum(list_transform(list_zip(embedding, qe),
       |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM embeddings, eq WHERE vec_id <> 0),
       |rtop AS (SELECT ec.vec_id FROM ec JOIN short USING (vec_id)
       |         ORDER BY ec.cos DESC, ec.vec_id LIMIT 20),
       |etop AS (SELECT vec_id FROM ec ORDER BY cos DESC, vec_id LIMIT 20)
       |SELECT CAST(count(*) AS BIGINT) AS n_overlap, count(*) >= 10 AS recall_ok
       |FROM rtop JOIN etop USING (vec_id)""".stripMargin

  /** IVF/LSH-bucketed approximate top-k (the 100 TB scale path of
    * q_ann_cosine: probe only cells within hamming ≤ nprobe of the query
    * cell — a partition-prunable fraction of the corpus). Value-gated at
    * the PRODUCTION nprobe=1 setting: the seeded hyperplane cells are
    * data-independent, so the oracle inlines the planes and DuckDB
    * replays cell assignment, the hamming-ball probe, and the cosine
    * top-k bit-for-bit (same replay as qDedupEmbeddingSql). */
  val qAnnIvf: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    val withCell = Similarity.withCell(e.where(col("vec_id") =!= 0), "embedding",
      bits = 2, dim = 64)
    Similarity.ivfTopK(withCell, "embedding", "vec_id", q, k = 10,
      bits = 2, nprobe = 1, dim = 64)
      .select(col("vec_id"),
        (floor(col("score") * lit(1000000.0)) / lit(1000000.0)).as("score"))
  }
  val qAnnIvfSql: String =
    s"""WITH planes(p, pl) AS (VALUES ${planeRows(2)}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |sig AS (
       |  SELECT vec_id, embedding,
       |    string_agg(CASE WHEN list_sum(list_transform(list_zip(embedding, pl),
       |      z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY p) AS s
       |  FROM embeddings, planes WHERE vec_id <> 0 GROUP BY vec_id, embedding),
       |qsig AS (
       |  SELECT string_agg(CASE WHEN list_sum(list_transform(list_zip(qv, pl),
       |      z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY p) AS s
       |  FROM q, planes),
       |c AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(list_zip(embedding, qv), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM sig, qsig, q WHERE hamming(sig.s, qsig.s) <= 1)
       |SELECT vec_id, floor(cos * 1000000.0) / 1000000.0 AS score FROM c
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** IVF at FULL probe width (nprobe = bits ⇒ the hamming ball reaches
    * every cell), VALUE-gated: the approximate path degenerates to exact
    * search, so the output must hash-match DuckDB's brute-forced top-10.
    * This gates the IVF *machinery* itself — the cell UDF must not drop
    * or duplicate a row, the `bit_count(xor) <= nprobe` predicate must be
    * inclusive at max radius, and per-cell scan + global top-k merge must
    * equal one flat top-k. [[qAnnIvf]] keeps the pruned nprobe=1
    * production shape (rows-only), with [[qAnnIvfRecall]] gating what
    * pruning is allowed to cost. */
  val qAnnIvfFull: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    val withCell = Similarity.withCell(e.where(col("vec_id") =!= 0), "embedding",
      bits = 2, dim = 64)
    Similarity.ivfTopK(withCell, "embedding", "vec_id", q, k = 10,
      bits = 2, nprobe = 2, dim = 64)
      .select(col("vec_id"),
        (floor(col("score") * lit(1000000.0)) / lit(1000000.0)).as("score"))
  }
  val qAnnIvfFullSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |c AS (SELECT vec_id,
      |  list_sum(list_transform(list_zip(embedding, qe),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, q WHERE vec_id <> 0)
      |SELECT vec_id, floor(cos * 1000000.0) / 1000000.0 AS score FROM c
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** Batch ANN: top-k per probe row via broadcast cross-join + window rank
    * (bulk side never shuffles; fully oracle-checkable). */
  /** IVF recall, oracle-visible: the exact cosine top-10 replays in
    * DuckDB; the boolean asserts the nprobe=1 IVF path (probe the query
    * cell + hamming-1 neighbors) recovered ≥60% of it (measured 8/10 at
    * both sf0.01 and sf0.1 — the missing pair sits in a hamming-2 cell,
    * which nprobe=2 recovers at proportionally higher scan cost). */
  val qAnnIvfRecall: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    val corpus = e.where(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", q, 10)
      .select("vec_id")
    val withCell = Similarity.withCell(corpus, "embedding", bits = 2, dim = 64)
    val ivf = Similarity.ivfTopK(withCell, "embedding", "vec_id", q, k = 10,
      bits = 2, nprobe = 1, dim = 64)
      .select("vec_id").withColumn("hit", lit(1))
    exact.join(ivf, Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        when(count(lit(1)) === 0, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.6))
          .as("recall_ok"))
  }
  val qAnnIvfRecallSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |c AS (SELECT vec_id,
      |  list_sum(list_transform(list_zip(embedding, qe),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, q WHERE vec_id <> 0),
      |t AS (SELECT vec_id FROM c ORDER BY cos DESC, vec_id LIMIT 10)
      |SELECT count(*) AS n_exact, TRUE AS recall_ok FROM t""".stripMargin

  /** Int8 scalar-quantized ANN top-k — the 100 TB memory/shuffle path:
    * unit-normalize, scale to ±127, store bytes (4× smaller than
    * float32), rank by exact INTEGER dot product (norms are all ≈127, so
    * the integer dot is a monotone cosine estimate and the scan needs no
    * float math). VALUE-gated, not rows-only: quantization is a fixed
    * IEEE op sequence (sequential-fold norm, then per-coordinate
    * `floor(x/‖v‖·127 + 0.5)`), so DuckDB replays the exact bytes and
    * the integer scores — not just the ranking — hash-match. */
  val qAnnQuantized: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    Similarity.quantizedTopK(e.where(col("vec_id") =!= 0), "embedding", "vec_id", q, 20)
  }
  val qAnnQuantizedSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |qn AS (SELECT qe,
      |  sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
      |  FROM q),
      |qq AS (SELECT list_transform(qe,
      |  x -> CAST(floor(CAST(x AS DOUBLE) / nq * 127.0 + 0.5) AS BIGINT)) AS qv FROM qn),
      |e AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings WHERE vec_id <> 0),
      |eq AS (SELECT vec_id, list_transform(embedding,
      |  x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 127.0 + 0.5) AS BIGINT)) AS ev FROM e),
      |c AS (SELECT vec_id,
      |  CAST(list_sum(list_transform(list_zip(ev, qv), p -> p[1] * p[2])) AS BIGINT) AS score_q
      |  FROM eq, qq)
      |SELECT vec_id, score_q FROM c ORDER BY score_q DESC, vec_id LIMIT 20""".stripMargin

  /** Quantization error bound, oracle-visible (same contract as
    * [[qAnnIvfRecall]]): the exact cosine top-10 replays in DuckDB; the
    * boolean asserts the int8 integer-dot ranking recovered ≥80% of it
    * (the ±1/254 per-coordinate error can only reorder near-ties). */
  val qAnnQuantizedRecall: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    val corpus = e.where(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", q, 10)
      .select("vec_id")
    val quant = Similarity.quantizedTopK(corpus, "embedding", "vec_id", q, 10)
      .select("vec_id").withColumn("hit", lit(1))
    exact.join(quant, Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        when(count(lit(1)) === 0, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.8))
          .as("recall_ok"))
  }
  val qAnnQuantizedRecallSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |c AS (SELECT vec_id,
      |  list_sum(list_transform(list_zip(embedding, qe),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, q WHERE vec_id <> 0),
      |t AS (SELECT vec_id FROM c ORDER BY cos DESC, vec_id LIMIT 10)
      |SELECT count(*) AS n_exact, TRUE AS recall_ok FROM t""".stripMargin

  // (gates below this line are the round-10 final-session additions)
  /** BM25 keyword retrieval (operators.Retrieval): top-20 docs for a
    * 3-term query. VALUE-gated — per-term contributions floor to integer
    * micro-points BEFORE the per-doc sum, so the score is exact integer
    * arithmetic on both sides (see Retrieval scaladoc); the constants
    * are written as the same foldable expressions ((1.2 + 1.0), (1.0 -
    * 0.75)) in both engines so they round identically. */
  val qBm25: QFn = (s, d) =>
    graft.operators.Retrieval.bm25(documents(s, d), "text", "doc_id",
      Seq("spark", "join", "filter"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20)
  val qBm25Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs,
      |                 (SELECT CAST(count(*) AS DOUBLE) FROM tok) AS tok_total),
      |qt AS (SELECT doc_id, term FROM tok
      |       WHERE term IN ('spark', 'join', 'filter')),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |          FROM qt GROUP BY 1),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    floor(ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
      |      * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
      |         / (CAST(tf AS DOUBLE)
      |            + 1.2 * ((1.0 - 0.75)
      |                     + 0.75 * (CAST(dl AS DOUBLE) / (tok_total / n_docs)))))
      |      * 1000000.0) AS micro
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats)
      |SELECT doc_id, count(*) AS matched, CAST(sum(micro) AS BIGINT) AS score_micro
      |FROM contrib GROUP BY doc_id
      |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin

  /** Batch BM25 (operators.Retrieval.bm25Batch): two queries scored in
    * ONE shared corpus pass (the per-(doc, term) contribution is
    * query-independent), top-5 per query. Same integer-micro
    * determinism contract as [[qBm25]]. */
  val qBm25Batch: QFn = (s, d) =>
    graft.operators.Retrieval.bm25Batch(documents(s, d), "text", "doc_id",
        Map("q_data" -> Seq("data", "table"),
          "q_sparkjoin" -> Seq("spark", "join", "filter")))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score_micro").desc, col("doc_id"))))
      .where(col("rn") <= 5).drop("rn")
      .orderBy("query_id", "doc_id")
  val qBm25BatchSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs,
      |                 (SELECT CAST(count(*) AS DOUBLE) FROM tok) AS tok_total),
      |qmap(query_id, term) AS (VALUES
      |  ('q_data', 'data'), ('q_data', 'table'),
      |  ('q_sparkjoin', 'spark'), ('q_sparkjoin', 'join'), ('q_sparkjoin', 'filter')),
      |qt AS (SELECT doc_id, term FROM tok
      |       WHERE term IN ('data', 'table', 'spark', 'join', 'filter')),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |          FROM qt GROUP BY 1),
      |contrib AS (
      |  SELECT tf.doc_id, tf.term,
      |    floor(ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
      |      * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
      |         / (CAST(tf AS DOUBLE)
      |            + 1.2 * ((1.0 - 0.75)
      |                     + 0.75 * (CAST(dl AS DOUBLE) / (tok_total / n_docs)))))
      |      * 1000000.0) AS micro
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats),
      |scored AS (SELECT query_id, doc_id, count(*) AS matched,
      |             CAST(sum(micro) AS BIGINT) AS score_micro
      |           FROM contrib JOIN qmap USING (term) GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_micro DESC, doc_id) AS rn FROM scored)
      |SELECT query_id, doc_id, matched, score_micro FROM r
      |WHERE rn <= 5 ORDER BY query_id, doc_id""".stripMargin

  /** Hybrid retrieval — reciprocal-rank fusion of the BM25 top-50 and
    * the dense cosine top-50 (operators.Retrieval.rrfFuse). Rank-based,
    * so no score calibration crosses the two lists; contributions are a
    * fixed two-term IEEE sum over integer ranks, floor-truncated to
    * micro-points — bit-replayable in DuckDB. */
  val qHybridRrf: QFn = (s, d) => {
    val lex = graft.operators.Retrieval.bm25(documents(s, d), "text",
        "doc_id", Seq("spark", "join", "filter"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id"))).as("rank"))
    val q = probeVec(s, d, 0L)
    val dense = Similarity.bruteForceTopK(
        embeddings(s, d).where(col("vec_id") =!= 0), "embedding", "vec_id",
        q, 50)
      .select(col("vec_id").as("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("vec_id"))).as("rank"))
    graft.operators.Retrieval.rrfFuse(Seq(lex, dense), "doc_id")
      .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)
  }
  val qHybridRrfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs,
      |                 (SELECT CAST(count(*) AS DOUBLE) FROM tok) AS tok_total),
      |qt AS (SELECT doc_id, term FROM tok
      |       WHERE term IN ('spark', 'join', 'filter')),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |          FROM qt GROUP BY 1),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    floor(ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
      |      * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
      |         / (CAST(tf AS DOUBLE)
      |            + 1.2 * ((1.0 - 0.75)
      |                     + 0.75 * (CAST(dl AS DOUBLE) / (tok_total / n_docs)))))
      |      * 1000000.0) AS micro
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats),
      |lexs AS (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
      |         FROM contrib GROUP BY doc_id),
      |lex AS (SELECT doc_id,
      |          row_number() OVER (ORDER BY score_micro DESC, doc_id) AS r_lex
      |        FROM (SELECT * FROM lexs ORDER BY score_micro DESC, doc_id LIMIT 50)),
      |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |cs AS (SELECT vec_id,
      |  list_sum(list_transform(list_zip(embedding, qe),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, qv WHERE vec_id <> 0),
      |den AS (SELECT vec_id AS doc_id,
      |          row_number() OVER (ORDER BY cos DESC, vec_id) AS r_dense
      |        FROM (SELECT * FROM cs ORDER BY cos DESC, vec_id LIMIT 50)),
      |f AS (SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
      |        coalesce(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0)
      |      + coalesce(1.0 / (60.0 + CAST(r_dense AS DOUBLE)), 0.0) AS s
      |      FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id)
      |SELECT doc_id, CAST(floor(s * 1000000.0) AS BIGINT) AS rrf_micro
      |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin

  /** k-means IVF ANN (operators.Similarity.ivfKmeansTopK): spherical
    * learned coarse quantizer over int8 cells, nprobe=4 of 8. Same
    * oracle contract as [[qAnnIvfRecall]]: DuckDB replays the exact
    * cosine top-10; the boolean asserts the learned-cell probe
    * recovered ≥60% of it (measured: a deterministic 0.7 at sf0.01 AND
    * sf0.1 — this corpus is near-uniform on the sphere, where recall ≈
    * probed fraction for ANY partitioner; the blob-corpus spec in
    * ClusteringSpec shows the concentration a structured corpus gets). */
  val qAnnIvfKmeans: QFn = (s, d) => {
    val e = embeddings(s, d)
    val q = probeVec(s, d, 0L)
    val corpus = e.where(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", q, 10)
      .select("vec_id")
    val ivf = Similarity.ivfKmeansTopK(corpus, "embedding", "vec_id", q,
        k = 10, cells = 8, nprobe = 4, iters = 2)
      .select("vec_id").withColumn("hit", lit(1))
    exact.join(ivf, Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        when(count(lit(1)) === 0, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.6))
          .as("recall_ok"))
  }
  val qAnnIvfKmeansSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |c AS (SELECT vec_id,
      |  list_sum(list_transform(list_zip(embedding, qe),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, q WHERE vec_id <> 0),
      |t AS (SELECT vec_id FROM c ORDER BY cos DESC, vec_id LIMIT 10)
      |SELECT count(*) AS n_exact, TRUE AS recall_ok FROM t""".stripMargin

  /** Int8 k-means (operators.Clustering): one Lloyd round from the
    * deterministic seed (quantized vectors of the 8 smallest ids),
    * per-cluster stats. All-integer end to end — quantization replays in
    * DuckDB (same op sequence as q_ann_quantized), distances and the
    * centroid floor-division update are exact integer arithmetic, so the
    * gate is hash-exact where float k-means could never be. The
    * multi-round engine path is spec-covered (ClusteringSpec). */
  val qKmeans: QFn = (s, d) =>
    graft.operators.Clustering.kmeansI8(embeddings(s, d), "embedding",
        "vec_id", k = 8, iters = 1)
      .groupBy(col("cluster").cast(LongType).as("cluster"))
      .agg(count(lit(1)).as("cnt"), sum("vec_id").as("sum_ids"),
        sum("dist_sq").as("sum_dist"))
      .orderBy("cluster")
  val qKmeansSql: String =
    """WITH e AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |q0 AS (SELECT vec_id, list_transform(embedding,
      |  x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 127.0 + 0.5) AS BIGINT)) AS qv FROM e),
      |qn AS (SELECT vec_id, qv,
      |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq FROM q0),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
      |         qv AS cv
      |       FROM (SELECT vec_id, qv FROM q0 ORDER BY vec_id LIMIT 8)),
      |cn0 AS (SELECT cid, cv,
      |  CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnsq FROM c0),
      |a1 AS (SELECT vec_id, qv, cid,
      |  nsq - 2 * CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS BIGINT) + cnsq AS dist
      |  FROM qn, cn0
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      |u1 AS (SELECT cid, unnest(generate_series(1, len(qv))) AS i, unnest(qv) AS v
      |       FROM a1),
      |s1 AS (SELECT cid, i,
      |         CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS nv
      |       FROM u1 GROUP BY 1, 2),
      |c1x AS (SELECT cid, list(nv ORDER BY i) AS cv FROM s1 GROUP BY cid),
      |c1 AS (SELECT c0.cid, coalesce(c1x.cv, c0.cv) AS cv
      |       FROM c0 LEFT JOIN c1x ON c0.cid = c1x.cid),
      |cn1 AS (SELECT cid, cv,
      |  CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnsq FROM c1),
      |a2 AS (SELECT vec_id, cid,
      |  nsq - 2 * CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS BIGINT) + cnsq AS dist
      |  FROM qn, cn1
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)
      |SELECT cid AS cluster, count(*) AS cnt,
      |  CAST(sum(vec_id) AS BIGINT) AS sum_ids,
      |  CAST(sum(dist) AS BIGINT) AS sum_dist
      |FROM a2 GROUP BY cid ORDER BY cluster""".stripMargin

  /** Persisted BM25 inverted index (operators.Retrieval.writeIndexBm25 /
    * appendIndexBm25 / queryIndexBm25): posting lists partitioned by
    * term-hash bucket (listing-time pruning), per-batch stats rows
    * summed on read (blind append, retry-neutral). Built in two batches;
    * VALUE-gated: the index-served top-20 must hash-match the same
    * DuckDB oracle as q_bm25 (shared microContrib IEEE sequence), and
    * RetrievalIndexSpec pins full index-vs-direct identity. */
  private val bm25IndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val qBm25Index: QFn = (s, d) => {
    val docs = documents(s, d)
    val dir = bm25IndexCache.computeIfAbsent(d, { _ =>
      val t = Scratch.dir("graft_bm25idx")
      graft.operators.Retrieval.appendIndexBm25(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id", t,
        batchId = "even")
      graft.operators.Retrieval.appendIndexBm25(
        docs.where(col("doc_id") % 2 === 1), "text", "doc_id", t,
        batchId = "odd")
      t
    })
    // the index-served top-20 must hash-match qBm25's ORACLE — a value
    // gate on the stored postings + summed stats (index-vs-direct
    // identity over the FULL result is RetrievalIndexSpec's job)
    graft.operators.Retrieval.queryIndexBm25(s, dir,
        "doc_id", Seq("spark", "join", "filter"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20)
  }
  val qBm25IndexSql: String = qBm25Sql

  /** Persisted LM count store (operators.NgramLm.appendCounts
    * / scoreWithStore): n-gram counts are additive, so the
    * store blind-appends batch by batch (per-batch rows, deduped by
    * batch_id and summed on read — retry-neutral). Built in two
    * batches; VALUE-gated: store-served per-doc scores must hash-match
    * the same DuckDB oracle as q_lm_score, and NgramLmStoreSpec pins
    * store-vs-fresh-train identity and replay neutrality. */
  private val lmStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val qLmStore: QFn = (s, d) => {
    val docs = documents(s, d)
    val train = docs.where(col("doc_id") % 10 < 8)
    val dir = lmStoreCache.computeIfAbsent(d, { _ =>
      val t = Scratch.dir("graft_lmstore")
      graft.operators.NgramLm.appendCounts(
        train.where(col("doc_id") % 3 === 0), "text", "doc_id", t,
        batchId = "b0")
      graft.operators.NgramLm.appendCounts(
        train.where(col("doc_id") % 3 =!= 0), "text", "doc_id", t,
        batchId = "b1")
      t
    })
    // store-served per-doc scores must hash-match the LM ORACLE (the
    // stored two-batch counts sum to the same training split the SQL
    // trains on) — a value gate over every doc; store-vs-direct
    // identity on the engine side is NgramLmStoreSpec's job
    graft.operators.NgramLm.scoreWithStore(s, docs, "text", "doc_id", dir)
      .orderBy("doc_id")
  }
  val qLmStoreSql: String = qLmScoreSql

  /** Persisted mergeable HLL sketch store (operators.SketchStore): each
    * batch writes per-group distinct sketches; estimates are a
    * sketch-union over (groups × batches) rows, never a corpus rescan.
    * The gate anchors the ORACLE on exact per-lang distinct counts
    * (DuckDB-replayable) and pins two in-query booleans: the merged
    * two-batch estimate EQUALS the one-shot sketch (register max is
    * partitioning-invariant) and lands within 5% of truth. */
  /** Mergeable heavy-hitters store (operators.FreqStore, the fourth
    * blind-append store): two-batch truncated top-50 token tables per
    * language, read back as exact [lo, hi] frequency intervals — the
    * DETERMINISTIC merge contract (integer sums over replayable
    * truncations), deliberately not a sketch estimate (the HLL lesson).
    * Gate emits each language's top-3 items by lower bound with both
    * bounds; the oracle replays the per-batch row_number truncation,
    * the threshold bookkeeping, and the interval arithmetic verbatim. */
  private val freqStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val qFreqStore: QFn = (s, d) => {
    val docs = documents(s, d)
    val dir = freqStoreCache.computeIfAbsent(d, { _ =>
      val t = Scratch.dir("graft_freq") + "/s"
      graft.operators.FreqStore.appendTopK(
        docs.where(col("doc_id") % 2 === 0)
          .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok")),
        "tok", "lang", t, k = 50, batchId = "even")
      graft.operators.FreqStore.appendTopK(
        docs.where(col("doc_id") % 2 === 1)
          .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok")),
        "tok", "lang", t, k = 50, batchId = "odd")
      t
    })
    val iv = graft.operators.FreqStore.intervals(s, dir)
    iv.withColumn("rn", row_number().over(Window.partitionBy("grp")
        .orderBy(col("lo").desc, col("item"))))
      .where(col("rn") <= 3)
      .select(col("grp").as("lang"), col("item"), col("lo"), col("hi"))
      .orderBy(col("lang"), col("lo").desc, col("item"))
  }
  val qFreqStoreSql: String =
    """WITH tok AS (
      |  SELECT lang AS grp, doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS item
      |  FROM documents),
      |cb AS (SELECT (doc_id % 2) AS b, grp, item, count(*) AS cnt
      |       FROM tok GROUP BY 1, 2, 3),
      |rk AS (SELECT b, grp, item, cnt,
      |    row_number() OVER (PARTITION BY b, grp ORDER BY cnt DESC, item) AS rn
      |  FROM cb),
      |items AS (SELECT b, grp, item, cnt FROM rk WHERE rn <= 50),
      |st AS (SELECT b, grp, cnt AS thresh FROM rk WHERE rn = 50),
      |ts AS (SELECT grp, sum(thresh) AS tsum FROM st GROUP BY 1),
      |pres AS (SELECT i.grp, i.item, CAST(sum(i.cnt) AS BIGINT) AS lo,
      |    sum(COALESCE(s.thresh, 0)) AS tpresent
      |  FROM items i LEFT JOIN st s ON s.b = i.b AND s.grp = i.grp
      |  GROUP BY 1, 2),
      |iv AS (SELECT p.grp, p.item, p.lo,
      |    CAST(p.lo + COALESCE(t.tsum, 0) - p.tpresent AS BIGINT) AS hi
      |  FROM pres p LEFT JOIN ts t ON t.grp = p.grp),
      |top AS (SELECT grp, item, lo, hi,
      |    row_number() OVER (PARTITION BY grp ORDER BY lo DESC, item) AS rn
      |  FROM iv)
      |SELECT grp AS lang, item, lo, hi FROM top WHERE rn <= 3
      |ORDER BY lang, lo DESC, item""".stripMargin

  private val sketchStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val qSketchStore: QFn = (s, d) => {
    val docs = documents(s, d)
    val dir = sketchStoreCache.computeIfAbsent(d, { _ =>
      val t = Scratch.dir("graft_hll") + "/s"
      graft.operators.SketchStore.appendDistinct(
        docs.where(col("doc_id") % 2 === 0), "text", "lang", t,
        batchId = "even")
      graft.operators.SketchStore.appendDistinct(
        docs.where(col("doc_id") % 2 === 1), "text", "lang", t,
        batchId = "odd")
      t
    })
    val merged = graft.operators.SketchStore.estimateDistinct(s, dir, "lang")
    val direct = graft.operators.SketchStore.distinctDirect(docs, "text", "lang")
      .withColumnRenamed("distinct_est", "direct_est")
    docs.groupBy("lang").agg(countDistinct("text").as("n_exact"))
      .join(merged, Seq("lang")).join(direct, Seq("lang"))
      .select(col("lang"), col("n_exact"),
        (abs(col("distinct_est") - col("n_exact")) <=
          greatest(lit(2L), floor(col("n_exact") * lit(0.05)))).as("est_ok"),
        // merged vs one-shot agree WITHIN sketch error, not bit-for-bit:
        // DataSketches HLL promotes sparse→dense at a coupon threshold
        // and the two paths can land in different modes (seen at sf0.1;
        // SketchStore scaladoc). The exact invariant — replayed batch is
        // a no-op — is spec-pinned in SketchStoreSpec.
        (abs(col("distinct_est") - col("direct_est")) <=
          greatest(lit(2L), floor(col("n_exact") * lit(0.05)))).as("merged_consistent"))
      .orderBy("lang")
  }
  val qSketchStoreSql: String =
    """SELECT lang, count(DISTINCT text) AS n_exact,
      |  TRUE AS est_ok, TRUE AS merged_consistent
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** DSIR importance weights (operators.Dsir — Xie et al. NeurIPS 2023):
    * hashed unigram+bigram bag models of a TARGET slice (source=src0)
    * vs the rest of the corpus, add-one smoothing over a 512-bucket
    * space, per-doc weight = order-free integer sum of fixed-point
    * per-bucket log-ratios. VALUE gate over EVERY document — DuckDB
    * replays the md5 feature hashing, the smoothed ratio arithmetic,
    * and the integer sums. */
  val qDsir: QFn = (s, d) => {
    // (round 15: a fused one-pass variant — one tokenize+hash pass into
    // a (doc, bucket, side) count table feeding both the ratio build
    // and the scoring — was implemented, proven value-identical, and
    // REJECTED with data: the per-(doc, bucket) aggregate shuffles a
    // near-feature-stream-sized table and its final aggregate runs once
    // per consumer, measured 6.0 vs 3.9 task-seconds against this split
    // form at sf0.1. The bucket-bounded two-pass shape stays.)
    val docs = documents(s, d)
    val ratios = graft.operators.Dsir.logRatios(
      docs.where(col("source") === "src0"),
      docs.where(col("source") =!= "src0"), "text", "doc_id", 512,
      portableHash = true)
    graft.operators.Dsir.importanceWeights(docs, "text", "doc_id", ratios,
        512, portableHash = true)
      .orderBy("doc_id")
  }
  private val dsirRatioCte: String =
    """d AS (SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |      FROM documents),
      |uni AS (SELECT doc_id, source, unnest(w) AS f FROM d),
      |bg0 AS (SELECT doc_id, source,
      |        list_transform(generate_series(1, len(w)-1),
      |          i -> w[i] || ' ' || w[i+1]) AS fs FROM d),
      |bi AS (SELECT doc_id, source, unnest(fs) AS f FROM bg0),
      |feat AS (SELECT doc_id, source,
      |         CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % 512 AS bucket
      |         FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      |ctt AS (SELECT bucket, count(*) AS ct FROM feat WHERE source = 'src0' GROUP BY 1),
      |crr AS (SELECT bucket, count(*) AS cr FROM feat WHERE source <> 'src0' GROUP BY 1),
      |tt AS (SELECT coalesce(sum(ct), 0) AS tt FROM ctt),
      |tr AS (SELECT coalesce(sum(cr), 0) AS tr FROM crr),
      |bk AS (SELECT unnest(generate_series(0, 511)) AS bucket),
      |lr AS (SELECT bk.bucket,
      |       CAST(floor((ln(CAST(coalesce(ctt.ct, 0) + 1 AS DOUBLE)
      |                      / CAST(tt.tt + 512 AS DOUBLE))
      |                 - ln(CAST(coalesce(crr.cr, 0) + 1 AS DOUBLE)
      |                      / CAST(tr.tr + 512 AS DOUBLE))) * 10000.0) AS BIGINT) AS lr_fp
      |       FROM bk LEFT JOIN ctt ON bk.bucket = ctt.bucket
      |                LEFT JOIN crr ON bk.bucket = crr.bucket, tt, tr),
      |wagg AS (SELECT f.doc_id, count(*) AS n_feats,
      |           CAST(sum(lr.lr_fp) AS BIGINT) AS w_fp
      |         FROM feat f JOIN lr ON f.bucket = lr.bucket GROUP BY 1),
      |wts AS (SELECT d.doc_id, coalesce(wagg.n_feats, 0) AS n_feats,
      |          coalesce(wagg.w_fp, 0) AS w_fp
      |        FROM d LEFT JOIN wagg ON d.doc_id = wagg.doc_id)""".stripMargin
  val qDsirSql: String =
    s"""WITH $dsirRatioCte
       |SELECT doc_id, n_feats, w_fp FROM wts ORDER BY doc_id""".stripMargin

  /** DSIR Gumbel top-k resampling (operators.Dsir.gumbelTopK): the
    * paper's without-replacement sampler with md5-seeded Gumbel noise
    * instead of RNG, so both engines (and any retry) select the
    * IDENTICAL 50 documents with identical perturbed keys. */
  val qDsirSample: QFn = (s, d) => {
    val docs = documents(s, d)
    val ratios = graft.operators.Dsir.logRatios(
      docs.where(col("source") === "src0"),
      docs.where(col("source") =!= "src0"), "text", "doc_id", 512,
      portableHash = true)
    val w = graft.operators.Dsir.importanceWeights(docs, "text", "doc_id",
      ratios, 512, portableHash = true)
    graft.operators.Dsir.gumbelTopK(w, "doc_id", 50, "dsir0")
  }
  val qDsirSampleSql: String =
    s"""WITH $dsirRatioCte,
       |gm AS (SELECT doc_id, w_fp,
       |  (CAST(CAST(('0x' || substring(md5('dsir0:' || CAST(doc_id AS VARCHAR)), 1, 15))
       |     AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u
       |  FROM wts)
       |SELECT doc_id,
       |  CAST(floor((CAST(w_fp AS DOUBLE) / 10000.0 + (-ln(-ln(u)))) * 1000000.0)
       |    AS BIGINT) AS key_micro
       |FROM gm ORDER BY key_micro DESC, doc_id LIMIT 50""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language
    * head/middle/tail tertiles of the stupid-backoff LM score
    * (operators.NgramLm) — the quality stratification step between LM
    * scoring and mixture sampling in a web-corpus pipeline. ntile is
    * rank-based (no float aggregation), the ordering key is a fixed
    * per-row IEEE division with doc_id tie-break, and the per-bucket
    * sums are integer — all DuckDB-replayable. */
  val qLmBuckets: QFn = (s, d) => {
    val docs = documents(s, d)
    val scored = graft.operators.NgramLm.score(docs, "text", "doc_id",
        col("doc_id") % 10 < 8)
      .where(col("n_bigrams") > 0)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val mean = col("lp_sum").cast("double") / col("n_bigrams").cast("double")
    scored.withColumn("bucket",
        ntile(3).over(Window.partitionBy("lang")
          .orderBy(mean.desc, col("doc_id"))).cast(LongType))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("tok_pairs"),
        sum("lp_sum").as("lp_total"))
      .orderBy("lang", "bucket")
  }
  val qLmBucketsSql: String =
    """WITH d AS (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |           FROM documents),
      |bg0 AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(w)-1),
      |          i -> struct_pack(w1 := w[i], w2 := w[i+1])) AS pairs FROM d),
      |bgu AS (SELECT doc_id, unnest(pairs) AS p FROM bg0),
      |bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bgu),
      |trtok AS (SELECT unnest(w) AS w FROM d WHERE doc_id % 10 < 8),
      |uni AS (SELECT w, count(*) AS c1 FROM trtok GROUP BY w),
      |ttl AS (SELECT count(*) AS t FROM trtok),
      |big AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 10 < 8
      |        GROUP BY w1, w2),
      |sc AS (SELECT bg.doc_id,
      |   CASE WHEN big.c2 IS NOT NULL THEN CAST(big.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
      |        ELSE (0.4 * CAST(coalesce(u2.c1, 1) AS DOUBLE)) / CAST(ttl.t AS DOUBLE) END AS p
      |   FROM bg LEFT JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
      |       LEFT JOIN uni u1 ON bg.w1 = u1.w
      |       LEFT JOIN uni u2 ON bg.w2 = u2.w, ttl),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |        CAST(sum(CAST(floor(ln(p)*10000.0) AS BIGINT)) AS BIGINT) AS lp_sum
      |        FROM sc GROUP BY doc_id),
      |bkt AS (SELECT d.lang, agg.n_bigrams, agg.lp_sum,
      |          ntile(3) OVER (PARTITION BY d.lang
      |            ORDER BY CAST(agg.lp_sum AS DOUBLE) / CAST(agg.n_bigrams AS DOUBLE) DESC,
      |                     agg.doc_id) AS bucket
      |        FROM agg JOIN d ON agg.doc_id = d.doc_id
      |        WHERE agg.n_bigrams > 0)
      |SELECT lang, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
      |  CAST(sum(n_bigrams) AS BIGINT) AS tok_pairs,
      |  CAST(sum(lp_sum) AS BIGINT) AS lp_total
      |FROM bkt GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** Quality-curriculum sampling — the step after bucketing: keep the
    * head bucket whole, downsample middle/tail (1.0 / 0.5 / 0.1), all
    * through the deterministic md5-prefix rule, so the SAMPLED TRAINING
    * SET is identical in any engine and on any retry. Composes
    * NgramLm.score → per-lang ntile(3) → Sampling.stratifiedByMd5;
    * the gate rolls the kept set up per (lang, bucket) with an id-sum
    * anchor so the oracle pins exactly WHICH docs survived. */
  val qCurriculum: QFn = (s, d) => {
    val docs = documents(s, d)
    val scored = graft.operators.NgramLm.score(docs, "text", "doc_id",
        col("doc_id") % 10 < 8)
      .where(col("n_bigrams") > 0)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val mean = col("lp_sum").cast("double") / col("n_bigrams").cast("double")
    val bucketed = scored.withColumn("bucket",
        ntile(3).over(Window.partitionBy("lang")
          .orderBy(mean.desc, col("doc_id"))).cast(LongType))
      .withColumn("b", col("bucket").cast("string"))
    graft.operators.Sampling.stratifiedByMd5(bucketed, "b", "doc_id",
        Map("1" -> 1.0, "2" -> 0.5, "3" -> 0.1))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
      .orderBy("lang", "bucket")
  }
  val qCurriculumSql: String =
    """WITH d AS (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |           FROM documents),
      |bg0 AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(w)-1),
      |          i -> struct_pack(w1 := w[i], w2 := w[i+1])) AS pairs FROM d),
      |bgu AS (SELECT doc_id, unnest(pairs) AS p FROM bg0),
      |bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bgu),
      |trtok AS (SELECT unnest(w) AS w FROM d WHERE doc_id % 10 < 8),
      |uni AS (SELECT w, count(*) AS c1 FROM trtok GROUP BY w),
      |ttl AS (SELECT count(*) AS t FROM trtok),
      |big AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 10 < 8
      |        GROUP BY w1, w2),
      |sc AS (SELECT bg.doc_id,
      |   CASE WHEN big.c2 IS NOT NULL THEN CAST(big.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
      |        ELSE (0.4 * CAST(coalesce(u2.c1, 1) AS DOUBLE)) / CAST(ttl.t AS DOUBLE) END AS p
      |   FROM bg LEFT JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
      |       LEFT JOIN uni u1 ON bg.w1 = u1.w
      |       LEFT JOIN uni u2 ON bg.w2 = u2.w, ttl),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |        CAST(sum(CAST(floor(ln(p)*10000.0) AS BIGINT)) AS BIGINT) AS lp_sum
      |        FROM sc GROUP BY doc_id),
      |bkt AS (SELECT agg.doc_id, d.lang,
      |          ntile(3) OVER (PARTITION BY d.lang
      |            ORDER BY CAST(agg.lp_sum AS DOUBLE) / CAST(agg.n_bigrams AS DOUBLE) DESC,
      |                     agg.doc_id) AS bucket
      |        FROM agg JOIN d ON agg.doc_id = d.doc_id
      |        WHERE agg.n_bigrams > 0),
      |kept AS (SELECT * FROM bkt
      |         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |           CASE bucket WHEN 1 THEN 'g' WHEN 2 THEN '8000' ELSE '1999' END)
      |SELECT lang, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM kept GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  val qAnnBatch: QFn = (s, d) => {
    val e = embeddings(s, d)
    val probes = e.where(col("vec_id") < 3)
    val corpus = e.where(col("vec_id") >= 3)
    Similarity.batchTopK(corpus, "embedding", "vec_id", probes, "embedding", "vec_id", 5)
      .select(col("probe_id"), col("vec_id"),
        (floor(col("score") * lit(1000000.0)) / lit(1000000.0)).as("score"))
      .orderBy("probe_id", "vec_id")
  }
  val qAnnBatchSql: String =
    """WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
      |           WHERE vec_id < 3),
      |c AS (SELECT probe_id, vec_id,
      |  list_sum(list_transform(list_zip(embedding, pe),
      |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings, p WHERE vec_id >= 3),
      |r AS (SELECT probe_id, vec_id, cos,
      |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn
      |  FROM c)
      |SELECT probe_id, vec_id, floor(cos * 1000000.0) / 1000000.0 AS score
      |FROM r WHERE rn <= 5 ORDER BY probe_id, vec_id""".stripMargin

  /** Embedding stats: dim + L2 norm per vector. */
  val qEmbedStats: QFn = (s, d) =>
    embeddings(s, d).select(
      col("vec_id"), col("label"),
      size(col("embedding")).cast(LongType).as("dim"),
      (floor(VectorFunctions.norm(col("embedding")) * lit(10000.0)) / lit(10000.0)).as("norm_r"))
      .orderBy("vec_id")
  val qEmbedStatsSql: String =
    """SELECT vec_id, label, len(embedding) AS dim,
      |  floor(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 10000.0) / 10000.0 AS norm_r
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** URL canonicalization + registered-domain extraction
    * (functions.UrlFunctions — codegen regexp/array algebra, no UDF):
    * the step between crawl fetch and every per-domain decision (the
    * PageRank authority join, domain sampling quotas, heavy-hitter
    * domains). URLs are synthesized closed-form from doc_id with messy
    * casing, default and non-default ports, utm tracking params, empty
    * paths, fragments, and two-level public suffixes, so the oracle
    * replays every canonicalization rule arithmetically. */
  val qUrlParse: QFn = (s, d) => {
    import graft.functions.UrlFunctions
    val id = col("doc_id")
    // tld cycle spans every PSL rule CLASS: plain 1/2-level (com, org,
    // co.uk, com.au), private-section (github.io), full-TLD wildcard
    // (*.ck), multi-level wildcard (*.kawasaki.jp), and a 3-level plain
    // rule (k12.ma.us); id%100==11 pins the exception rule (!www.ck) —
    // host www.ck must resolve to itself, beating the *.ck wildcard
    val tld = when(id % 8 === 0, lit("co.uk")).when(id % 8 === 1, lit("com"))
      .when(id % 8 === 2, lit("org")).when(id % 8 === 3, lit("com.au"))
      .when(id % 8 === 4, lit("github.io")).when(id % 8 === 5, lit("ck"))
      .when(id % 8 === 6, lit("kawasaki.jp")).otherwise(lit("k12.ma.us"))
    val hostPart = when(id % 100 === 11, lit("WWW.ck"))
      .otherwise(concat(lit("WWW.Site"), (id % 50).cast(StringType),
        lit("."), tld))
    val url = concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      hostPart,
      when(id % 5 === 0, lit(":80")).when(id % 5 === 1, lit(":8080"))
        .otherwise(lit("")),
      when(id % 3 === 0, lit("")).otherwise(concat(lit("/p/"),
        (id % 7).cast(StringType))),
      lit("?utm_source=x&id="), (id % 11).cast(StringType),
      when(id % 7 === 0, lit("&x=1")).otherwise(lit("")),
      when(id % 2 === 0, lit("#frag")).otherwise(lit("")))
    documents(s, d).select(id, url.as("u"))
      .select(col("doc_id"),
        UrlFunctions.canonical(col("u")).as("canon"),
        UrlFunctions.host(col("u")).as("host"),
        UrlFunctions.registeredDomain(UrlFunctions.host(col("u"))).as("reg_dom"),
        size(split(UrlFunctions.cleanQuery(col("u")), "&")).cast(LongType)
          .as("n_params"))
      .orderBy("doc_id")
  }
  val qUrlParseSql: String =
    """SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' || host
      |    || (CASE WHEN doc_id % 5 = 0 AND doc_id % 2 = 1 THEN ':80'
      |             WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN '/'
      |             ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END)
      |    || '?id=' || CAST(doc_id % 11 AS VARCHAR)
      |    || (CASE WHEN doc_id % 7 = 0 THEN '&x=1' ELSE '' END) AS canon,
      |  host,
      |  CASE WHEN doc_id % 100 = 11 THEN 'www.ck'
      |       WHEN doc_id % 8 IN (5, 6) THEN host
      |       ELSE 'site' || CAST(doc_id % 50 AS VARCHAR) || '.' || tld
      |  END AS reg_dom,
      |  CAST(CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_params
      |FROM (SELECT doc_id, tld,
      |        CASE WHEN doc_id % 100 = 11 THEN 'www.ck'
      |             ELSE 'www.site' || CAST(doc_id % 50 AS VARCHAR) || '.' || tld
      |        END AS host
      |      FROM (SELECT doc_id,
      |              CASE CAST(doc_id % 8 AS INTEGER) WHEN 0 THEN 'co.uk'
      |                   WHEN 1 THEN 'com' WHEN 2 THEN 'org'
      |                   WHEN 3 THEN 'com.au' WHEN 4 THEN 'github.io'
      |                   WHEN 5 THEN 'ck' WHEN 6 THEN 'kawasaki.jp'
      |                   ELSE 'k12.ma.us' END AS tld
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Per-domain quota sampling (UrlFunctions × Sampling.topKPerGroup —
    * the anti-SEO-spam cap every crawl pipeline applies): registered
    * domain from the synthesized URL, then the deterministic md5-ranked
    * top-3 per domain through the round-11 SALTED cap path, so the
    * salted prefilter itself is value-gated here (q_reservoir pins it on
    * orderstatus; this pins it on a 100-domain key with doc-scale
    * groups). Output is quota-bounded (≤ 3 rows × 100 domains) at any
    * sf. */
  val qDomainQuota: QFn = (s, d) => {
    import graft.functions.UrlFunctions
    val id = col("doc_id")
    val tld = when(id % 4 === 0, lit("co.uk")).when(id % 4 === 1, lit("com"))
      .when(id % 4 === 2, lit("org")).otherwise(lit("com.au"))
    val url = concat(lit("https://WWW.Site"), (id % 25).cast(StringType),
      lit("."), tld, lit("/p/"), (id % 7).cast(StringType))
    val docs = documents(s, d).select(id, url.as("u"))
      .withColumn("reg_dom",
        UrlFunctions.registeredDomain(UrlFunctions.host(col("u"))))
    graft.operators.Sampling.topKPerGroup(docs, "reg_dom", "doc_id", k = 3)
      .select(col("reg_dom"), col("sample_rank").cast(LongType).as("rank"),
        col("doc_id"))
      .orderBy("reg_dom", "rank")
  }
  val qDomainQuotaSql: String =
    """WITH t AS (SELECT doc_id,
      |  'site' || CAST(doc_id % 25 AS VARCHAR) || '.' ||
      |  (CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
      |        WHEN 2 THEN 'org' ELSE 'com.au' END) AS reg_dom
      |  FROM documents),
      |r AS (SELECT reg_dom, doc_id,
      |  row_number() OVER (PARTITION BY reg_dom
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
      |  FROM t)
      |SELECT reg_dom, CAST(rank AS BIGINT) AS rank, doc_id
      |FROM r WHERE rank <= 3 ORDER BY reg_dom, rank""".stripMargin

  /** Canonical-URL exact dedup (UrlFunctions.canonical × hash-groupBy —
    * the FIRST dedup a crawl pipeline runs): messy spellings collapse to
    * one canonical form (casing, fragments, utm-only queries — this URL
    * shape drops its whole query string, pinning the all-utm path at
    * gate level), duplicates group on it, the min-id canonical document
    * survives. Output is canonical-cardinality-bounded (≤ 300 rows). */
  val qDedupUrl: QFn = (s, d) => {
    import graft.functions.UrlFunctions
    val id = col("doc_id")
    val tld = when(id % 4 === 0, lit("co.uk")).when(id % 4 === 1, lit("com"))
      .when(id % 4 === 2, lit("org")).otherwise(lit("com.au"))
    val url = concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      lit("WWW.Site"), (id % 25).cast(StringType), lit("."), tld,
      when(id % 3 === 0, lit("")).otherwise(lit("/p")),
      lit("?utm_source=x&utm_medium=y#frag"))
    documents(s, d).select(id, UrlFunctions.canonical(url).as("canon"))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"),
        sum(id).as("ids_sum"))
      .orderBy("canon")
  }
  val qDedupUrlSql: String =
    """WITH t AS (SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://www.site'
      |  || CAST(doc_id % 25 AS VARCHAR) || '.'
      |  || (CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
      |        WHEN 2 THEN 'org' ELSE 'com.au' END)
      |  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '/p' END) AS canon
      |  FROM documents)
      |SELECT canon, CAST(count(*) AS BIGINT) AS n_dups,
      |  min(doc_id) AS keep_id, CAST(sum(doc_id) AS BIGINT) AS ids_sum
      |FROM t GROUP BY canon ORDER BY canon""".stripMargin

  /** The WHOLE curation pipeline as one operator (operators.Curation:
    * boilerplate strip → min-length on the cleaned text → canonical-URL
    * dedup among survivors → per-domain quota among survivors, each doc
    * getting keep + first-failing-stage reason). The oracle replays all
    * four stages in one SQL chain — per-line stopword algebra, token
    * counts, the survivor-scoped min-id canonical selection, and the
    * running-count-of-survivors domain rank — so the STAGE ORDER itself
    * is value-pinned (a dup group whose canonical doc was
    * length-rejected must fall to the next-smallest survivor). Output:
    * verdict histogram per source + kept-id anchors. */
  val qCurate: QFn = (s, d) => {
    import graft.operators.Curation
    val id = col("doc_id")
    val tld = when(id % 4 === 0, lit("co.uk")).when(id % 4 === 1, lit("com"))
      .when(id % 4 === 2, lit("org")).otherwise(lit("com.au"))
    val url = concat(lit("https://WWW.Site"), (id % 25).cast(StringType),
      lit("."), tld,
      when(id % 3 === 0, lit("")).otherwise(lit("/p")),
      lit("?utm_source=x"))
    val docs = documents(s, d).select(id, col("source"), col("text"),
      url.as("u"))
    Curation.curate(docs, "doc_id", "text", "u",
        minTokens = 30, domainCap = 2)
      .groupBy(col("source"), coalesce(col("reason"), lit("kept")).as("verdict"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id") * lit(100003L)).as("ids_hash"))
      .orderBy("source", "verdict")
  }
  val qCurateSql: String =
    """WITH t AS (SELECT doc_id, source, text,
      |  'site' || CAST(doc_id % 25 AS VARCHAR) || '.' ||
      |  (CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
      |        WHEN 2 THEN 'org' ELSE 'com.au' END) AS reg_dom,
      |  'https://site' || CAST(doc_id % 25 AS VARCHAR) || '.' ||
      |  (CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
      |        WHEN 2 THEN 'org' ELSE 'com.au' END)
      |  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '/p' END) AS canon
      |  FROM documents),
      |cl AS (SELECT *, COALESCE(array_to_string(
      |    list_filter(string_split(text, chr(10)), l ->
      |      len(list_filter(regexp_split_to_array(lower(trim(l)), '\s+'), w -> w <> '')) >= 4
      |      AND 20 * len(list_filter(regexp_split_to_array(lower(trim(l)), '\s+'),
      |                   w -> list_contains(['the','a','an','and','of','to','in','is','it','for'], w)))
      |          >= len(list_filter(regexp_split_to_array(lower(trim(l)), '\s+'), w -> w <> ''))),
      |    chr(10)), '') AS clean FROM t),
      |st AS (SELECT *,
      |  length(clean) = 0 AS bp_only,
      |  length(clean) > 0 AND
      |    (CASE WHEN length(trim(clean)) = 0 THEN 0
      |          ELSE len(regexp_split_to_array(trim(clean), '\s+')) END) < 30 AS too_short
      |  FROM cl),
      |dd AS (SELECT *,
      |  NOT bp_only AND NOT too_short AS len_pass,
      |  min(CASE WHEN NOT bp_only AND NOT too_short THEN doc_id END)
      |    OVER (PARTITION BY canon) AS canon_keep_id
      |  FROM st),
      |d2 AS (SELECT *, len_pass AND doc_id <> canon_keep_id AS dup_url FROM dd),
      |qq AS (SELECT *,
      |  sum(CASE WHEN len_pass AND NOT dup_url THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY reg_dom ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dom_rank
      |  FROM d2),
      |v AS (SELECT source, doc_id,
      |  CASE WHEN bp_only THEN 'boilerplate_only'
      |       WHEN too_short THEN 'too_short'
      |       WHEN dup_url THEN 'dup_url'
      |       WHEN len_pass AND NOT dup_url AND dom_rank > 2 THEN 'over_quota'
      |       ELSE 'kept' END AS verdict
      |  FROM qq)
      |SELECT source, verdict, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id * 100003) AS BIGINT) AS ids_hash
      |FROM v GROUP BY 1, 2 ORDER BY source, verdict""".stripMargin

  /** Curation served FROM the persisted staged store (operators.Curation
    * .writeStaged/curateFromStore): the corpus splits into two batches
    * appended blind (plus one batch REPLAYED under its batch_id — the
    * retry case, neutralized by read-side dedup), then every verdict is
    * served from the store without rescanning any batch's text. Shares
    * q_curate's oracle text verbatim: store-served == one-shot over the
    * union is the contract (the [[graft.operators.Graphs]] store
    * pattern). */
  val qCurateStore: QFn = (s, d) => {
    import graft.operators.Curation
    val id = col("doc_id")
    val tld = when(id % 4 === 0, lit("co.uk")).when(id % 4 === 1, lit("com"))
      .when(id % 4 === 2, lit("org")).otherwise(lit("com.au"))
    val url = concat(lit("https://WWW.Site"), (id % 25).cast(StringType),
      lit("."), tld,
      when(id % 3 === 0, lit("")).otherwise(lit("/p")),
      lit("?utm_source=x"))
    val docs = documents(s, d).select(id, col("source"), col("text"),
      url.as("u"))
    val dir = Scratch.dir("graft_curate_store") + "/s"
    Curation.writeStaged(docs.where(id % 2 === 0), "doc_id", "text", "u",
      dir, "b1")
    Curation.writeStaged(docs.where(id % 2 =!= 0), "doc_id", "text", "u",
      dir, "b2")
    Curation.writeStaged(docs.where(id % 2 =!= 0), "doc_id", "text", "u",
      dir, "b2") // retried batch: same batch_id, deduped on read
    Curation.curateFromStore(s, dir, "doc_id", minTokens = 30, domainCap = 2)
      .groupBy(col("source"), coalesce(col("reason"), lit("kept")).as("verdict"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id") * lit(100003L)).as("ids_hash"))
      .orderBy("source", "verdict")
  }
  val qCurateStoreSql: String = qCurateSql

  // ----------------------------------------------------------- multimodal
  /** Multimodal decode, REAL formats (round 11): synthesize genuine
    * BMP / WAV / Y4M payloads keyed by doc_id (real headers, real row
    * padding, real RIFF chunks, real FRAME markers), decode them through
    * the pure-JVM binary parsers, embed via the mapPartitions encoder.
    * The header fields remain closed-form arithmetic on doc_id — BMP
    * payload_bytes includes the 4-byte ROW PADDING formula
    * (floor((3w+3)/4)·4·h), so a codec that forgets the padding, reads
    * big-endian, or mis-walks a RIFF chunk breaks value parity. */
  /** Image near-dup pipeline END-TO-END (round 12): synthesized
    * known-structure BMPs (40 groups; group g's 6×6 block pattern is a
    * hash-derived 64/192 luma grid, each replica jittered by a ±2
    * triangle wave — real bytes, real row padding) → REAL pixel-loop
    * block-mean embedding ([[graft.operators.Multimodal
    * .embedImageBlocks]]: centered, unit-normalized) → the capped LSH
    * kNN pipeline ([[Similarity.selfTopKLsh]], corpus-sized bits, hot
    * cells take the sliding-window path at sf ≥ 0.1) → cosine
    * threshold → connected components ([[graft.operators.Dedup
    * .clusters]]). Geometry by construction: in-group cosine ≥ ~0.998
    * (jitter ⋘ pattern), cross-group ≤ ~0.7 (hash-random patterns), so
    * θ=0.9 recovers EXACTLY the 40 groups — the oracle is pure doc_id
    * arithmetic (cluster = min id of the group = g), yet the Spark side
    * must survive real decode, embed, bucketing, ranking and clustering
    * to match it. */
  /** Block-luma pattern for the media near-dup gate, shared with the
    * geometry spec (MultimodalSpec pins, for THIS fixed construction,
    * that every group's 8 jitter variants fall on the same side of all
    * 24 hyperplanes of all 8 LSH tables — so a group co-cells in every
    * table at every corpus size, and the gate's connectivity is proved,
    * not sampled). Per block: a hash bit picks the 64/192 base, a
    * hash offset in −3..3 breaks the value lattice (without it a ±1
    * plane is EXACTLY orthogonal to a bit-balanced pattern with
    * probability C(36,18)/2³⁶ ≈ 13%, and the antipodal ±2 triangle
    * jitter — jitter(r+4) = −jitter(r) — then splits the variants
    * deterministically: observed as 4-way group splits at sf0.1), and
    * the replica jitter has period 8 in r. */
  private[graft] def mediaGateLumas(g: Int, r: Int): Array[Int] =
    Array.tabulate(36) { b =>
      val bit = (Hashing.mix64(g.toLong * 131 + b) & 1L) == 1L
      val off = ((Hashing.mix64(g.toLong * 977 + b) & 0x7fffffffL) % 7).toInt - 3
      (if (bit) 192 else 64) + off + (math.abs((r + 3 * b) % 8 - 4) - 2)
    }

  /** Window-amp pattern for the AUDIO near-dup gate — the envelope
    * analog of [[mediaGateLumas]]: per window a hash bit picks the
    * 2000/6000 base amp, a hash offset in −3..3 breaks the value
    * lattice, and the period-8 replica jitter perturbs by ±2. Same
    * proven-geometry construction (MultimodalSpec pins co-celling of
    * all 8 variants per group under the exact pipeline arithmetic). */
  private[graft] def audioGateAmps(g: Int, r: Int): Array[Int] =
    Array.tabulate(16) { w =>
      val bit = (Hashing.mix64(g.toLong * 157 + w) & 1L) == 1L
      val off = ((Hashing.mix64(g.toLong * 1009 + w) & 0x7fffffffL) % 7).toInt - 3
      (if (bit) 6000 else 2000) + off + (math.abs((r + 3 * w) % 8 - 4) - 2)
    }

  /** Audio near-dup pipeline (the [[qMediaSemdedup]] shape for sound):
    * synthesized square-wave WAVs with known envelope structure — 40
    * groups × 8 gain-jitter variants — REAL-decoded, energy-envelope
    * embedded, clustered through the same capped LSH threshold graph.
    * SHARES the media gate's oracle text: identical group arithmetic
    * over the same documents table. */
  val qAudioSemdedup: QFn = (s, d) => {
    val groups = 40
    val mediaUdf = udf { (id: Long) =>
      graft.operators.Multimodal.wavWindows(64,
        audioGateAmps((id % groups).toInt, (id / groups % 8).toInt))
    }
    val base = documents(s, d).select(col("doc_id"))
    // bits from the PRE-decode row count (parquet-metadata cheap; embed
    // is a withColumn so rows are identical) — counting `emb` instead
    // would run the whole per-row media decode a second time just to
    // size the LSH table, a full extra pass over the corpus at 100 TB
    val nRows = base.count()
    val docs = base.withColumn("media", mediaUdf(col("doc_id")))
    // materialize the (id, vec) embeddings ONCE: selfTopKLsh reads its
    // input 3× (cell explode + two vector re-attaches — distinct plan
    // subtrees, no exchange reuse), and every read upstream of this
    // point re-runs the WAV decode+embed UDF, the gate's dominant cost
    // (round 15; guide §8 — decode once, re-read the tiny vectors)
    val emb = graft.operators.Dedup.checkpointTracked(
      graft.operators.Multimodal.embedAudioWindows(docs, "media")
        .select(col("doc_id"), col("win_emb")))._1
    val pairs = Similarity.selfTopKLsh(emb, "win_emb", "doc_id",
      k = Int.MaxValue, bits = Similarity.lshBitsFor(nRows), tables = 8,
      dim = 16, maxCell = 48, hotWindow = 8, nRowsHint = nRows)
      .where(col("score") >= 0.9)
      .select(col("id1"), col("id2"))
    graft.operators.Dedup.clusters(pairs)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("ids_sum"))
      .orderBy("cluster")
  }

  /** Frame levels for the video near-dup gate: base scene `sc` of group
    * `g` is a constant-byte frame at a level in 10..137; variant `r`
    * replaces scene r's frame with a jitter level in 140..251 — DISJOINT
    * ranges, so two variants of a group share exactly their untouched
    * base frames (J = 6/10 = 0.6 on distinct levels) while cross-group
    * overlap is bounded by rare level collisions (J ≤ ~0.2). The spec
    * proves connectivity and separation for this fixed construction. */
  private[graft] def videoBaseLevel(g: Int, sc: Int): Int =
    ((Hashing.mix64(g.toLong * 997 + sc) & 0x7f) + 10).toInt
  private[graft] def videoJitLevel(g: Int, r: Int): Int =
    ((Hashing.mix64(g.toLong * 1013 + r + 7777) & 0x6f) + 140).toInt

  /** Frame-level video COPY detection (re-uploads / clipped compilations
    * share frames): per-frame md5 fingerprints
    * (Multimodal.frameHashes) become a space-joined "document" that the
    * TEXT dedup machinery ingests unchanged — minhash bands over frame
    * unigrams, exact frame-set-Jaccard verification, connected
    * components. No video-specific similarity engine: the composition IS
    * the operator. SHARES the media gate's 40-group oracle. */
  val qVideoSemdedup: QFn = (s, d) => {
    val groups = 40
    val mediaUdf = udf { (id: Long) =>
      val g = (id % groups).toInt
      val r = ((id / groups) % 8).toInt
      graft.operators.Multimodal.y4mScenes(8, 8, scenes = 8,
        framesPerScene = 1,
        level = sc =>
          if (sc == r) Queries.videoJitLevel(g, r)
          else Queries.videoBaseLevel(g, sc))
    }
    val docs = documents(s, d).select(col("doc_id"))
      .withColumn("media", mediaUdf(col("doc_id")))
    // decode-once (round 15): fh is consumed by the rep aggregation,
    // by minhashPairs AND by the final inheritance join — three
    // distinct plan subtrees, each re-running the per-video frame-hash
    // decode UDF. One eager checkpoint of the (id, fingerprint-text)
    // frame (bytes per video, not per frame) runs the decode once.
    val fh = graft.operators.Dedup.checkpointTracked(
      graft.operators.Multimodal.frameHashes(docs, "media")
        .select(col("doc_id"),
          array_join(col("frame_hashes"), " ").as("fh_text")))._1
    // the scale-safe shape (probe-proven): collapse byte-identical
    // fingerprint sequences FIRST — replicas of one upload are exact
    // dups whose all-pairs candidates would otherwise grow with replica
    // count — then near-dup only the distinct representatives and let
    // every doc inherit its representative's component
    val reps = fh.groupBy("fh_text").agg(min("doc_id").as("rep_id"))
    val pairs = Dedup.minhashPairs(
      reps.select(col("rep_id").as("doc_id"), col("fh_text")),
      "fh_text", "doc_id", shingleSize = 1, bands = 16, rowsPerBand = 2,
      verifyJaccard = Some(0.5))
    val comps = graft.operators.Dedup.clusters(pairs.select("id1", "id2"))
    fh.join(reps, Seq("fh_text"))
      .join(comps.withColumnRenamed("id", "rep_id"), Seq("rep_id"), "left")
      .groupBy(coalesce(col("cluster"), col("rep_id")).as("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("doc_id")).as("ids_sum"))
      .orderBy("cluster")
  }

  /** TRANSCODE-robust video near-dup (round 13, the headline video
    * gate): every variant is a full RE-ENCODE — EVERY block of EVERY
    * frame carries the variant's ±2 level jitter, so no two variants
    * share a single frame md5 (MultimodalSpec pins the hash sets
    * disjoint) and [[qVideoSemdedup]]'s copy detection finds nothing.
    * The robust path: REAL Y4M decode → per-frame block-mean luma
    * embeddings (Multimodal.embedVideoFrameBlocks — the image kernel
    * per frame) → the SAME capped selfTopKLsh machinery → frame matches
    * roll up to video pairs by matched-frame count (≥4 of 6, so one
    * accidental frame collision can't merge groups) → connected
    * components. Frame f of group g is the proven-geometry pattern
    * mediaGateLumas(g·16+f, r): the spec proves, per (g, f), that all 8
    * re-encodes co-cell in some table chain and that cross-group videos
    * can't reach the match threshold — the oracle is the same 40-group
    * arithmetic the image/audio gates share. */
  val qVideoSemdedupRobust: QFn = (s, d) => {
    val groups = 40
    val nFrames = 6
    val mediaUdf = udf { (id: Long) =>
      val g = (id % groups).toInt
      val r = ((id / groups) % 8).toInt
      val pats = Array.tabulate(nFrames)(f => Queries.mediaGateLumas(g * 16 + f, r))
      graft.operators.Multimodal.y4mBlockLuma(24, 24, 6, 6, nFrames,
        (f, b) => pats(f)(b))
    }
    val base = documents(s, d).select(col("doc_id"))
    // bits from the pre-decode count × frames-per-video (the LSH table
    // holds frame rows); one decode pass, not two
    val nRows = base.count()
    val docs = base.withColumn("media", mediaUdf(col("doc_id")))
    val frames = graft.operators.Multimodal.embedVideoFrameBlocks(docs, "media")
      .select(col("doc_id"), explode(col("frame_embs")).as("fe"))
      .select(col("doc_id"), col("fe.frame_idx").as("frame_idx"),
        col("fe.emb").as("femb"))
    val pairs = graft.operators.Multimodal.videoNearDupPairs(frames,
      "doc_id", "frame_idx", "femb",
      bits = Similarity.lshBitsFor(nRows * nFrames), tables = 8, dim = 36,
      tau = 0.9, minMatchedFrames = 4, nRowsHint = nRows * nFrames)
      .select("id1", "id2")
    graft.operators.Dedup.clusters(pairs)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("ids_sum"))
      .orderBy("cluster")
  }

  /** SCENE-sampled transcode-robust video near-dup — the long-video
    * production shape ([[qVideoSemdedupRobust]] embeds every frame;
    * here a 12-frame video embeds its 6 scene REPRESENTATIVES, found
    * and embedded in ONE decode pass by
    * Multimodal.embedVideoSceneFrames using videoScenes' exact-integer
    * cut rule). The construction: 6 scenes × 2 frames, scene s of
    * group g carrying the proven pattern mediaGateLumas(g·16+s, r) on
    * BOTH its frames — within a scene Σ|Δ| = 0 (identical bytes),
    * across scenes the spec proves every boundary clears the cut
    * threshold for every variant, so scene ordinals align across
    * re-encodes and the scene embeddings are EXACTLY the robust gate's
    * proven frame vectors. Shares the 40-group media oracle. */
  val qVideoSceneSemdedup: QFn = (s, d) => {
    val groups = 40
    val nScenes = 6
    val fps = 2 // frames per scene
    val mediaUdf = udf { (id: Long) =>
      val g = (id % groups).toInt
      val r = ((id / groups) % 8).toInt
      val pats = Array.tabulate(nScenes)(sc => Queries.mediaGateLumas(g * 16 + sc, r))
      graft.operators.Multimodal.y4mBlockLuma(24, 24, 6, 6, nScenes * fps,
        (f, b) => pats(f / fps)(b))
    }
    val base = documents(s, d).select(col("doc_id"))
    val nRows = base.count()
    val docs = base.withColumn("media", mediaUdf(col("doc_id")))
    val scenes = graft.operators.Multimodal.embedVideoSceneFrames(docs, "media")
      .select(col("doc_id"), explode(col("scene_embs")).as("se"))
      .select(col("doc_id"), col("se.scene_idx").as("scene_idx"),
        col("se.emb").as("semb"))
    val pairs = graft.operators.Multimodal.videoNearDupPairs(scenes,
      "doc_id", "scene_idx", "semb",
      bits = Similarity.lshBitsFor(nRows * nScenes), tables = 8, dim = 36,
      tau = 0.9, minMatchedFrames = 4, nRowsHint = nRows * nScenes)
      .select("id1", "id2")
    graft.operators.Dedup.clusters(pairs)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("ids_sum"))
      .orderBy("cluster")
  }

  /** Scene patterns for the BORDERLINE scene gate: scenes ≠ 3 carry the
    * proven [[mediaGateLumas]] patterns (their boundaries clear the cut
    * threshold with margin — spec-proven for the scene gate); scene 3
    * is scene 2 plus a CONCENTRATED four-block delta whose summed
    * magnitude is EXACTLY the cut threshold for odd variants (strict >
    * fails — no cut, scene 3 merges into scene 2 and its content never
    * embeds) and ONE LUMA LEVEL over it for even variants (cut fires).
    * Concentration matters twice: it keeps every value clamp-free
    * (+186/+100 on low-base blocks, −180/−110 on high-base), and it
    * pushes scene 3's centered-cosine vs scene 2 BELOW τ (≈0.7), so
    * the merged-away representative is a GENUINE lost match — a
    * uniform +16 delta would embed scene 3 identically to scene 2 and
    * lose nothing. MultimodalSpec proves the flip, the clamp-freedom,
    * the one-lost-match arithmetic and the cross-group separation for
    * this fixed construction. */
  private[graft] def borderlineSceneLumas(g: Int, sc: Int, r: Int): Array[Int] = {
    if (sc != 3) mediaGateLumas(g * 16 + sc, r)
    else {
      val p2 = mediaGateLumas(g * 16 + 2, r)
      val out = p2.clone()
      val lows = (0 until 36).filter(b => p2(b) < 128)
      val highs = (0 until 36).filter(b => p2(b) >= 128)
      out(lows(0)) += 186
      out(lows(1)) += 100
      out(highs(0)) -= 180
      out(highs(1)) -= (if (r % 2 == 0) 111 else 110) // Σ|d| = 577 / 576
      out
    }
  }

  /** Scene-sampled near-dup with a deliberately BORDERLINE boundary —
    * the shape the scene gate's old in-code failure paragraph worried
    * about, now handled instead of documented: odd variants lose the
    * scene-2→3 cut (rep count 5), even variants keep it (6), so an
    * absolute match threshold of 6 would disconnect every odd variant
    * (their scene-3 content genuinely never embeds — spec-proven one
    * lost match, no cascade). `minMatchedFrac = 0.75` adapts the
    * threshold to each pair's thinner side (6↔6 needs 5, anything
    * touching a 5-rep video needs 4) while cross-group pairs stay under
    * 4 matches (spec-proven), so the 40-group oracle holds. */
  val qVideoSceneBorderline: QFn = (s, d) => {
    val groups = 40
    val nScenes = 6
    val fps = 2
    val mediaUdf = udf { (id: Long) =>
      val g = (id % groups).toInt
      val r = ((id / groups) % 8).toInt
      val pats = Array.tabulate(nScenes)(sc => Queries.borderlineSceneLumas(g, sc, r))
      graft.operators.Multimodal.y4mBlockLuma(24, 24, 6, 6, nScenes * fps,
        (f, b) => pats(f / fps)(b))
    }
    val base = documents(s, d).select(col("doc_id"))
    val nRows = base.count()
    val docs = base.withColumn("media", mediaUdf(col("doc_id")))
    val scenes = graft.operators.Multimodal.embedVideoSceneFrames(docs, "media")
      .select(col("doc_id"), explode(col("scene_embs")).as("se"))
      .select(col("doc_id"), col("se.scene_idx").as("scene_idx"),
        col("se.emb").as("semb"))
    val pairs = graft.operators.Multimodal.videoNearDupPairs(scenes,
      "doc_id", "scene_idx", "semb",
      bits = Similarity.lshBitsFor(nRows * nScenes), tables = 8, dim = 36,
      tau = 0.9, minMatchedFrames = 3, minMatchedFrac = 0.75,
      nRowsHint = nRows * nScenes)
      .select("id1", "id2")
    graft.operators.Dedup.clusters(pairs)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("ids_sum"))
      .orderBy("cluster")
  }

  val qMediaSemdedup: QFn = (s, d) => {
    val groups = 40
    val mediaUdf = udf { (id: Long) =>
      graft.operators.Multimodal.bmpBlockLuma(24, 24, 6, 6,
        mediaGateLumas((id % groups).toInt, (id / groups % 8).toInt))
    }
    val base = documents(s, d).select(col("doc_id"))
    // bits from the PRE-decode count (see qAudioSemdedup): one decode
    // pass, not two
    val nRows = base.count()
    val docs = base.withColumn("media", mediaUdf(col("doc_id")))
    // decode-once (round 15): see qAudioSemdedup — selfTopKLsh reads
    // the embeddings 3×, and each lazy read re-runs the BMP decode+
    // embed UDF; one eager checkpoint of the tiny (id, vec) frame
    val emb = graft.operators.Dedup.checkpointTracked(
      graft.operators.Multimodal.embedImageBlocks(docs, "media")
        .select(col("doc_id"), col("block_emb")))._1
    // k = unbounded: dedup wants the THRESHOLD graph (every pair ≥ τ),
    // not a kNN cut — same-variant replicas are exact duplicates that
    // score 1.0 and would fill any small k before the 0.999 cross-variant
    // links that keep the component whole (observed: k=16 split each
    // group into its jitter-variant classes at sf0.1). Candidate volume
    // is already bounded by maxCell/hotWindow, so "all pairs" is the
    // window-capped candidate set, not O(n²).
    val pairs = Similarity.selfTopKLsh(emb, "block_emb", "doc_id",
      k = Int.MaxValue, bits = Similarity.lshBitsFor(nRows), tables = 8,
      dim = 36, maxCell = 48, hotWindow = 8, nRowsHint = nRows)
      .where(col("score") >= 0.9)
      .select(col("id1"), col("id2"))
    graft.operators.Dedup.clusters(pairs)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("ids_sum"))
      .orderBy("cluster")
  }
  /** INCREMENTAL media near-dup via the persisted store
    * ([[graft.operators.NearDupStore]]) — the 100 TB media workflow:
    * batch 1 is decoded+embedded ONCE and its (id, cellkey)/(id, vec)
    * index written; when batch 2 lands it embeds ONLY ITSELF, appends
    * blind, and pairs against all of history
    * from the store index — no batch-1 payload byte is re-decoded
    * (structurally: the incremental leg's plan reads only store
    * parquet; batch 1's media UDF exists only upstream of its one
    * write). Shares qMediaSemdedup's 40-group proven-geometry oracle:
    * store-served old-pairs ∪ incremental == one-shot clusters is the
    * [[graft.operators.NearDupStore]] equivalence contract. */
  val qMediaDedupIncremental: QFn = (s, d) => {
    val groups = 40
    val mediaUdf = udf { (id: Long) =>
      graft.operators.Multimodal.bmpBlockLuma(24, 24, 6, 6,
        mediaGateLumas((id % groups).toInt, (id / groups % 8).toInt))
    }
    val base = documents(s, d).select(col("doc_id"))
    val nRows = base.count()
    // bits sized for the FULL anticipated corpus (store params are
    // fixed at creation; cells only densify as batches land)
    val bits = Similarity.lshBitsFor(nRows)
    val dir = Scratch.dir("graft_media_store") + "/s"
    def embedBatch(b: DataFrame): DataFrame =
      graft.operators.Multimodal.embedImageBlocks(
        b.withColumn("media", mediaUdf(col("doc_id"))), "media")
        .select(col("doc_id"), col("block_emb"))
    NearDupStore.write(embedBatch(base.where(col("doc_id") % 2 === 0)),
      "block_emb", "doc_id", dir, "b1", bits, tables = 8, dim = 36)
    val pairs1 = NearDupStore.pairs(s, dir, tau = 0.9, maxCell = 48,
      hotWindow = 8, batches = Some(Seq("b1")))
    // (a RETRIED batch — same batch_id appended twice — is pinned
    // neutral by NearDupStoreSpec; replaying it here would re-run a
    // full media decode just to exercise a read-side dropDuplicates)
    NearDupStore.write(embedBatch(base.where(col("doc_id") % 2 =!= 0)),
      "block_emb", "doc_id", dir, "b2", bits, tables = 8, dim = 36)
    val inc = NearDupStore.pairs(s, dir, tau = 0.9, maxCell = 48,
      hotWindow = 8, newBatchId = Some("b2"))
    graft.operators.Dedup.clusters(
      pairs1.select("id1", "id2").unionAll(inc.select("id1", "id2"))
        .distinct())
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("ids_sum"))
      .orderBy("cluster")
  }

  val qMediaSemdedupSql: String =
    """SELECT CAST(doc_id % 40 AS BIGINT) AS cluster,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(sum(doc_id) AS BIGINT) AS ids_sum
      |FROM documents GROUP BY 1 ORDER BY cluster""".stripMargin

  val qMultimodal: QFn = (s, d) => {
    val mediaUdf = udf { (id: Long) =>
      val m = graft.operators.Multimodal
      (id % 3) match {
        case 0 => m.bmpMedia(16 + (id % 8).toInt, 8 + (id % 4).toInt, id)
        case 1 => m.wavMedia(8000 + (id % 100).toInt, 1 + (id % 2).toInt,
          32 + (id % 16).toInt, id)
        case _ => m.y4mMedia(8 + (id % 4).toInt, 6 + (id % 2).toInt,
          2 + (id % 3).toInt, id)
      }
    }
    val docs = documents(s, d).select(col("doc_id"))
      .withColumn("media", mediaUdf(col("doc_id")))
    val withMeta = graft.operators.Multimodal.withMediaMeta(docs, "media")
    val withEmb = graft.operators.Multimodal.embedMedia(withMeta, "media", dim = 8)
    withEmb.select(
      col("doc_id"), col("meta.media_type").as("media_type"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.payload_bytes").as("payload_bytes"),
      size(col("embedding")).cast(LongType).as("dim"))
      .orderBy("doc_id")
  }
  val qMultimodalSql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CASE CAST(doc_id % 3 AS INTEGER)
      |       WHEN 0 THEN CAST(16 + doc_id % 8 AS INTEGER)
      |       WHEN 1 THEN CAST(8000 + doc_id % 100 AS INTEGER)
      |       ELSE CAST(8 + doc_id % 4 AS INTEGER) END AS width,
      |  CASE CAST(doc_id % 3 AS INTEGER)
      |       WHEN 0 THEN CAST(8 + doc_id % 4 AS INTEGER)
      |       WHEN 1 THEN CAST(1 + doc_id % 2 AS INTEGER)
      |       ELSE CAST(6 + doc_id % 2 AS INTEGER) END AS height,
      |  CASE CAST(doc_id % 3 AS INTEGER)
      |       WHEN 0 THEN CAST(((3 * (16 + doc_id % 8) + 3) // 4) * 4
      |                        * (8 + doc_id % 4) AS INTEGER)
      |       WHEN 1 THEN CAST((32 + doc_id % 16) * (1 + doc_id % 2) * 2 AS INTEGER)
      |       ELSE CAST((2 + doc_id % 3) * (8 + doc_id % 4)
      |                 * (6 + doc_id % 2) * 3 AS INTEGER) END AS payload_bytes,
      |  CAST(8 AS BIGINT) AS dim
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ streaming
  /** Tumbling-window aggregate on the events table — the batch-equivalent
    * plan of the Structured Streaming pipeline (§2.10); the streaming
    * variant is exercised in ScalaTest. */
  val qWindowEvents: QFn = (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum38_2(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("w_start", "event_type")
  val qWindowEventsSql: String =
    """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Stream-stream interval join, batch-equivalent plan (the streaming
    * variant with watermarked state runs in StreamingSpec): clicks pick
    * up same-user views from the preceding hour. */
  val qStreamJoin: QFn = (s, d) => {
    val ev = events(s, d)
    graft.streaming.LandingStream.clickViewJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "view"))
      .orderBy("click_id", "view_id")
  }
  val qStreamJoinSql: String =
    """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      |  v.event_id AS view_id, v.ts AS view_ts
      |FROM events c JOIN events v
      |  ON c.event_type = 'click' AND v.event_type = 'view'
      | AND c.user_id = v.user_id
      | AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
      |ORDER BY click_id, view_id""".stripMargin

  // ------------------------- training-pipeline: chunking / filter / decon
  /** Document → token-window chunking (K=40 tokens, overlap 8 → stride
    * 32): the pretraining context-window op. Chunk count is closed-form,
    * so DuckDB replays windows exactly via list_slice + generate_series. */
  val qDocChunks: QFn = (s, d) =>
    DocChunker.chunk(documents(s, d), "text", "doc_id", chunkTokens = 40, overlap = 8)
      .orderBy("doc_id", "chunk_id")
  val qDocChunksSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |c AS (SELECT doc_id, toks,
      |  CASE WHEN len(toks) <= 40 THEN 1
      |       ELSE CAST(ceil((len(toks) - 40) / CAST(32 AS DOUBLE)) AS BIGINT) + 1 END AS nc
      |  FROM t),
      |x AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_id FROM c)
      |SELECT doc_id, chunk_id,
      |  CAST(len(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 40)) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 40), ' ') AS chunk_text
      |FROM x ORDER BY doc_id, chunk_id""".stripMargin

  /** Benchmark decontamination: per corpus doc, how many distinct 5-gram
    * shingles it shares with the benchmark split (doc_id % 10 < 2 stands
    * in for the eval set; modulo split is scale-independent). 0 = clean. */
  val qDecontam: QFn = (s, d) => {
    val docs = documents(s, d)
    DocChunker.decontaminate(
      corpus = docs.where(col("doc_id") % 10 >= 2),
      benchmark = docs.where(col("doc_id") % 10 < 2),
      textCol = "text", idCol = "doc_id", n = 5)
      .orderBy("doc_id")
  }
  val qDecontamSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 5)) AS i
      |      FROM t WHERE len(toks) >= 5),
      |sh AS (SELECT doc_id, array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS shingle FROM s),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 < 2),
      |corp AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 10 >= 2),
      |hits AS (SELECT corp.doc_id, count(*) AS n_hits FROM corp JOIN bench USING (shingle) GROUP BY 1)
      |SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 2) d
      |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Leakage-guarded train/eval split — the last gate before training:
    * a deterministic md5 split (engine-portable, rerun-stable — the same
    * 16-bit-prefix rule as Sampling.byMd5Prefix) followed by 5-gram
    * decontamination of the TRAIN side against the eval side. Output:
    * per-split doc counts with train partitioned into clean/contaminated
    * — membership pinned by ids_sum. Composes the split, shingle and
    * decontamination operators; the oracle replays the whole chain. */
  val qSplitDecontam: QFn = (s, d) => {
    val docs = documents(s, d)
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 4) <
      lit(graft.operators.Sampling.md5Threshold(0.1))
    val ev = docs.where(isEval)
    val tr = docs.where(!isEval)
    val rep = DocChunker.decontaminate(tr, ev, "text", "doc_id", n = 5)
    rep.select(when(col("n_hits") > 0, lit("train_contam"))
        .otherwise(lit("train_clean")).as("split"), col("doc_id"))
      .unionByName(ev.select(lit("eval").as("split"), col("doc_id")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("ids_sum"))
      .orderBy("split")
  }
  val qSplitDecontamSql: String =
    """WITH base AS (SELECT doc_id, text,
      |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999' AS is_eval
      |  FROM documents),
      |t AS (SELECT doc_id, is_eval,
      |      string_split_regex(trim(text), '\s+') AS toks FROM base),
      |s AS (SELECT doc_id, is_eval, toks,
      |      unnest(generate_series(0, len(toks) - 5)) AS i
      |      FROM t WHERE len(toks) >= 5),
      |sh AS (SELECT doc_id, is_eval,
      |       array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS shingle
      |       FROM s),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE is_eval),
      |corp AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE NOT is_eval),
      |hits AS (SELECT corp.doc_id, count(*) AS n_hits
      |         FROM corp JOIN bench USING (shingle) GROUP BY 1),
      |lab AS (
      |  SELECT CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 'train_contam'
      |              ELSE 'train_clean' END AS split, d.doc_id
      |  FROM (SELECT doc_id FROM base WHERE NOT is_eval) d
      |  LEFT JOIN hits h USING (doc_id)
      |  UNION ALL
      |  SELECT 'eval', doc_id FROM base WHERE is_eval)
      |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS ids_sum
      |FROM lab GROUP BY split ORDER BY split""".stripMargin

  /** Bloom-prefiltered decontamination — same contract as [[qDecontam]]
    * (identical output: Bloom admits no false negatives, the exact join
    * removes its false positives) but the corpus side is filtered
    * map-side by a broadcast sketch before any shuffle — the plan that
    * survives a 100 TB corpus against a fixed benchmark. Shares
    * q_decontam's DuckDB oracle, so the gate proves the equivalence. */
  val qDecontamBloom: QFn = (s, d) => {
    val docs = documents(s, d)
    DocChunker.decontaminateBloom(
      corpus = docs.where(col("doc_id") % 10 >= 2),
      benchmark = docs.where(col("doc_id") % 10 < 2),
      textCol = "text", idCol = "doc_id", n = 5)
      .orderBy("doc_id")
  }

  /** Quality-filter verdict chain: rule flags concatenated into a reasons
    * string, keep = no rule fired — the cleaning pass every corpus runs,
    * with per-rule attribution kept for audit. */
  val qQualityFilter: QFn = (s, d) => {
    val toks = size(split(trim(col("text")), "\\s+")).cast(LongType)
    // alpha chars counted by the native byte-scan expression — same
    // value as length(regexp_replace(text, "[^A-Za-z ]", "")) (the
    // oracle's form) without regex cost on every corpus byte
    val alphaRatio = TextFunctions.alphaSpaceCount(col("text")).cast(DoubleType) /
      greatest(length(col("text")), lit(1)).cast(DoubleType)
    val reasons = concat_ws(",",
      when(toks < 20, lit("too_short")),
      when(col("n_chars") > 2000, lit("too_long")),
      when(alphaRatio < 0.6, lit("low_alpha")),
      when(col("lang") =!= "en", lit("non_english")))
    documents(s, d).select(col("doc_id"), toks.as("n_tokens"),
      (floor(alphaRatio * 10000.0) / 10000.0).as("alpha_ratio"),
      (reasons === "").as("keep"), reasons.as("reasons"))
      .orderBy("doc_id")
  }
  val qQualityFilterSql: String =
    """WITH t AS (SELECT doc_id, lang, n_chars,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |  CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
      |    / greatest(length(text), 1) AS ar
      |  FROM documents),
      |u AS (SELECT doc_id, n_tokens, ar,
      |  concat_ws(',',
      |    CASE WHEN n_tokens < 20 THEN 'too_short' END,
      |    CASE WHEN n_chars > 2000 THEN 'too_long' END,
      |    CASE WHEN ar < 0.6 THEN 'low_alpha' END,
      |    CASE WHEN lang != 'en' THEN 'non_english' END) AS reasons
      |  FROM t)
      |SELECT doc_id, n_tokens, floor(ar * 10000.0) / 10000.0 AS alpha_ratio,
      |  reasons = '' AS keep, reasons
      |FROM u ORDER BY doc_id""".stripMargin

  /** Hashed linear quality classifier (fastText-style logistic filter),
    * zero-shuffle path: token→bucket→weight entirely inside one codegen
    * `aggregate` over the token array — no explode, no join, exact Long
    * milli-score (operators.QualityClassifier.scoreInline). */
  val qQualityClassifier: QFn = (s, d) =>
    graft.operators.QualityClassifier
      .scoreInline(documents(s, d), "text", "doc_id", nBuckets = 4096)
      .orderBy("doc_id")
  /** Same model as a LEARNED-weights table: explode → broadcast weight
    * probe → partial-agg'd Long sum (the general path). Value-identical
    * to the inline path by construction — proven by sharing its oracle
    * text. */
  val qQualityClassifierTable: QFn = (s, d) =>
    graft.operators.QualityClassifier.scoreWithTable(
      documents(s, d), "text", "doc_id",
      graft.operators.QualityClassifier.hashWeightTable(s, 4096),
      nBuckets = 4096)
      .orderBy("doc_id")
  val qQualityClassifierSql: String =
    """WITH d AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |              t -> t <> '') AS toks FROM documents),
      |s AS (SELECT doc_id, len(toks) AS n_feats,
      |  coalesce(list_sum(list_transform(toks, t ->
      |    CAST(('0x' || substring(md5('qw:' || CAST(
      |      CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 4096
      |      AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000)), 0) AS score_milli
      |  FROM d)
      |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
      |  CAST(score_milli AS BIGINT) AS score_milli,
      |  CASE WHEN n_feats = 0 THEN CAST(0 AS BIGINT)
      |       ELSE CAST(floor(CAST(score_milli AS DOUBLE)
      |                       / CAST(n_feats AS DOUBLE) * 1000.0) AS BIGINT)
      |  END AS avg_micro,
      |  score_milli >= 0 AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  /** Temperature-flattened domain mixture sampling (p_d ∝ n_d^0.5,
    * operators.Sampling.temperatureSample): one skewed domain holds half
    * the corpus, 32 tail domains the rest — the head is thinned to
    * ~scale·sqrt(n_d) docs, the tail survives whole. Membership pinned
    * exactly via per-domain ids_sum. */
  val qTemperatureSample: QFn = (s, d) => {
    val id = col("doc_id")
    val docs = documents(s, d).select(id,
      when(id % 2 === 0, lit("big"))
        .otherwise(concat(lit("d"), (id % 64).cast(StringType))).as("dom"))
    graft.operators.Sampling.temperatureSample(docs, "dom", "doc_id", scale = 8.0)
      .groupBy("dom")
      .agg(max("n_d").as("n_d"), count(lit(1)).as("n_kept"),
        sum("doc_id").as("ids_sum"))
      .orderBy("dom")
  }
  val qTemperatureSampleSql: String =
    """WITH t AS (SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'big'
      |       ELSE 'd' || CAST(doc_id % 64 AS VARCHAR) END AS dom
      |  FROM documents),
      |c AS (SELECT dom, count(*) AS n_d FROM t GROUP BY 1),
      |k AS (SELECT t.doc_id, t.dom, c.n_d FROM t JOIN c USING (dom)
      |  WHERE CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4))
      |             AS BIGINT)
      |    < least(65536, CAST(floor(65536.0 * 8.0
      |        / sqrt(CAST(c.n_d AS DOUBLE))) AS BIGINT)))
      |SELECT dom, CAST(max(n_d) AS BIGINT) AS n_d,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS ids_sum
      |FROM k GROUP BY dom ORDER BY dom""".stripMargin

  /** Store-served temperature sampling: the same skewed corpus lands as
    * TWO appended batches (+ one REPLAYED batch id), then the FULL
    * corpus samples at rates computed from the persisted domain counts
    * alone. SHARES q_temperature_sample's oracle text — membership is a
    * pure function of (key md5, corpus-wide n_d), so store-served ≡
    * one-shot at value level and the replay proves write idempotence. */
  val qTemperatureSampleStore: QFn = (s, d) => {
    val id = col("doc_id")
    val docs = documents(s, d).select(id,
      when(id % 2 === 0, lit("big"))
        .otherwise(concat(lit("d"), (id % 64).cast(StringType))).as("dom"))
    val dir = Scratch.dir("graft_domcnt_store") + "/counts"
    val sp = graft.operators.Sampling
    sp.appendDomainCounts(docs.where(id % 3 === 0), "dom", dir, "b1")
    sp.appendDomainCounts(docs.where(id % 3 =!= 0), "dom", dir, "b2")
    sp.appendDomainCounts(docs.where(id % 3 =!= 0), "dom", dir, "b2") // replay
    sp.temperatureSampleFromStore(docs, "dom", "doc_id", s, dir, scale = 8.0)
      .groupBy("dom")
      .agg(max("n_d").as("n_d"), count(lit(1)).as("n_kept"),
        sum("doc_id").as("ids_sum"))
      .orderBy("dom")
  }

  /** Corpus-global sentence dedup (CCNet paragraph-dedup shape,
    * operators.SentenceDedup): a boilerplate blurb appended to every
    * third document is detected corpus-wide and stripped; per-doc stats
    * plus the md5 of the rebuilt text pin the whole transform. */
  val qSentenceDedup: QFn = (s, d) => {
    val id = col("doc_id")
    val docs = documents(s, d).select(id,
      when(id % 3 === 0, concat(col("text"),
        lit(". Subscribe to our newsletter now. Thanks for reading.")))
        .otherwise(col("text")).as("text"))
    graft.operators.SentenceDedup.dedupSentences(docs, "text", "doc_id")
      .select(col("doc_id"), col("n_sents"), col("n_dup"),
        col("dup_permille"), md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }
  val qSentenceDedupSql: String =
    """WITH t0 AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN text ||
      |    '. Subscribe to our newsletter now. Thanks for reading.'
      |  ELSE text END AS text FROM documents),
      |d AS (SELECT doc_id, list_filter(list_transform(
      |    regexp_split_to_array(text, '[.!?]+\s+'), s -> trim(s)),
      |    s -> s <> '') AS arr FROM t0),
      |x AS (SELECT doc_id, unnest(generate_series(1, len(arr))) AS i, arr FROM d),
      |x2 AS (SELECT doc_id, i AS pos, arr[i] AS sent FROM x),
      |c AS (SELECT md5(sent) AS sh, count(*) AS n_occ FROM x2 GROUP BY 1),
      |m AS (SELECT x2.doc_id, x2.pos, x2.sent, c.n_occ
      |      FROM x2 JOIN c ON md5(x2.sent) = c.sh),
      |agg AS (SELECT doc_id, count(*) AS n_sents,
      |  sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup,
      |  md5(array_to_string(list(sent ORDER BY pos)
      |      FILTER (WHERE n_occ < 2), '. ')) AS clean_md5
      |  FROM m GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(a.n_sents, 0) AS BIGINT) AS n_sents,
      |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
      |  CASE WHEN coalesce(a.n_sents, 0) = 0 THEN CAST(0 AS BIGINT)
      |       ELSE CAST(floor(CAST(a.n_dup AS DOUBLE) * 1000.0
      |                       / CAST(a.n_sents AS DOUBLE)) AS BIGINT)
      |  END AS dup_permille,
      |  coalesce(a.clean_md5, md5('')) AS clean_md5
      |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Store-served sentence dedup: the same corpus lands as TWO appended
    * batches (+ one REPLAYED batch id — at-least-once delivery), then
    * verdicts for every doc are computed from the persisted counts alone.
    * SHARES q_sentence_dedup's oracle text: store-served ≡ one-shot at
    * value level, and the replay proves write idempotence. */
  val qSentenceDedupStore: QFn = (s, d) => {
    val id = col("doc_id")
    val docs = documents(s, d).select(id,
      when(id % 3 === 0, concat(col("text"),
        lit(". Subscribe to our newsletter now. Thanks for reading.")))
        .otherwise(col("text")).as("text"))
    val dir = Scratch.dir("graft_sent_store") + "/counts"
    val sd = graft.operators.SentenceDedup
    sd.appendCounts(docs.where(id % 2 === 0), "text", "doc_id", dir, "b1")
    sd.appendCounts(docs.where(id % 2 =!= 0), "text", "doc_id", dir, "b2")
    sd.appendCounts(docs.where(id % 2 =!= 0), "text", "doc_id", dir, "b2") // replay
    sd.dedupSentencesFromStore(docs, "text", "doc_id", s, dir)
      .select(col("doc_id"), col("n_sents"), col("n_dup"),
        col("dup_permille"), md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** END-TO-END training-data assembly (the capstone composition): raw
    * docs → corpus-global sentence dedup (boilerplate stripped by
    * cross-doc evidence) → hashed linear classifier on the CLEANED text
    * (keep = non-negative score, non-empty) → context-window chunking of
    * the survivors (K=40, overlap 8). Every stage is the production
    * operator, every stage's arithmetic replays in the chained oracle —
    * the gate pins the COMPOSITION (stage order, survivor wiring,
    * clean-text tokenization parity), not just the pieces. */
  val qAssembly: QFn = (s, d) => {
    val id = col("doc_id")
    val docs = documents(s, d).select(id,
      when(id % 3 === 0, concat(col("text"),
        lit(". Subscribe to our newsletter now. Thanks for reading.")))
        .otherwise(col("text")).as("text"))
    val cleaned = graft.operators.SentenceDedup
      .dedupSentences(docs, "text", "doc_id")
      .select(col("doc_id"), col("clean_text"))
    // keep verdict applied as an INLINE filter (round 15): the former
    // scoreInline + join-back re-ran the corpus-global sentence dedup
    // on both join sides (no exchange reuse across the two branch
    // shapes); the verdict is a pure row predicate, so filter in place
    val kept = graft.operators.QualityClassifier
      .keepFilter(cleaned, "clean_text", 4096)
    DocChunker.chunk(kept, "clean_text", "doc_id", chunkTokens = 40, overlap = 8)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("sum_tokens"))
      .orderBy("doc_id")
  }
  val qAssemblySql: String =
    """WITH t0 AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN text ||
      |    '. Subscribe to our newsletter now. Thanks for reading.'
      |  ELSE text END AS text FROM documents),
      |d AS (SELECT doc_id, list_filter(list_transform(
      |    regexp_split_to_array(text, '[.!?]+\s+'), s -> trim(s)),
      |    s -> s <> '') AS arr FROM t0),
      |x AS (SELECT doc_id, unnest(generate_series(1, len(arr))) AS i, arr FROM d),
      |x2 AS (SELECT doc_id, i AS pos, arr[i] AS sent FROM x),
      |c AS (SELECT md5(sent) AS sh, count(*) AS n_occ FROM x2 GROUP BY 1),
      |m AS (SELECT x2.doc_id, x2.pos, x2.sent, c.n_occ
      |      FROM x2 JOIN c ON md5(x2.sent) = c.sh),
      |agg AS (SELECT doc_id,
      |  array_to_string(list(sent ORDER BY pos) FILTER (WHERE n_occ < 2),
      |                  '. ') AS clean
      |  FROM m GROUP BY 1),
      |cl AS (SELECT t0.doc_id, coalesce(a.clean, '') AS clean
      |       FROM t0 LEFT JOIN agg a USING (doc_id)),
      |qc AS (SELECT doc_id, clean,
      |  list_filter(regexp_split_to_array(lower(trim(clean)), '\s+'),
      |              t -> t <> '') AS toks
      |  FROM cl),
      |sc AS (SELECT doc_id, clean, len(toks) AS n_feats,
      |  coalesce(list_sum(list_transform(toks, t ->
      |    CAST(('0x' || substring(md5('qw:' || CAST(
      |      CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 4096
      |      AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000)), 0) AS score_milli
      |  FROM qc),
      |kept AS (SELECT doc_id, clean FROM sc
      |         WHERE score_milli >= 0 AND n_feats > 0),
      |tk AS (SELECT doc_id, string_split_regex(trim(clean), '\s+') AS toks
      |       FROM kept),
      |nch AS (SELECT doc_id, toks,
      |  CASE WHEN len(toks) <= 40 THEN 1
      |       ELSE CAST(ceil((len(toks) - 40) / CAST(32 AS DOUBLE)) AS BIGINT) + 1
      |  END AS nc FROM tk),
      |ch AS (SELECT doc_id, toks,
      |       unnest(generate_series(0, nc - 1)) AS chunk_id FROM nch)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(len(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 40)))
      |    AS BIGINT) AS sum_tokens
      |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** REAL audio analysis over synthesized PCM WAVs with closed-form
    * structure (operators.Multimodal.audioStats): square-wave tone of
    * known amplitude + window-aligned silent tail, every 13th doc a
    * non-WAV payload exercising the decode-to-null contract. Peak,
    * exact Long energy sum and silent-window count replay as pure
    * doc_id arithmetic in the oracle. */
  val qAudioStats: QFn = (s, d) => {
    val mediaUdf = udf { (id: Long) =>
      val m = graft.operators.Multimodal
      if (id % 13 == 0) m.bmpMedia(8, 8, id)
      else m.wavTone(8000, nTone = 512, nSilent = 256 * (id % 4).toInt,
        amp = 100 + (id % 50).toInt)
    }
    val docs = documents(s, d).select(col("doc_id"))
      .withColumn("media", mediaUdf(col("doc_id")))
    graft.operators.Multimodal.audioStats(docs, "media")
      .select(col("doc_id"), col("audio.n_frames").as("n_frames"),
        col("audio.peak_abs").as("peak_abs"), col("audio.energy").as("energy"),
        col("audio.silent_windows").as("silent_windows"))
      .orderBy("doc_id")
  }
  val qAudioStatsSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 13 = 0 THEN NULL
      |       ELSE CAST(512 + 256 * (doc_id % 4) AS BIGINT) END AS n_frames,
      |  CASE WHEN doc_id % 13 = 0 THEN NULL
      |       ELSE CAST(100 + doc_id % 50 AS INTEGER) END AS peak_abs,
      |  CASE WHEN doc_id % 13 = 0 THEN NULL
      |       ELSE CAST((100 + doc_id % 50) * (100 + doc_id % 50) * 512
      |            AS BIGINT) END AS energy,
      |  CASE WHEN doc_id % 13 = 0 THEN NULL
      |       ELSE CAST(doc_id % 4 AS BIGINT) END AS silent_windows
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Outlink extraction — the text→link-graph step (UrlFunctions
    * .extractUrls → canonical → registeredDomain): URLs seeded into the
    * text (one with casing + a utm-only query, one wrapped in prose
    * punctuation, one with a Wikipedia-style balanced-paren path ending
    * in a period — its close-paren must SURVIVE the punctuation strip)
    * are extracted, cleaned, and aggregated into per-domain edge counts.
    * The oracle reconstructs the expected canonical strings and domains
    * closed-form from doc_id — the Spark side must get there through the
    * REAL regex/canonicalization/PSL path. */
  val qLinkExtract: QFn = (s, d) => {
    val id = col("doc_id")
    val seeded = documents(s, d).select(id, concat(col("text"),
      lit(" See https://Blog"), (id % 13).cast(StringType),
      lit(".GitHub.IO/p/"), (id % 3).cast(StringType),
      lit("?utm_source=x and (http://site"), (id % 25).cast(StringType),
      lit(".co.uk/a). Also https://wiki.example"), (id % 7).cast(StringType),
      lit(".org/wiki/Page_("), (id % 4).cast(StringType),
      lit(").")).as("text"))
    val links = seeded.select(id,
      explode(graft.functions.UrlFunctions.extractUrls(col("text"))).as("u"))
    links.select(id,
        graft.functions.UrlFunctions.canonical(col("u")).as("canon"),
        graft.functions.UrlFunctions.registeredDomain(
          graft.functions.UrlFunctions.host(col("u"))).as("reg_dom"))
      .groupBy("reg_dom")
      .agg(count(lit(1)).as("n_links"), countDistinct(col("doc_id")).as("n_docs"),
        sum("doc_id").as("ids_sum"), min("canon").as("sample_canon"))
      .orderBy("reg_dom")
  }
  val qLinkExtractSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    'https://blog' || CAST(doc_id % 13 AS VARCHAR) || '.github.io/p/'
      |      || CAST(doc_id % 3 AS VARCHAR) AS canon,
      |    'blog' || CAST(doc_id % 13 AS VARCHAR) || '.github.io' AS reg_dom
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    'http://site' || CAST(doc_id % 25 AS VARCHAR) || '.co.uk/a',
      |    'site' || CAST(doc_id % 25 AS VARCHAR) || '.co.uk'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    'https://wiki.example' || CAST(doc_id % 7 AS VARCHAR)
      |      || '.org/wiki/Page_(' || CAST(doc_id % 4 AS VARCHAR) || ')',
      |    'example' || CAST(doc_id % 7 AS VARCHAR) || '.org'
      |  FROM documents)
      |SELECT reg_dom, CAST(count(*) AS BIGINT) AS n_links,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS ids_sum,
      |  min(canon) AS sample_canon
      |FROM l GROUP BY reg_dom ORDER BY reg_dom""".stripMargin

  /** REAL video scene-cut detection (operators.Multimodal.videoScenes):
    * synthesized Y4M videos with known scene structure — exact integer
    * Σ|Δluma| per consecutive frame pair, a cut where the mean diff
    * exceeds the threshold; every 11th doc a non-video payload
    * exercising decode-to-null. All stats replay as doc_id arithmetic. */
  val qVideoScenes: QFn = (s, d) => {
    val mediaUdf = udf { (id: Long) =>
      val m = graft.operators.Multimodal
      if (id % 11 == 0) m.bmpMedia(8, 8, id)
      else m.y4mScenes(16, 12, scenes = 1 + (id % 5).toInt,
        framesPerScene = 2 + (id % 3).toInt,
        level = sc => 10 + 40 * sc + (id % 7).toInt)
    }
    val docs = documents(s, d).select(col("doc_id"))
      .withColumn("media", mediaUdf(col("doc_id")))
    graft.operators.Multimodal.videoScenes(docs, "media")
      .select(col("doc_id"), col("scenes.n_frames").as("n_frames"),
        col("scenes.n_cuts").as("n_cuts"), col("scenes.n_scenes").as("n_scenes"))
      .orderBy("doc_id")
  }
  val qVideoScenesSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL
      |       ELSE CAST((1 + doc_id % 5) * (2 + doc_id % 3) AS BIGINT)
      |  END AS n_frames,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL
      |       ELSE CAST(doc_id % 5 AS BIGINT) END AS n_cuts,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL
      |       ELSE CAST(1 + doc_id % 5 AS BIGINT) END AS n_scenes
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------- window / scalar coverage (§2.5, §2.6)
  /** first_value / last_value / nth_value over a full-partition frame. */
  val qWindowFirstLast: QFn = (s, d) => {
    val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      first("o_totalprice").over(w).as("first_price"),
      last("o_totalprice").over(w).as("last_price"),
      nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_orderkey")
  }
  val qWindowFirstLastSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  last_value(o_totalprice) OVER w AS last_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  /** Date/time scalar family: extract, trunc, diff, add (§2.6 server-side
    * date surface). */
  val qDateFns: QFn = (s, d) =>
    orders(s, d).select(col("o_orderkey"),
      year(col("o_orderdate")).cast(LongType).as("yr"),
      month(col("o_orderdate")).cast(LongType).as("mon"),
      date_trunc("month", col("o_orderdate")).as("mon_start"),
      datediff(col("o_orderdate").cast(DateType), lit("1995-01-01").cast(DateType))
        .cast(LongType).as("days_since"),
      // TIMESTAMP, not DATE: parquet DATE loads as datetime.date while
      // DuckDB DATE becomes a pandas Timestamp — same day, different
      // type under the driver's pandas compare
      date_add(col("o_orderdate").cast(DateType), 30)
        .cast(TimestampType).as("due_date"))
      .orderBy("o_orderkey")
  val qDateFnsSql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mon,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS due_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Array scalar family over tokenized text: size, contains, distinct,
    * slice+join (§2.6 array surface). */
  val qArrayFns: QFn = (s, d) => {
    val toks = split(trim(col("text")), "\\s+")
    documents(s, d).select(col("doc_id"),
      size(toks).cast(LongType).as("n_tokens"),
      array_contains(toks, "the").as("has_the"),
      size(array_distinct(toks)).cast(LongType).as("n_distinct"),
      array_join(slice(toks, 1, 3), " ").as("first3"))
      .orderBy("doc_id")
  }
  val qArrayFnsSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  list_contains(toks, 'the') AS has_the,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  array_to_string(list_slice(toks, 1, 3), ' ') AS first3
      |FROM t ORDER BY doc_id""".stripMargin

  /** Salted skew join (§2.3 + SCALE.md): hot fact keys spread over 8
    * reducers via (key, salt); dim replicated ×8. The oracle is the
    * PLAIN join — salting must not change a single value. */
  val qSkewJoin: QFn = (s, d) => {
    val li = lineitem(s, d).select(col("l_suppkey").as("s_suppkey"),
      col("l_extendedprice"), col("l_discount"), col("l_orderkey"))
    val sup = t(s, d, "supplier").select("s_suppkey", "s_name")
    Skew.saltedJoin(li, sup, "s_suppkey", salts = 8, saltSource = col("l_orderkey"))
      .groupBy("s_name")
      .agg(sum38_4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("s_name")
  }
  val qSkewJoinSql: String =
    """SELECT s_name,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS cnt
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY s_name""".stripMargin

  /** Regex scalar family: extract, count, match (§2.6 string surface —
    * patterns kept in the Java∩RE2 dialect both engines share). */
  val qRegexFns: QFn = (s, d) =>
    documents(s, d).select(col("doc_id"),
      regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
      regexp_count(col("text"), lit("\\bthe\\b")).cast(LongType).as("n_the"),
      col("text").rlike("[0-9]").as("has_digit"))
      .orderBy("doc_id")
  val qRegexFnsSql: String =
    """SELECT doc_id,
      |  regexp_extract(text, '([0-9]+)', 1) AS first_num,
      |  CAST(len(regexp_extract_all(text, '\bthe\b')) AS BIGINT) AS n_the,
      |  regexp_matches(text, '[0-9]') AS has_digit
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Generator surface beyond plain explode (§2.11): posexplode's
    * (position, value) contract over tokenized text. */
  val qPosexplode: QFn = (s, d) =>
    documents(s, d).where(col("doc_id") < 20)
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "term")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("term"))
      .orderBy("doc_id", "pos")
  val qPosexplodeSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |           FROM documents WHERE doc_id < 20),
      |x AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)
      |SELECT doc_id, i - 1 AS pos, toks[i] AS term
      |FROM x ORDER BY doc_id, pos""".stripMargin

  /** stack() unpivot — wide→long metric rows (§2.11 UDTF surface). */
  val qUnpivot: QFn = (s, d) =>
    orders(s, d).selectExpr("o_orderkey",
      "stack(2, 'custkey', CAST(o_custkey AS DOUBLE), 'totalprice', o_totalprice) AS (metric, v)")
      .orderBy("o_orderkey", "metric")
  val qUnpivotSql: String =
    """SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS v FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'totalprice', o_totalprice FROM orders
      |ORDER BY o_orderkey, metric""".stripMargin

  /** Data-mixture recipe (training-data assembly): per-source target
    * fractions applied with the engine-portable md5-prefix sampler
    * ([[graft.operators.Sampling.byMd5Prefix]]), unioned, summarized per
    * source — DuckDB replays the IDENTICAL sample, proving the recipe is
    * reproducible outside Spark. */
  val qMixture: QFn = (s, d) => {
    val recipe = Seq("src0" -> 0.9, "src1" -> 0.8, "src2" -> 0.7,
      "src3" -> 0.6, "src4" -> 0.5, "src5" -> 0.4)
    // one scan, not one per source: the per-source fraction becomes a
    // CASE'd hex threshold (same byMd5Prefix bucket contract); sources
    // outside the recipe get a NULL threshold -> filtered out
    // threshold text from the ONE shared formula (operators.Sampling
    // .md5Threshold) — an inline copy here once lacked the fraction-1.0
    // guard that byMd5Prefix/stratifiedByMd5 carry
    val thr = recipe.tail.foldLeft(
      when(col("source") === recipe.head._1,
        operators.Sampling.md5Threshold(recipe.head._2))) { case (w, (src, frac)) =>
      w.when(col("source") === src, operators.Sampling.md5Threshold(frac))
    }
    documents(s, d)
      .where(substring(md5(col("doc_id").cast(StringType)), 1, 4) < thr)
      .groupBy("source").agg(count(lit(1)).as("cnt"))
      .orderBy("source")
  }
  val qMixtureSql: String =
    """WITH b AS (SELECT source, substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
      |           FROM documents)
      |SELECT source, count(*) AS cnt FROM b
      |WHERE (source = 'src0' AND h < 'e666')
      |   OR (source = 'src1' AND h < 'cccc')
      |   OR (source = 'src2' AND h < 'b333')
      |   OR (source = 'src3' AND h < '9999')
      |   OR (source = 'src4' AND h < '8000')
      |   OR (source = 'src5' AND h < '6666')
      |GROUP BY source ORDER BY source""".stripMargin

  /** Map scalar family: construct, lookup, size, keys (§2.6 — the map
    * half of the declared array/map engine surface). DuckDB map lookup
    * yields a 1-element list, so the oracle unwraps with `[1]`. */
  val qMapFns: QFn = (s, d) => {
    val m = map(lit("lang"), col("lang"), lit("source"), col("source"))
    documents(s, d).select(col("doc_id"),
      element_at(m, "lang").as("lang_v"),
      size(m).cast(LongType).as("n_entries"),
      array_join(map_keys(m), ",").as("keys"))
      .orderBy("doc_id")
  }
  val qMapFnsSql: String =
    """SELECT doc_id,
      |  map(['lang','source'], [lang, source])['lang'][1] AS lang_v,
      |  CAST(cardinality(map(['lang','source'], [lang, source])) AS BIGINT) AS n_entries,
      |  array_to_string(map_keys(map(['lang','source'], [lang, source])), ',') AS keys
      |FROM documents ORDER BY doc_id""".stripMargin

  /** EXACT kNN graph (top-3 neighbors per vector, 200-vector slice so
    * DuckDB's interpreted list lambdas replay it) — the all-pairs
    * baseline; `q_knn_graph` is the LSH-cell scale path it verifies. */
  val qKnnExact: QFn = (s, d) => {
    val e = embeddings(s, d).where(col("vec_id") < 200)
    Similarity.selfTopK(e, "embedding", "vec_id", k = 3)
      .withColumn("score", floor(col("score") * lit(1000000.0)) / lit(1000000.0))
      .orderBy("id1", "rank")
  }
  val qKnnExactSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT id1, id2, cos,
      |  row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank FROM p)
      |SELECT id1, id2, CAST(rank AS BIGINT) AS rank,
      |  floor(cos * 1000000.0) / 1000000.0 AS score
      |FROM r WHERE rank <= 3 ORDER BY id1, rank""".stripMargin

  /** kNN graph, LSH-cell scale path (single equi-join on the packed
    * (table, cell) key). Value-gated at the PRODUCTION setting — tables=6
    * with bits chosen by corpus size ([[Similarity.lshBitsFor]]:
    * clamp(bitlen(n)−6, 3, 24), constant ~32–64 rows/cell) so the gate
    * itself scales instead of pinning one corpus's bit count. Per-table
    * seeded hyperplane cells are data-independent and prefix-stable in
    * bits (plane p depends only on (seed, p)), so the oracle inlines the
    * full 24-plane tables, computes the SAME integer bit count from
    * count(*) (`length(bin(n)) − 6`), keeps planes p < nbits, and DuckDB
    * replays cell assignment, the co-cell candidate union, dedup, cosine
    * scoring, mirroring, and the per-node rank — bit-for-bit at any sf.
    * Score floored like q_knn_exact to make the double hash-comparable. */
  val qKnnGraph: QFn = (s, d) => {
    val e = embeddings(s, d)
    val n = e.count()
    Similarity.selfTopKLsh(e, "embedding", "vec_id",
      k = 5, bits = Similarity.lshBitsFor(n), tables = 6, nRowsHint = n)
      .withColumn("score", floor(col("score") * lit(1000000.0)) / lit(1000000.0))
      .orderBy("id1", "rank")
  }
  val qKnnGraphSql: String = {
    val vals = (0 until 6).flatMap { t =>
      Hashing.hyperplanes(24, 64, 42L + t).zipWithIndex.map { case (pl, p) =>
        s"($t, $p, [${pl.map(x => if (x > 0) "1" else "-1").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(", ")
    s"""WITH planes(t, p, pl) AS (VALUES $vals),
       |nb AS (SELECT greatest(3, least(24, length(bin(count(*))) - 6)) AS nbits
       |       FROM embeddings),
       |sig AS (
       |  SELECT vec_id, t,
       |    string_agg(CASE WHEN list_sum(list_transform(list_zip(embedding, pl),
       |      z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY p) AS s
       |  FROM embeddings, planes WHERE p < (SELECT nbits FROM nb)
       |  GROUP BY vec_id, t),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sig a JOIN sig b ON a.t = b.t AND a.s = b.s AND a.vec_id < b.vec_id),
       |sc AS (
       |  SELECT id1, id2,
       |    list_sum(list_transform(list_zip(e1.embedding, e2.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e1.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(e2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM cand JOIN embeddings e1 ON cand.id1 = e1.vec_id
       |            JOIN embeddings e2 ON cand.id2 = e2.vec_id),
       |bdir AS (SELECT id1, id2, cos FROM sc UNION ALL SELECT id2, id1, cos FROM sc),
       |r AS (SELECT id1, id2, cos,
       |  row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank FROM bdir)
       |SELECT id1, id2, CAST(rank AS BIGINT) AS rank,
       |  floor(cos * 1000000.0) / 1000000.0 AS score
       |FROM r WHERE rank <= 5 ORDER BY id1, rank""".stripMargin
  }

  /** kNN graph at the HOT-CELL-CAPPED production shape
    * ([[Similarity.selfTopKLsh]] maxCell/hotWindow): cells ≤ 60 members
    * keep the exact all-pairs candidate union; hotter cells switch to
    * id-ordered sliding-window pairing (next 8 in-cell ids per row) so a
    * near-dup cluster contributes O(m·8) candidates instead of O(m²) —
    * the knob that keeps the 100× replica probe linear (lshBitsFor holds
    * EXPECTED density, but dup clusters co-cell at any bit count). The
    * cap binds on this corpus: measured cell sizes straddle 60 at both
    * sf0.01 (41..81) and sf0.1 (34..109), so the oracle replays BOTH
    * paths — count/row_number over the (table, cell) partition, the rn
    * band for the windowed pairs, union, dedup, cosine, mirror, rank. */
  val qKnnGraphCapped: QFn = (s, d) => {
    val e = embeddings(s, d)
    val n = e.count()
    Similarity.selfTopKLsh(e, "embedding", "vec_id",
      k = 5, bits = Similarity.lshBitsFor(n), tables = 6,
      maxCell = 60, hotWindow = 8, nRowsHint = n)
      .withColumn("score", floor(col("score") * lit(1000000.0)) / lit(1000000.0))
      .orderBy("id1", "rank")
  }
  val qKnnGraphCappedSql: String = {
    val vals = (0 until 6).flatMap { t =>
      Hashing.hyperplanes(24, 64, 42L + t).zipWithIndex.map { case (pl, p) =>
        s"($t, $p, [${pl.map(x => if (x > 0) "1" else "-1").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(", ")
    s"""WITH planes(t, p, pl) AS (VALUES $vals),
       |nb AS (SELECT greatest(3, least(24, length(bin(count(*))) - 6)) AS nbits
       |       FROM embeddings),
       |sig AS (
       |  SELECT vec_id, t,
       |    string_agg(CASE WHEN list_sum(list_transform(list_zip(embedding, pl),
       |      z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY p) AS s
       |  FROM embeddings, planes WHERE p < (SELECT nbits FROM nb)
       |  GROUP BY vec_id, t),
       |marked AS (
       |  SELECT vec_id, t, s,
       |    count(*) OVER (PARTITION BY t, s) AS cn,
       |    row_number() OVER (PARTITION BY t, s ORDER BY vec_id) AS rn
       |  FROM sig),
       |coldp AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM marked a JOIN marked b ON a.t = b.t AND a.s = b.s
       |   AND a.vec_id < b.vec_id
       |  WHERE a.cn <= 60 AND b.cn <= 60),
       |hotp AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM marked a JOIN marked b ON a.t = b.t AND a.s = b.s
       |   AND b.rn > a.rn AND b.rn <= a.rn + 8
       |  WHERE a.cn > 60),
       |cand AS (SELECT DISTINCT id1, id2
       |         FROM (SELECT * FROM coldp UNION ALL SELECT * FROM hotp)),
       |sc AS (
       |  SELECT id1, id2,
       |    list_sum(list_transform(list_zip(e1.embedding, e2.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e1.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(e2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |  FROM cand JOIN embeddings e1 ON cand.id1 = e1.vec_id
       |            JOIN embeddings e2 ON cand.id2 = e2.vec_id),
       |bdir AS (SELECT id1, id2, cos FROM sc UNION ALL SELECT id2, id1, cos FROM sc),
       |r AS (SELECT id1, id2, cos,
       |  row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank FROM bdir)
       |SELECT id1, id2, CAST(rank AS BIGINT) AS rank,
       |  floor(cos * 1000000.0) / 1000000.0 AS score
       |FROM r WHERE rank <= 5 ORDER BY id1, rank""".stripMargin
  }

  /** Multi-table LSH kNN at the degenerate bits=0 setting, VALUE-gated:
    * zero hyperplanes put every row in the ONE cell of BOTH tables, so
    * the candidate set is all pairs — emitted twice over (once per
    * table), which forces the cross-table `distinct()` dedup to earn its
    * keep. The explode/packed-key/equi-join/undirected-mirror/rank
    * machinery must then reproduce the exact graph bit-for-bit: same
    * oracle text as q_knn_exact (shared below, like q_decontam_bloom).
    * [[qKnnGraph]] keeps the bits=3 production shape (rows-only), with
    * [[qKnnRecall]] gating what the pruning is allowed to cost. */
  val qKnnLshExact: QFn = (s, d) => {
    val e = embeddings(s, d).where(col("vec_id") < 200)
    Similarity.selfTopKLsh(e, "embedding", "vec_id", k = 3, bits = 0, tables = 2)
      .withColumn("score", floor(col("score") * lit(1000000.0)) / lit(1000000.0))
      .orderBy("id1", "rank")
  }

  /** LSH kNN recall, oracle-visible: on the <200-id slice the exact
    * top-5 graph is DuckDB-replayable (same brute force as q_knn_exact),
    * so the gate hashes the exact-pair count PLUS a boolean asserting
    * the LSH path recovered ≥60% of those edges. A recall regression in
    * the seeded hashing flips the boolean and fails the hash — the
    * sketch quality itself is driver-gated, not just spec-pinned. */
  val qKnnRecall: QFn = (s, d) => {
    val slice = embeddings(s, d).where(col("vec_id") < 200)
    val exact = Similarity.selfTopK(slice, "embedding", "vec_id", k = 5)
      .select("id1", "id2")
    val lsh = Similarity.selfTopKLsh(slice, "embedding", "vec_id",
      k = 5, bits = 3, tables = 6).select("id1", "id2")
    exact.join(lsh.withColumn("hit", lit(1)), Seq("id1", "id2"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        // empty-ground-truth guard (every sibling recall gate has it):
        // sum(NULL)/0 yields NULL, and a NULL recall_ok hash-mismatches
        // the oracle's TRUE
        when(count(lit(1)) === 0, lit(true))
          .otherwise(sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= lit(0.6))
          .as("recall_ok"))
  }
  val qKnnRecallSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT id1, id2,
      |  row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank FROM p)
      |SELECT count(*) AS n_exact, TRUE AS recall_ok FROM r WHERE rank <= 5""".stripMargin

  /** Conditional aggregation (FILTER-clause semantics, §2.4): count_if +
    * CASE'd sums inside one grouped pass. */
  val qCondAgg: QFn = (s, d) =>
    orders(s, d).groupBy("o_orderpriority").agg(
      count(lit(1)).as("cnt"),
      count_if(col("o_totalprice") > 200000.0).as("n_big"),
      sum38_2(when(col("o_orderstatus") === "F", col("o_totalprice"))
        .otherwise(lit(0.0))).as("sum_f"))
      .orderBy("o_orderpriority")
  val qCondAggSql: String =
    """SELECT o_orderpriority, count(*) AS cnt,
      |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
      |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_f
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Forward as-of: each click picks the NEXT view at-or-after it (the
    * time-series mirror of q_asof_join's backward direction). */
  val qAsofFwd: QFn = (s, d) => {
    val e = events(s, d)
    val clicks = e.where(col("event_type") === "click")
    val views = e.where(col("event_type") === "view")
    AsofJoin.asof(clicks, views, "user_id", "ts",
      valueCols = Seq("event_id", "value"), tieBreak = "event_id",
      direction = "forward")
      .select("event_id", "user_id", "asof_event_id", "asof_value")
      .orderBy("event_id")
  }
  val qAsofFwdSql: String =
    """WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
      |     c AS (SELECT * FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, v.event_id AS asof_event_id,
      |       v.value AS asof_value
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts <= v.ts
      |ORDER BY c.event_id""".stripMargin

  /** Incremental-merge restore (CDC-lite): a delta dump (recent orders,
    * re-priced) upserts into the base snapshot — latest o_orderdate per
    * key wins, delta beats base on ties. Per-key summary keeps the
    * result small; the oracle replays the same window rule. */
  val qMergeUpsert: QFn = (s, d) => {
    val o = orders(s, d)
    val base = o.where(col("o_orderkey") % 3 =!= 0)
    val delta = o.where(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    Load.mergeSnapshot(base, delta, "o_orderkey", "o_orderdate")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum38_2(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }
  val qMergeUpsertSql: String =
    """WITH base AS (SELECT *, 0 AS is_delta FROM orders WHERE o_orderkey % 3 <> 0),
      |delta AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority,
      |  1 AS is_delta FROM orders WHERE o_orderkey % 2 = 0),
      |u AS (SELECT * FROM base UNION ALL BY NAME SELECT * FROM delta),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |        ORDER BY o_orderdate DESC, is_delta DESC) AS rn FROM u)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM r WHERE rn = 1 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** SCD2 history build (the temporal mirror of q_merge_upsert's
    * latest-wins): price versions per order key become
    * [valid_from, valid_to) intervals via one lead() pass — the
    * restore-side history table a CDC consumer materializes. Version
    * stream is synthesized deterministically from orders (two epochs:
    * base date and +30 days re-price on even keys). */
  val qScd2: QFn = (s, d) => {
    val o = orders(s, d)
    val v1 = o.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate").as("valid_from"))
    val v2 = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + lit(500.0)).as("o_totalprice"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("valid_from"))
    val w = Window.partitionBy("o_orderkey").orderBy("valid_from")
    v1.unionAll(v2)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("o_orderkey"), col("valid_from"))
  }
  val qScd2Sql: String =
    """WITH v AS (
      |  SELECT o_orderkey, o_totalprice, o_orderdate AS valid_from FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 500.0,
      |         o_orderdate + INTERVAL '30 days'
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT o_orderkey, o_totalprice, valid_from,
      |  lead(valid_from, 1) OVER (PARTITION BY o_orderkey ORDER BY valid_from)
      |    AS valid_to,
      |  lead(valid_from, 1) OVER (PARTITION BY o_orderkey ORDER BY valid_from)
      |    IS NULL AS is_current
      |FROM v ORDER BY o_orderkey, valid_from""".stripMargin

  /** Typed-Aggregator tier (§2.11): deterministic per-group bottom-k-by-
    * md5 sample — mergeable reservoir sampling with no RNG state, so the
    * exact sample is engine-replayable (DuckDB sorts the same digests). */
  val qBottomkSample: QFn = (s, d) => {
    import s.implicits._
    orders(s, d).select(col("o_orderstatus").as("g"),
        md5(col("o_orderkey").cast(StringType)).as("h"),
        col("o_orderkey").as("v"))
      .as[graft.functions.BottomK.Item]
      .groupByKey(_.g)
      .agg(graft.functions.BottomK.bottomK(5).name("ids"))
      .toDF("o_orderstatus", "ids")
      // string-join the sample: the driver sorts result cells in pandas,
      // and a list-typed cell is unhashable there (round-2 oracle crash)
      .select(col("o_orderstatus"),
        array_join(col("ids"), ",").as("sample_ids"))
      .orderBy("o_orderstatus")
  }
  val qBottomkSampleSql: String =
    """SELECT o_orderstatus,
      |  array_to_string((list(o_orderkey ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey))[1:5], ',')
      |    AS sample_ids
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Bitwise scalar family (§2.6 math/conv surface next to CRC32/CONV). */
  val qBitFns: QFn = (s, d) =>
    orders(s, d).select(col("o_orderkey"),
      (col("o_orderkey").bitwiseAND(lit(255L))).as("band"),
      (col("o_orderkey").bitwiseOR(lit(16L))).as("bor"),
      (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("bxor"),
      shiftleft(col("o_orderkey"), 2).as("shl"),
      shiftright(col("o_orderkey"), 3).as("shr"))
      .orderBy("o_orderkey")
  val qBitFnsSql: String =
    """SELECT o_orderkey,
      |  o_orderkey & 255 AS band,
      |  o_orderkey | 16 AS bor,
      |  xor(o_orderkey, o_custkey) AS bxor,
      |  o_orderkey << 2 AS shl,
      |  o_orderkey >> 3 AS shr
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Rank-distribution windows: percent_rank / cume_dist / ntile over a
    * keyed partition (§2.5 completion beyond rank/row_number). */
  val qWindowDist: QFn = (s, d) => {
    val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      (floor(percent_rank().over(w) * 10000.0) / 10000.0).as("pr"),
      (floor(cume_dist().over(w) * 10000.0) / 10000.0).as("cd"),
      ntile(4).over(w).cast(LongType).as("quartile"))
      .orderBy("o_orderkey")
  }
  val qWindowDistSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  floor(percent_rank() OVER w * 10000.0) / 10000.0 AS pr,
      |  floor(cume_dist() OVER w * 10000.0) / 10000.0 AS cd,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Ratio-to-report: each order's share of its priority class's total
    * (window aggregate as denominator). The partition total reduces
    * through DECIMAL then casts to DOUBLE on both sides, so the division
    * inputs — and therefore the correctly-rounded quotient — are
    * bit-identical across engines. */
  val qRatioReport: QFn = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
    orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      TextFunctions.trunc4(
        col("o_totalprice") /
          sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType) * lit(100.0))
        .as("pct_of_class"))
      .orderBy("o_orderkey")
  }
  val qRatioReportSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  floor(o_totalprice /
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |      OVER (PARTITION BY o_orderpriority) AS DOUBLE) * 100.0
      |    * 10000.0) / 10000.0 AS pct_of_class
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Value histogram: fixed-width price buckets with per-bucket stats —
    * the profiling pass run before choosing chunk/skew strategies. Same
    * floor arithmetic on both engines (DuckDB 1.0 lacks width_bucket). */
  val qHistogram: QFn = (s, d) =>
    orders(s, d)
      .groupBy(floor(col("o_totalprice") / lit(50000.0)).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("bucket")
  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  count(*) AS cnt, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Null-handling scalar family: COALESCE / NULLIF / IFNULL / NVL2 /
    * null-safe equality (§2.6 — the reference emits NULL literals and
    * \N round-trips; the engine's null surface must be first-class). */
  val qNullFns: QFn = (s, d) =>
    customer(s, d).select(col("c_custkey"),
      nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("<none>"))
        .as("seg_coal"),
      expr("ifnull(nullif(c_mktsegment, 'MACHINERY'), 'was_machinery')")
        .as("seg_if"),
      expr("nvl2(nullif(c_mktsegment, 'AUTOMOBILE'), 'other', 'auto')")
        .as("seg_nvl2"),
      (col("c_mktsegment") <=> lit("FURNITURE")).as("seg_nse"))
      .orderBy("c_custkey")
  val qNullFnsSql: String =
    """SELECT c_custkey,
      |  nullif(c_mktsegment, 'BUILDING') AS seg_nb,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), '<none>') AS seg_coal,
      |  ifnull(nullif(c_mktsegment, 'MACHINERY'), 'was_machinery') AS seg_if,
      |  CASE WHEN nullif(c_mktsegment, 'AUTOMOBILE') IS NOT NULL
      |       THEN 'other' ELSE 'auto' END AS seg_nvl2,
      |  c_mktsegment IS NOT DISTINCT FROM 'FURNITURE' AS seg_nse
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Ordered string aggregation + distinct-set aggregation (§2.11 — the
    * collect_list/collect_set tier, made deterministic by sorting before
    * the join so DuckDB replays it exactly). */
  val qStringAgg: QFn = (s, d) =>
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        array_join(sort_array(collect_list(
          substring(col("o_orderstatus"), 1, 1))), "").as("status_run"),
        count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")
  val qStringAggSql: String =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
      |  string_agg(substring(o_orderstatus, 1, 1), '' ORDER BY o_orderstatus) AS status_run,
      |  count(*) AS cnt
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** RANGE-frame window over event time: per event, count + exact sum of
    * the same user's events in the trailing hour (value-based frame —
    * the sliding-lookback analog of §2.5's ROWS frames; epoch-seconds
    * ordering so both engines share the frame arithmetic). */
  val qWindowRange: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast(LongType))
      .rangeBetween(-3600, Window.currentRow)
    events(s, d).select(col("event_id"),
      count(lit(1)).over(w).as("cnt_1h"),
      sum(dec2(col("value"))).over(w).cast(DoubleType).as("sum_1h"))
      .orderBy("event_id")
  }
  val qWindowRangeSql: String =
    """SELECT event_id,
      |  count(*) OVER w AS cnt_1h,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** IN-subquery (SQL surface: Catalyst rewrites to a left-semi join —
    * the declarative sibling of q_join_semi's EXISTS). */
  val qInSubquery: QFn = (s, d) => {
    orders(s, d).createOrReplaceTempView("graft_orders_in")
    customer(s, d).createOrReplaceTempView("graft_customer_in")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_orders_in
        |WHERE o_custkey IN (SELECT c_custkey FROM graft_customer_in
        |                    WHERE c_mktsegment = 'MACHINERY')
        |ORDER BY o_orderkey""".stripMargin)
  }
  val qInSubquerySql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'MACHINERY')
      |ORDER BY o_orderkey""".stripMargin

  /** Linear-regression aggregates (§2.4 statistical tier beyond
    * stddev/corr): slope / intercept / count of extendedprice ~ quantity
    * per returnflag, floor-truncated like q_stats_agg. */
  val qRegrAgg: QFn = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag").agg(
      TextFunctions.trunc4(regr_slope(col("l_extendedprice"), col("l_quantity")))
        .as("slope"),
      TextFunctions.trunc4(regr_intercept(col("l_extendedprice"), col("l_quantity")))
        .as("intercept"),
      regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy("l_returnflag")
  val qRegrAggSql: String =
    """SELECT l_returnflag,
      |  floor(regr_slope(l_extendedprice, l_quantity) * 10000.0) / 10000.0 AS slope,
      |  floor(regr_intercept(l_extendedprice, l_quantity) * 10000.0) / 10000.0 AS intercept,
      |  regr_count(l_extendedprice, l_quantity) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Interval arithmetic (§2.6 date surface beyond q_date_fns): ts ±
    * INTERVAL, hour extraction, epoch-hour bucketing over events. */
  val qIntervalArith: QFn = (s, d) =>
    events(s, d).select(col("event_id"),
      (col("ts") + expr("INTERVAL 90 MINUTES")).as("ts_plus"),
      (col("ts") - expr("INTERVAL 1 DAY")).as("ts_minus"),
      hour(col("ts")).cast(LongType).as("hr"),
      (col("ts").cast(LongType) / lit(3600)).cast(LongType).as("epoch_hr"))
      .orderBy("event_id")
  val qIntervalArithSql: String =
    """SELECT event_id,
      |  ts + INTERVAL '90 minutes' AS ts_plus,
      |  ts - INTERVAL '1 day' AS ts_minus,
      |  CAST(hour(ts) AS BIGINT) AS hr,
      |  CAST(floor(epoch(ts) / 3600) AS BIGINT) AS epoch_hr
      |FROM events ORDER BY event_id""".stripMargin

  /** Edit-distance near-dup join (operators.Dedup.editDistancePairs,
    * FastSS deletion neighborhoods): all customer-name pairs within
    * Levenshtein distance 1, aggregated to (dist, pair count, id-sum
    * hash) so the gate pins EXACT pair discovery — the padded
    * sequential c_name digits make thousands of genuine distance-1
    * pairs, so a missed deletion-variant bucket or a broken length
    * band shows up as a count/hash mismatch. The oracle replays the
    * SEMANTICS (all-pairs levenshtein with the length band) rather
    * than the algorithm, so candidate completeness is what's tested. */
  val qDedupEdit: QFn = (s, d) =>
    graft.operators.Dedup.editDistancePairs(customer(s, d), "c_custkey", "c_name", 1)
      .groupBy("dist")
      .agg(count(lit(1)).as("pairs"),
        sum(col("id1") * lit(100003L) + col("id2")).as("ids_hash"))
      .orderBy("dist")
  val qDedupEditSql: String =
    """SELECT CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
      |  CAST(count(*) AS BIGINT) AS pairs,
      |  CAST(sum(a.c_custkey * 100003 + b.c_custkey) AS BIGINT) AS ids_hash
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Edit-distance join at d=2 (round 11): value-gates the SOUNDNESS
    * fix — the old ±d index-compat filter silently dropped shift-shaped
    * distance-2 pairs, and the padded digit keys are full of them
    * (delete a leading digit / append a trailing one — e.g. ids 12/123:
    * "…000012" vs "…000123" is lev 2 via delete-zero + append-3). Fixed
    * id slice (c_custkey % 10 = 0, < 3000 — ~300 DISTINCT-named rows at
    * every sf) so the quadratic d=2 pair fan-out stays bench-bounded
    * while the oracle brute-forces the slice exactly: d=2 on padded
    * digits shares variants across MOST id pairs (a 1000-id slice cost
    * 12 s of verify), and the scaled sf1 table replicates each base
    * NAME 10× under remapped keys — a plain key-range slice there put
    * 1420 entries in one variant bucket (≈1M single-task join rows,
    * 15 s); the modulo picks one replica per name. Shift pairs survive
    * at every sf: x and 10x are both multiples of 10 ("…000120" vs
    * "…001200", lev 2 via delete-leading-zero + append-zero). */
  val qDedupEdit2: QFn = (s, d) =>
    graft.operators.Dedup.editDistancePairs(
        customer(s, d).where(col("c_custkey") % 10 === 0 &&
          col("c_custkey") < 3000), "c_custkey", "c_name", 2)
      .groupBy("dist")
      .agg(count(lit(1)).as("pairs"),
        sum(col("id1") * lit(100003L) + col("id2")).as("ids_hash"))
      .orderBy("dist")
  val qDedupEdit2Sql: String =
    """WITH c AS (SELECT c_custkey, c_name FROM customer
      |          WHERE c_custkey % 10 = 0 AND c_custkey < 3000)
      |SELECT CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
      |  CAST(count(*) AS BIGINT) AS pairs,
      |  CAST(sum(a.c_custkey * 100003 + b.c_custkey) AS BIGINT) AS ids_hash
      |FROM c a JOIN c b
      |  ON a.c_custkey < b.c_custkey
      |  AND abs(length(a.c_name) - length(b.c_name)) <= 2
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Edit-distance join at the CAPPED production shape (maxBucket = 8):
    * the exact gate above measures pair fan-out (output-bound at sf1);
    * this one pins the plan the operator runs in production — hot
    * deletion-variant buckets (shared by > 8 entries) are dropped
    * before the pair join, bounding the blow-up on adversarially dense
    * key spaces. The oracle replays the ALGORITHM (deletion
    * neighborhoods + entry-count bucket cap + d=1 index filter +
    * levenshtein verify) in SQL, so the cap semantics themselves are
    * value-checked: on the padded-digit keys cap=8 keeps the 5/6/7-entry
    * buckets and drops the 12/32/37-entry ones — a cap applied to the
    * wrong side (distinct ids vs entries) or after the join mismatches. */
  val qDedupEditCapped: QFn = (s, d) =>
    graft.operators.Dedup.editDistancePairs(customer(s, d), "c_custkey", "c_name",
        maxDist = 1, maxBucket = 8)
      .groupBy("dist")
      .agg(count(lit(1)).as("pairs"),
        sum(col("id1") * lit(100003L) + col("id2")).as("ids_hash"))
      .orderBy("dist")
  val qDedupEditCappedSql: String =
    """WITH ent AS (
      |  SELECT c_custkey AS id, c_name AS s, length(c_name) AS len,
      |         CASE WHEN i = 0 THEN c_name
      |              ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1) END AS vk,
      |         CASE WHEN i = 0 THEN 0 ELSE 1 END AS cnt, i AS p
      |  FROM customer, (SELECT unnest(range(0, 65)) AS i) g
      |  WHERE i <= length(c_name)
      |),
      |live AS (
      |  SELECT * FROM ent
      |  WHERE vk IN (SELECT vk FROM ent GROUP BY vk HAVING count(*) <= 8)
      |),
      |pairs AS (
      |  SELECT DISTINCT a.id AS id1, b.id AS id2, levenshtein(a.s, b.s) AS dist
      |  FROM live a JOIN live b ON a.vk = b.vk AND a.id < b.id
      |   AND abs(a.len - b.len) <= 1 AND (a.cnt <> b.cnt OR a.p = b.p)
      |  WHERE levenshtein(a.s, b.s) <= 1
      |)
      |SELECT CAST(dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS pairs,
      |       CAST(sum(id1 * 100003 + id2) AS BIGINT) AS ids_hash
      |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  /** PageRank link authority (operators.Graphs.pageRank): 6 damped
    * power-iteration rounds over the event "handoff" graph (per
    * (event_type, day) stream, each event's user links to the next
    * event's user), all arithmetic in scaled BIGINT so both engines
    * produce the IDENTICAL fixed-point ranks — the oracle replays every
    * round as an unrolled WITH chain generated from the same constants.
    * Crawl-pipeline shape: domain authority computed once per snapshot,
    * joined onto documents as a quality prior. */
  val qPageRank: QFn = (s, d) =>
    graft.operators.Graphs.pageRank(
        graft.operators.Graphs.eventHandoffEdges(events(s, d)), "src", "dst",
        iters = pageRankIters, scale = pageRankScale)
      .orderBy(col("rank").desc, col("node"))
      .limit(25)
  private val pageRankIters = 6
  private val pageRankScale = 1000000000000L
  private def pageRankOracle(weighted: Boolean): String = {
    val (num, den) = (85L, 100L)
    val teleport = pageRankScale / den * (den - num) +
      pageRankScale % den * (den - num) / den
    // the engine's overflow-free exact floor(rank·w / wsum); for the
    // unweighted graph w = 1 and this reduces to rank // wsum
    val contrib = "(r.rank // e.wsum) * e.w + ((r.rank % e.wsum) * e.w) // e.wsum"
    val rounds = (1 to pageRankIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, sum($contrib) AS m
         |  FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1),
         |r$i AS (SELECT n.node,
         |  CAST($teleport + ($num * COALESCE(c.m, 0)) // $den AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
    val e0 =
      if (weighted)
        """e0 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM raw
          |       WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2),""".stripMargin
      else
        """e0 AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM (
          |       SELECT DISTINCT src, dst FROM raw
          |       WHERE dst IS NOT NULL AND dst <> src)),""".stripMargin
    s"""WITH raw AS (
       |  SELECT user_id AS src,
       |    lead(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
       |                        ORDER BY event_id) AS dst
       |  FROM events),
       |$e0
       |od AS (SELECT src, sum(w) AS wsum FROM e0 GROUP BY 1),
       |e AS (SELECT e0.src, e0.dst, e0.w, od.wsum
       |      FROM e0 JOIN od ON e0.src = od.src),
       |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       |r0 AS (SELECT node, CAST($pageRankScale AS BIGINT) AS rank FROM nodes),
       |$rounds
       |SELECT node, rank FROM r$pageRankIters
       |ORDER BY rank DESC, node LIMIT 25""".stripMargin
  }
  val qPageRankSql: String = pageRankOracle(weighted = false)

  /** Weighted PageRank (operators.Graphs.pageRankWeighted): handoff
    * FREQUENCY as the edge weight — a user's rank splits
    * proportionally across observed transitions instead of uniformly
    * across distinct neighbors. Same unrolled-WITH-chain oracle, with
    * the engine's overflow-free floor(rank·w/W) decomposition replayed
    * verbatim. */
  val qPageRankWeighted: QFn = (s, d) =>
    graft.operators.Graphs.pageRankWeighted(
        graft.operators.Graphs.eventHandoffEdges(events(s, d)), "src", "dst",
        iters = pageRankIters, scale = pageRankScale)
      .orderBy(col("rank").desc, col("node"))
      .limit(25)
  val qPageRankWeightedSql: String = pageRankOracle(weighted = true)

  /** PageRank served FROM the persisted link-graph store
    * (Graphs.appendEdges/rankWithStore): the handoff edges
    * are split into two crawl batches (by (src+dst) parity), each batch
    * appends its per-(src,dst) multi-edge COUNTS blind, and the rank is
    * computed from the merged store — which must hash-match the one-shot
    * weighted rank's oracle exactly (per-batch counts sum to the
    * one-shot counts; the rank kernel is integer-exact, so
    * store-served == corpus-rescan bit-for-bit). The round-11 closing of
    * the "every corpus artifact has a blind-append store except the link
    * graph" gap; GraphStoreSpec adds retry-replay neutrality. */
  val qPageRankStore: QFn = (s, d) =>
    graft.operators.Graphs.rankWithStore(s, storedHandoffDir(s, d),
      weighted = true, iters = pageRankIters, scale = pageRankScale)
      .orderBy(col("rank").desc, col("node"))
      .limit(25)
  private val graphStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  val qPageRankStoreSql: String = pageRankOracle(weighted = true)

  /** Per-node triangle counts (operators.Graphs.triangleCounts) over
    * the same event handoff graph as [[qPageRank]] — local clustering
    * signal for link-farm/clique detection. Engine uses degree-ordered
    * orientation (O(m^1.5) wedge bound); the oracle replays the
    * SEMANTICS with the simpler id-canonical 3-way self-join —
    * triangle counts are orientation-invariant, so the two agree
    * exactly. */
  val qTriangles: QFn = (s, d) =>
    graft.operators.Graphs.triangleCounts(
        graft.operators.Graphs.eventHandoffEdges(events(s, d)), "src", "dst")
      .orderBy(col("tri").desc, col("node"))
      .limit(20)
  val qTrianglesSql: String =
    """WITH raw AS (
      |  SELECT user_id AS src,
      |    lead(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |                        ORDER BY event_id) AS dst
      |  FROM events),
      |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM raw WHERE dst IS NOT NULL AND dst <> src),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
      |SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
      |  SELECT x AS node FROM t
      |  UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t)
      |GROUP BY node ORDER BY tri DESC, node LIMIT 20""".stripMargin

  /** Deterministic label-propagation communities
    * (operators.Graphs.labelPropagation) over the SUPPORT-FILTERED
    * handoff graph (a pair must hand off ≥3 times to count as an edge —
    * on the raw graph the dense one-off noise collapses everything into
    * one community; with support the sf0.01 graph keeps 25): 4
    * synchronous rounds, most-frequent-neighbor-label with the
    * count-DESC/label-ASC total tie order, so the oracle replays every
    * round as an unrolled window-argmax chain. Output: the 20 largest
    * communities. */
  val qLabelProp: QFn = (s, d) => {
    val supported = graft.operators.Graphs.eventHandoffEdges(events(s, d))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .where(col("w") >= 3).select("src", "dst")
    graft.operators.Graphs.labelPropagation(supported, "src", "dst", iters = 4)
      .groupBy(col("community")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community"))
      .limit(20)
  }
  val qLabelPropSql: String = {
    val rounds = (1 to 4).map { i =>
      s"""c$i AS (SELECT e.a AS node, l.label, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.b = l.node GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |  FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT user_id AS src,
       |    lead(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
       |                        ORDER BY event_id) AS dst
       |  FROM events),
       |f AS (SELECT src, dst FROM raw WHERE dst IS NOT NULL AND dst <> src
       |      GROUP BY 1, 2 HAVING count(*) >= 3),
       |e AS (SELECT DISTINCT a, b FROM (
       |  SELECT src AS a, dst AS b FROM f
       |  UNION ALL SELECT dst AS a, src AS b FROM f)),
       |l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
       |$rounds
       |SELECT label AS community, CAST(count(*) AS BIGINT) AS size
       |FROM l4 GROUP BY 1 ORDER BY size DESC, community LIMIT 20""".stripMargin
  }

  /** The link-graph store serving the OTHER graph operators (round 11):
    * the same two appended batches that power q_pagerank_store feed
    * triangle counting and label propagation — the store preserves
    * per-(src,dst) multi-edge counts, so the LPA support filter
    * (w ≥ 3) applies to store-merged weights exactly as it would to a
    * corpus rescan. Both gates SHARE their one-shot oracle text
    * (q_triangles / q_label_prop) — the output-identity contract. */
  private def storedHandoffDir(s: SparkSession, d: String): String =
    graphStoreCache.computeIfAbsent(d, { _ =>
      val t = Scratch.dir("graft_graph") + "/edges"
      val edges = graft.operators.Graphs.eventHandoffEdges(events(s, d))
      graft.operators.Graphs.appendEdges(
        edges.where(pmod(col("src") + col("dst"), lit(2)) === 0),
        "src", "dst", t, batchId = "even")
      graft.operators.Graphs.appendEdges(
        edges.where(pmod(col("src") + col("dst"), lit(2)) === 1),
        "src", "dst", t, batchId = "odd")
      t
    })
  val qTrianglesStore: QFn = (s, d) =>
    graft.operators.Graphs.triangleCounts(
        graft.operators.Graphs.readEdges(s, storedHandoffDir(s, d)),
        "src", "dst")
      .orderBy(col("tri").desc, col("node"))
      .limit(20)
  val qTrianglesStoreSql: String = qTrianglesSql
  val qLabelPropStore: QFn = (s, d) => {
    val supported = graft.operators.Graphs.readEdges(s, storedHandoffDir(s, d))
      .where(col("w") >= 3).select("src", "dst")
    graft.operators.Graphs.labelPropagation(supported, "src", "dst", iters = 4)
      .groupBy(col("community")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community"))
      .limit(20)
  }
  val qLabelPropStoreSql: String = qLabelPropSql

  // ------------------------------------------------------------- registry
  val all: Map[String, QFn] = Map(
    "q_scan_project" -> qScanProject,
    "q_proj_compute" -> qProjCompute,
    "q_filter_where" -> qFilterWhere,
    "q_chunk_pred" -> qChunkPred,
    "q_limit_topk" -> qLimitTopK,
    "q_minmax" -> qMinMax,
    "q_count_where" -> qCountWhere,
    "q_checksum" -> qChecksum,
    "q1_agg" -> q1Agg,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_pivot" -> qPivot,
    "q_percentile" -> qPercentile,
    "q_approx_distinct" -> qApproxDistinct,
    "q_stats_agg" -> qStatsAgg,
    "q_distinct_agg" -> qDistinctAgg,
    "q_range_join" -> qRangeJoin,
    "q_explode_tokens" -> qExplodeTokens,
    "q_join_revenue" -> qJoinRevenue,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_asof_join" -> qAsofJoin,
    "q_having" -> qHaving,
    "q_topk_revenue" -> qTopkRevenue,
    "q_scalar_subquery" -> qScalarSubquery,
    "q_salted_agg" -> qSaltedAgg,
    "q_window_rank" -> qWindowRank,
    "q_window_running" -> qWindowRunning,
    "q_window_lead" -> qWindowLead,
    "q_ntile_chunks" -> qNtileChunks,
    "q_string_chunks" -> qStringChunks,
    "q_session_window" -> qSessionWindow,
    "q_setops" -> qSetOps,
    "q_masquerade" -> qMasquerade,
    "q_mask_hash" -> qMaskHash,
    "q_scalar_fns" -> qScalarFns,
    "q_json_extract" -> qJsonExtract,
    "q_text_stats" -> qTextStats,
    "q_lang_id" -> qLangId,
    "q_lang_segments" -> qLangSegments,
    "q_token_totals" -> qTokenTotals,
    "q_oov_rate" -> qOovRate,
    "q_text_metrics" -> qTextMetrics,
    "q_boilerplate" -> qBoilerplate,
    "q_rolling_fp" -> qRollingFp,
    "q_winnow" -> qWinnow,
    "q_winnow_pairs" -> qWinnowPairs,
    "q_dedup_edit" -> qDedupEdit,
    "q_dedup_edit_capped" -> qDedupEditCapped,
    "q_dedup_edit2" -> qDedupEdit2,
    "q_pagerank" -> qPageRank,
    "q_triangles" -> qTriangles,
    "q_freq_store" -> qFreqStore,
    "q_pagerank_weighted" -> qPageRankWeighted,
    "q_pagerank_store" -> qPageRankStore,
    "q_triangles_store" -> qTrianglesStore,
    "q_label_prop_store" -> qLabelPropStore,
    "q_label_prop" -> qLabelProp,
    "q_pii_scan" -> qPiiScan,
    "q_repetition" -> qRepetition,
    "q_lm_score" -> qLmScore,
    "q_bpe_merges" -> qBpeMerges,
    "q_bpe_encode" -> qBpeEncode,
    "q_bpe_encode_large" -> qBpeEncodeLarge,
    "q_dedup_exact" -> qDedupExact,
    "q_dup_spans" -> qDupSpans,
    "q_dup_span_ratio" -> qDupSpanRatio,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_minhash_recall" -> qDedupMinhashRecall,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_simhash_recall" -> qDedupSimhashRecall,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_dedup_embedding_exact" -> qDedupEmbeddingExact,
    "q_dedup_ngram" -> qDedupNgram,
    "q_dedup_clusters" -> qDedupClusters,
    "q_semdedup" -> qSemDedup,
    "q_tfidf" -> qTfidf,
    "q_sample_hash" -> qSampleHash,
    "q_shuffle_shards" -> qShuffleShards,
    "q_stratified" -> qStratified,
    "q_reservoir" -> qReservoir,
    "q_zorder" -> qZorder,
    "q_pack_stats" -> qPackStats,
    "q_ann_cosine" -> qAnnCosine,
    "q_ann_projected" -> qAnnProjected,
    "q_ann_projected_recall" -> qAnnProjectedRecall,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_ivf_full" -> qAnnIvfFull,
    "q_ann_index" -> qAnnIndex,
    "q_ann_batch" -> qAnnBatch,
    "q_embed_stats" -> qEmbedStats,
    "q_url_parse" -> qUrlParse,
    "q_domain_quota" -> qDomainQuota,
    "q_dedup_url" -> qDedupUrl,
    "q_curate" -> qCurate,
    "q_curate_store" -> qCurateStore,
    "q_media_semdedup" -> qMediaSemdedup,
    "q_media_dedup_incremental" -> qMediaDedupIncremental,
    "q_audio_semdedup" -> qAudioSemdedup,
    "q_video_semdedup" -> qVideoSemdedup,
    "q_video_semdedup_robust" -> qVideoSemdedupRobust,
    "q_video_scene_semdedup" -> qVideoSceneSemdedup,
    "q_video_scene_borderline" -> qVideoSceneBorderline,
    "q_multimodal" -> qMultimodal,
    "q_window_events" -> qWindowEvents,
    "q_stream_join" -> qStreamJoin,
    "q_doc_chunks" -> qDocChunks,
    "q_decontam" -> qDecontam,
    "q_decontam_bloom" -> qDecontamBloom,
    "q_quality_filter" -> qQualityFilter,
    "q_quality_classifier" -> qQualityClassifier,
    "q_quality_classifier_table" -> qQualityClassifierTable,
    "q_temperature_sample" -> qTemperatureSample,
    "q_temperature_sample_store" -> qTemperatureSampleStore,
    "q_sentence_dedup" -> qSentenceDedup,
    "q_sentence_dedup_store" -> qSentenceDedupStore,
    "q_audio_stats" -> qAudioStats,
    "q_link_extract" -> qLinkExtract,
    "q_video_scenes" -> qVideoScenes,
    "q_assembly" -> qAssembly,
    "q_split_decontam" -> qSplitDecontam,
    "q_window_firstlast" -> qWindowFirstLast,
    "q_date_fns" -> qDateFns,
    "q_array_fns" -> qArrayFns,
    "q_skew_join" -> qSkewJoin,
    "q_regex_fns" -> qRegexFns,
    "q_posexplode" -> qPosexplode,
    "q_unpivot" -> qUnpivot,
    "q_mixture" -> qMixture,
    "q_map_fns" -> qMapFns,
    "q_knn_exact" -> qKnnExact,
    "q_knn_graph" -> qKnnGraph,
    "q_knn_graph_capped" -> qKnnGraphCapped,
    "q_knn_lsh_exact" -> qKnnLshExact,
    "q_knn_recall" -> qKnnRecall,
    "q_embed_recall" -> qEmbedRecall,
    "q_ann_ivf_recall" -> qAnnIvfRecall,
    "q_ann_quantized" -> qAnnQuantized,
    "q_ann_quantized_recall" -> qAnnQuantizedRecall,
    "q_bm25" -> qBm25,
    "q_bm25_batch" -> qBm25Batch,
    "q_hybrid_rrf" -> qHybridRrf,
    "q_kmeans" -> qKmeans,
    "q_ann_ivf_kmeans" -> qAnnIvfKmeans,
    "q_bm25_index" -> qBm25Index,
    "q_lm_store" -> qLmStore,
    "q_sketch_store" -> qSketchStore,
    "q_dsir" -> qDsir,
    "q_dsir_sample" -> qDsirSample,
    "q_lm_buckets" -> qLmBuckets,
    "q_curriculum" -> qCurriculum,
    "q_cond_agg" -> qCondAgg,
    "q_asof_fwd" -> qAsofFwd,
    "q_merge_upsert" -> qMergeUpsert,
    "q_bottomk_sample" -> qBottomkSample,
    "q_bit_fns" -> qBitFns,
    "q_window_dist" -> qWindowDist,
    "q_histogram" -> qHistogram,
    "q_null_fns" -> qNullFns,
    "q_string_agg" -> qStringAgg,
    "q_window_range" -> qWindowRange,
    "q_in_subquery" -> qInSubquery,
    "q_regr_agg" -> qRegrAgg,
    "q_interval_arith" -> qIntervalArith,
    "q_setops_all" -> qSetopsAll,
    "q_range_join_auto" -> qRangeJoinAuto,
    "q_checksum_md5" -> qChecksumMd5,
    "q_checksum_struct" -> qChecksumStruct,
    "q_approx_quantile" -> qApproxQuantile,
    "q_scd2" -> qScd2,
    "q_ratio_report" -> qRatioReport)

  val oracles: Map[String, String] = Map(
    "q_scan_project" -> qScanProjectSql,
    "q_proj_compute" -> qProjComputeSql,
    "q_filter_where" -> qFilterWhereSql,
    "q_chunk_pred" -> qChunkPredSql,
    "q_limit_topk" -> qLimitTopKSql,
    "q_minmax" -> qMinMaxSql,
    "q_count_where" -> qCountWhereSql,
    "q1_agg" -> q1AggSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_pivot" -> qPivotSql,
    "q_percentile" -> qPercentileSql,
    "q_stats_agg" -> qStatsAggSql,
    "q_distinct_agg" -> qDistinctAggSql,
    "q_range_join" -> qRangeJoinSql,
    "q_explode_tokens" -> qExplodeTokensSql,
    "q_join_revenue" -> qJoinRevenueSql,
    "q_join_semi" -> qJoinSemiSql,
    "q_join_anti" -> qJoinAntiSql,
    "q_asof_join" -> qAsofJoinSql,
    "q_having" -> qHavingSql,
    "q_topk_revenue" -> qTopkRevenueSql,
    "q_scalar_subquery" -> qScalarSubquerySql,
    "q_salted_agg" -> qSaltedAggSql,
    "q_window_rank" -> qWindowRankSql,
    "q_window_running" -> qWindowRunningSql,
    "q_window_lead" -> qWindowLeadSql,
    "q_ntile_chunks" -> qNtileChunksSql,
    "q_string_chunks" -> qStringChunksSql,
    "q_session_window" -> qSessionWindowSql,
    "q_setops" -> qSetOpsSql,
    "q_masquerade" -> qMasqueradeSql,
    "q_mask_hash" -> qMaskHashSql,
    "q_scalar_fns" -> qScalarFnsSql,
    "q_json_extract" -> qJsonExtractSql,
    "q_text_stats" -> qTextStatsSql,
    "q_lang_id" -> qLangIdSql,
    "q_lang_segments" -> qLangSegmentsSql,
    "q_token_totals" -> qTokenTotalsSql,
    "q_oov_rate" -> qOovRateSql,
    "q_text_metrics" -> qTextMetricsSql,
    "q_boilerplate" -> qBoilerplateSql,
    "q_pii_scan" -> qPiiScanSql,
    "q_repetition" -> qRepetitionSql,
    "q_lm_score" -> qLmScoreSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_bpe_encode_large" -> qBpeEncodeLargeSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dup_spans" -> qDupSpansSql,
    "q_dup_span_ratio" -> qDupSpanRatioSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_dedup_ngram" -> qDedupNgramSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_semdedup" -> qSemDedupSql,
    "q_tfidf" -> qTfidfSql,
    "q_sample_hash" -> qSampleHashSql,
    "q_stratified" -> qStratifiedSql,
    "q_reservoir" -> qReservoirSql,
    "q_zorder" -> qZorderSql,
    "q_ann_cosine" -> qAnnCosineSql,
    "q_ann_projected" -> qAnnProjectedSql,
    "q_ann_projected_recall" -> qAnnProjectedRecallSql,
    "q_ann_ivf_full" -> qAnnIvfFullSql,
    "q_ann_ivf" -> qAnnIvfSql,
    "q_knn_graph" -> qKnnGraphSql,
    "q_knn_graph_capped" -> qKnnGraphCappedSql,
    "q_ann_index" -> qAnnIndexSql,
    "q_ann_batch" -> qAnnBatchSql,
    "q_embed_stats" -> qEmbedStatsSql,
    "q_window_events" -> qWindowEventsSql,
    "q_stream_join" -> qStreamJoinSql,
    "q_doc_chunks" -> qDocChunksSql,
    "q_decontam" -> qDecontamSql,
    // q_decontam_bloom intentionally shares q_decontam's oracle text:
    // the bloom path must produce the IDENTICAL result
    "q_decontam_bloom" -> qDecontamSql,
    "q_quality_filter" -> qQualityFilterSql,
    "q_quality_classifier" -> qQualityClassifierSql,
    "q_quality_classifier_table" -> qQualityClassifierSql,
    "q_temperature_sample" -> qTemperatureSampleSql,
    "q_temperature_sample_store" -> qTemperatureSampleSql,
    "q_sentence_dedup" -> qSentenceDedupSql,
    "q_sentence_dedup_store" -> qSentenceDedupSql,
    "q_audio_stats" -> qAudioStatsSql,
    "q_link_extract" -> qLinkExtractSql,
    "q_video_scenes" -> qVideoScenesSql,
    "q_assembly" -> qAssemblySql,
    "q_split_decontam" -> qSplitDecontamSql,
    "q_window_firstlast" -> qWindowFirstLastSql,
    "q_date_fns" -> qDateFnsSql,
    "q_array_fns" -> qArrayFnsSql,
    "q_skew_join" -> qSkewJoinSql,
    "q_regex_fns" -> qRegexFnsSql,
    "q_posexplode" -> qPosexplodeSql,
    "q_unpivot" -> qUnpivotSql,
    "q_mixture" -> qMixtureSql,
    "q_map_fns" -> qMapFnsSql,
    "q_knn_exact" -> qKnnExactSql,
    // q_knn_lsh_exact intentionally shares q_knn_exact's oracle text:
    // at bits=0 the LSH path must produce the IDENTICAL exact graph
    "q_knn_lsh_exact" -> qKnnExactSql,
    "q_cond_agg" -> qCondAggSql,
    "q_asof_fwd" -> qAsofFwdSql,
    "q_merge_upsert" -> qMergeUpsertSql,
    "q_bottomk_sample" -> qBottomkSampleSql,
    "q_bit_fns" -> qBitFnsSql,
    "q_window_dist" -> qWindowDistSql,
    "q_histogram" -> qHistogramSql,
    "q_null_fns" -> qNullFnsSql,
    "q_string_agg" -> qStringAggSql,
    "q_window_range" -> qWindowRangeSql,
    "q_in_subquery" -> qInSubquerySql,
    "q_regr_agg" -> qRegrAggSql,
    "q_interval_arith" -> qIntervalArithSql,
    "q_setops_all" -> qSetopsAllSql,
    "q_rolling_fp" -> qRollingFpSql,
    "q_winnow" -> qWinnowSql,
    "q_winnow_pairs" -> qWinnowPairsSql,
    "q_dedup_edit" -> qDedupEditSql,
    "q_dedup_edit_capped" -> qDedupEditCappedSql,
    "q_dedup_edit2" -> qDedupEdit2Sql,
    "q_pagerank" -> qPageRankSql,
    "q_triangles" -> qTrianglesSql,
    "q_freq_store" -> qFreqStoreSql,
    "q_pagerank_weighted" -> qPageRankWeightedSql,
    "q_pagerank_store" -> qPageRankStoreSql,
    "q_triangles_store" -> qTrianglesStoreSql,
    "q_label_prop_store" -> qLabelPropStoreSql,
    "q_label_prop" -> qLabelPropSql,
    "q_range_join_auto" -> qRangeJoinAutoSql,
    "q_checksum" -> qChecksumSql,
    "q_checksum_md5" -> qChecksumMd5Sql,
    "q_checksum_struct" -> qChecksumStructSql,
    "q_approx_distinct" -> qApproxDistinctSql,
    "q_knn_recall" -> qKnnRecallSql,
    "q_dedup_minhash_recall" -> qDedupMinhashRecallSql,
    "q_dedup_simhash_recall" -> qDedupSimhashRecallSql,
    "q_dedup_incremental" -> qDedupIncrementalSql,
    "q_embed_recall" -> qEmbedRecallSql,
    "q_dedup_embedding_exact" -> qDedupEmbeddingExactSql,
    "q_dedup_embedding" -> qDedupEmbeddingSql,
    "q_pack_stats" -> qPackStatsSql,
    "q_ann_ivf_recall" -> qAnnIvfRecallSql,
    "q_ann_quantized" -> qAnnQuantizedSql,
    "q_ann_quantized_recall" -> qAnnQuantizedRecallSql,
    "q_bm25" -> qBm25Sql,
    "q_bm25_batch" -> qBm25BatchSql,
    "q_hybrid_rrf" -> qHybridRrfSql,
    "q_kmeans" -> qKmeansSql,
    "q_ann_ivf_kmeans" -> qAnnIvfKmeansSql,
    "q_bm25_index" -> qBm25IndexSql,
    "q_lm_store" -> qLmStoreSql,
    "q_sketch_store" -> qSketchStoreSql,
    "q_dsir" -> qDsirSql,
    "q_dsir_sample" -> qDsirSampleSql,
    "q_lm_buckets" -> qLmBucketsSql,
    "q_curriculum" -> qCurriculumSql,
    "q_shuffle_shards" -> qShuffleShardsSql,
    "q_approx_quantile" -> qApproxQuantileSql,
    "q_scd2" -> qScd2Sql,
    "q_ratio_report" -> qRatioReportSql,
    "q_multimodal" -> qMultimodalSql,
    "q_url_parse" -> qUrlParseSql,
    "q_domain_quota" -> qDomainQuotaSql,
    "q_dedup_url" -> qDedupUrlSql,
    "q_curate" -> qCurateSql,
    "q_curate_store" -> qCurateStoreSql,
    "q_media_semdedup" -> qMediaSemdedupSql,
    "q_media_dedup_incremental" -> qMediaSemdedupSql,
    "q_audio_semdedup" -> qMediaSemdedupSql,
    "q_video_semdedup" -> qMediaSemdedupSql,
    "q_video_semdedup_robust" -> qMediaSemdedupSql,
    "q_video_scene_semdedup" -> qMediaSemdedupSql,
    "q_video_scene_borderline" -> qMediaSemdedupSql)
}
