package graft.operators

import graft.core.ChunkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partition / chunk planner — SURVEY §2.7 (C1-C5) re-expressed as static
  * planning over DataFrames.
  *
  * The reference splits every table into independently scannable ranges
  * (integer-PK ranges with binary-split work stealing, string-prefix
  * walks, physical partitions — mydumper_chunks.c:312-345,
  * mydumper_integer_chunks.c, mydumper_string_chunks.c). On Spark the
  * dynamic stealing machinery disappears: we over-partition into
  * fine-grained ranges and let the task scheduler + AQE do the
  * load-balancing. What remains is exactly this planner: pick a strategy,
  * compute boundaries (min/max probe or sampled quantiles — one cheap agg
  * job, never a collect of data rows), and emit WHERE-shaped predicates
  * usable both as `spark.read.jdbc(predicates=...)` partitions and as
  * DataFrame filters.
  */
object ChunkPlanner {

  /** C1 fast path: rows ≤ minChunkStep → whole table
    * (mydumper_chunks.c:323-338). */
  val MinChunkStepSize = 1000L // mydumper_chunks.h:22

  /** Strategy chooser (C1, set_chunk_strategy_for_dbt). */
  def choose(rowEstimate: Long, pkType: Option[String], partitions: Seq[String],
      rowsPerChunk: Long = MinChunkStepSize): Strategy =
    if (partitions.nonEmpty) Strategy.ByPartition
    else if (rowEstimate >= 0 && rowEstimate <= rowsPerChunk) Strategy.Whole
    else pkType match {
      case Some(t) if Set("tinyint", "smallint", "int", "integer", "bigint",
        "byte", "short", "long").contains(t.toLowerCase) => Strategy.IntRange
      case Some(_) => Strategy.StringRange
      case None    => Strategy.Whole
    }

  sealed trait Strategy
  object Strategy {
    case object Whole extends Strategy
    case object IntRange extends Strategy
    case object StringRange extends Strategy
    case object ByPartition extends Strategy
  }

  /** A planned chunk: closed-open unless noted; `where` matches the
    * reference's generated predicate shape
    * (mydumper_integer_chunks.c:945-1018: `(f >= lo AND f <= hi)`,
    * first chunk ORs IS NULL). */
  final case class Chunk(id: Int, where: String, filter: Column)

  /** C2 — integer range chunks from [min,max] with fixed step.
    * Boundaries are aligned to `min` so chunk membership is a pure
    * arithmetic function of the key (oracle-checkable). */
  def integerChunks(column: String, min: Long, max: Long, step: Long,
      includeNull: Boolean = true, quote: String = "`"): Seq[Chunk] = {
    require(step > 0, "step must be positive")
    // count the chunks in BigInt: max-min itself can overflow Long for
    // full-span keys, and a silent .toInt truncation would drop chunks
    // (= silent row loss when the plan drives extraction predicates)
    val nBig = ((BigInt(max) - BigInt(min)) / BigInt(step)) + 1
    require(nBig <= Int.MaxValue, s"step $step too small for [$min,$max]: $nBig chunks")
    val n = nBig.toInt
    (0 until n).map { i =>
      val lo = min + i.toLong * step
      val hi = math.min(lo + step - 1, max)
      val qc = s"$quote$column$quote"
      val base = s"($qc >= $lo AND $qc <= $hi)"
      val where = if (i == 0 && includeNull) s"($base OR $qc IS NULL)" else base
      val f0 = col(column) >= lo && col(column) <= hi
      val f = if (i == 0 && includeNull) f0 || col(column).isNull else f0
      Chunk(i, where, f)
    }
  }

  /** C2 for BIGINT UNSIGNED (SURVEY §7 "hard" #4): the reference keeps a
    * dual signed/unsigned path (mydumper_chunks.c:153-168) because u64
    * exceeds i64; the engine maps the column to DECIMAL(20,0) and chunks
    * with exact BigInt arithmetic — same predicate shapes, no overflow at
    * any key value. */
  def decimalChunks(column: String, min: BigInt, max: BigInt, step: BigInt,
      includeNull: Boolean = true, quote: String = "`"): Seq[Chunk] = {
    require(step > 0, "step must be positive")
    // u64 spans with a small step overflow Int: materializing the range
    // must be refused loudly, not truncated to a wrong chunk count
    val nBig = ((max - min) / step) + 1
    require(nBig <= Int.MaxValue, s"step $step too small for [$min,$max]: $nBig chunks")
    val n = nBig.toInt
    (0 until n).map { i =>
      val lo = min + BigInt(i) * step
      val hi = (lo + step - 1).min(max)
      val qc = s"$quote$column$quote"
      val base = s"($qc >= $lo AND $qc <= $hi)"
      val where = if (i == 0 && includeNull) s"($base OR $qc IS NULL)" else base
      val loD = new java.math.BigDecimal(lo.bigInteger)
      val hiD = new java.math.BigDecimal(hi.bigInteger)
      val f0 = col(column) >= lit(loD) && col(column) <= lit(hiD)
      val f = if (i == 0 && includeNull) f0 || col(column).isNull else f0
      Chunk(i, where, f)
    }
  }

  /** C2 descent — multi-column integer-PK chunks
    * (mydumper_integer_chunks.c:354-396,640-699): per distinct leading
    * value, nested [[integerChunks]] on the second key column, each
    * wrapped in the prefix equality. The FIRST chunk overall ORs the
    * NULL catch-alls (`prefix IS NULL OR col IS NULL`) so rows with a
    * NULL anywhere in the key land exactly once — the same
    * first-chunk-carries-NULLs convention as the single-column plan.
    * `parts` = (prefixValue, min, max, step) per leading value. */
  def multiIntChunks(prefixColumn: String, column: String,
      parts: Seq[(Long, Long, Long, Long)], includeNull: Boolean = true,
      quote: String = "`"): Seq[Chunk] = {
    val qp = s"$quote$prefixColumn$quote"
    val qc = s"$quote$column$quote"
    val inner = parts.flatMap { case (v, mn, mx, step) =>
      integerChunks(column, mn, mx, step, includeNull = false, quote)
        .map(c => (s"($qp = $v AND ${c.where})",
          col(prefixColumn) === v && c.filter))
    }
    inner.zipWithIndex.map { case ((w, f), i) =>
      if (i == 0 && includeNull)
        Chunk(i, s"($w OR $qp IS NULL OR $qc IS NULL)",
          f || col(prefixColumn).isNull || col(column).isNull)
      else Chunk(i, w, f)
    }
  }

  /** Probe min/max (A1 — one agg job, map-side combine). None = the
    * table (or its filtered slice) has no rows — min/max aggregate to
    * NULL, and a chunk plan over an empty range is the caller's no-op,
    * not a crash (the reference's empty-table path writes nothing,
    * mydumper_file_handler.c:194). */
  def intBoundsOpt(df: DataFrame, column: String): Option[(Long, Long)] = {
    val r = df.agg(min(col(column)).cast("long"), max(col(column)).cast("long")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) None
    else Some((r.getLong(0), r.getLong(1)))
  }

  def intBounds(df: DataFrame, column: String): (Long, Long) =
    intBoundsOpt(df, column).getOrElse(
      throw new IllegalArgumentException(s"no rows to bound on $column"))

  /** C3 — chunk-timing feedback for JDBC extraction (reference
    * mydumper_integer_chunks.c:781-826): after a chunk of
    * `rowsOfLastRun` rows took `elapsedSec`, resize the step so the
    * next SELECT lands near `targetSecPerChunk` (the reference's
    * `max_time_per_select`, mydumper_arguments.h:32 default 2 s) —
    * `step = rows × target / elapsed`. A zero-row or sub-resolution
    * run doubles the step instead (the reference's escape when the
    * range is sparse). The result is clamped to [minStep, maxStep]
    * (mydumper_table.c:414-440; MIN_CHUNK_STEP_SIZE=1000,
    * mydumper_chunks.h:22; maxStep=0 = uncapped, the `--rows-hard`
    * convention). File sources don't need this (AQE re-plans from real
    * partition sizes); a live JDBC source has no AQE upstream of the
    * database, so the probe-chunk feedback is the one piece of the
    * reference's adaptivity with no built-in Spark substitute. */
  def retarget(currentStep: Long, rowsOfLastRun: Long, elapsedSec: Double,
      targetSecPerChunk: Double = 2.0,
      minStep: Long = 1000L, maxStep: Long = 0L): Long = {
    require(currentStep > 0, s"non-positive step: $currentStep")
    val raw =
      if (elapsedSec > 0 && rowsOfLastRun > 0)
        (rowsOfLastRun * targetSecPerChunk / elapsedSec).toLong
      else math.min(currentStep, Long.MaxValue / 2) * 2
    val capped = if (maxStep != 0 && raw > maxStep) maxStep else raw
    math.max(capped, minStep)
  }

  /** Iterate [[retarget]] against observed timings until the step
    * stabilizes (relative change ≤ tol) — the planner loop a JDBC
    * extraction driver runs between its probe chunk and the full plan.
    * `timeOf(step)` reports the observed seconds for a step-sized chunk. */
  def converge(startStep: Long, timeOf: Long => Double,
      targetSecPerChunk: Double = 2.0, minStep: Long = 1000L,
      maxStep: Long = 0L, maxIters: Int = 8, tol: Double = 0.1): Long = {
    var step = startStep
    var i = 0
    while (i < maxIters) {
      val next = retarget(step, step, timeOf(step), targetSecPerChunk,
        minStep, maxStep)
      if (math.abs(next - step).toDouble / step <= tol) return next
      step = next
      i += 1
    }
    step
  }

  /** Plan integer chunks sized for a target number of chunks (the Spark
    * replacement of adaptive 2 s/SELECT resizing, C3: we target
    * `chunks ≈ 4× parallelism` and let AQE coalesce). */
  def planInteger(df: DataFrame, column: String, targetChunks: Int): Seq[Chunk] =
    planInteger(column, intBoundsOpt(df, column), targetChunks)

  /** [[planInteger]] from bounds the caller already probed. */
  def planInteger(column: String, bounds: Option[(Long, Long)],
      targetChunks: Int): Seq[Chunk] =
    bounds match {
      case Some((lo, hi)) =>
        val span = math.max(hi - lo + 1, 1L)
        val step = math.max(span / math.max(targetChunks, 1), 1L)
        integerChunks(column, lo, hi, step)
      case None => Nil // empty table/slice: nothing to chunk
    }

  /** C4 — string ranges from sampled quantiles (replaces the LEFT(f,len)
    * prefix walk: `approxQuantile` is one pass, error-bounded, no
    * iterative probing). Boundaries are half-open [b_i, b_i+1). */
  def stringChunks(df: DataFrame, column: String, targetChunks: Int,
      relErr: Double = 0.01): Seq[Chunk] = {
    // approxQuantile needs numeric — sample a prefix-ordinal projection.
    val probs = (1 until targetChunks).map(_.toDouble / targetChunks).toArray
    val keyed = df.select(col(column).cast("string").as("k"))
      .withColumn("ord",
        ascii(col("k")).cast("long") * 16777216L
          + ascii(substring(col("k"), 2, 1)).cast("long") * 65536L
          + ascii(substring(col("k"), 3, 1)).cast("long") * 256L
          + ascii(substring(col("k"), 4, 1)).cast("long"))
    val cuts = keyed.stat.approxQuantile("ord", probs, relErr)
    // map ordinal cuts back to 4-char prefixes
    def prefixOf(v: Double): String = {
      val x = v.toLong
      val cs = Seq(x >> 24 & 0xff, x >> 16 & 0xff, x >> 8 & 0xff, x & 0xff)
      cs.takeWhile(_ > 0).map(_.toChar).mkString
    }
    val bounds = cuts.map(prefixOf).distinct.sorted.toSeq
    stringChunksFromBounds(column, bounds)
  }

  /** Build half-open string chunks from explicit boundary prefixes
    * (reference shape `(f >= 'a' AND f < 'b')`,
    * mydumper_string_chunks.c via update_string_where_on_gstring). */
  def stringChunksFromBounds(column: String, bounds: Seq[String],
      quote: String = "`"): Seq[Chunk] = {
    val b = bounds.distinct.sorted
    val ranges: Seq[(Option[String], Option[String])] =
      if (b.isEmpty) Seq((None, None))
      else (None +: b.map(Option(_))).zip(b.map(Option(_)) :+ None)
    ranges.zipWithIndex.map { case ((lo, hi), i) =>
      val qc = s"$quote$column$quote"
      val conds = Seq(
        lo.map(v => s"$qc >= '$v'"),
        hi.map(v => s"$qc < '$v'")).flatten
      val where0 = if (conds.isEmpty) "(1=1)" else conds.mkString("(", " AND ", ")")
      val where = if (i == 0) s"($where0 OR $qc IS NULL)" else where0
      val f0 = Seq(lo.map(v => col(column) >= v), hi.map(v => col(column) < v))
        .flatten.reduceOption(_ && _).getOrElse(lit(true))
      val f = if (i == 0) f0 || col(column).isNull else f0
      Chunk(i, where, f)
    }
  }

  /** Half-open binary chunks from hex byte-prefix boundaries — the
    * [[stringChunksFromBounds]] shape with `X'..'` literals (a quoted
    * string literal cannot compare against a binary column: type error
    * on Derby, charset coercion on MySQL). Filters compare against
    * byte-array literals, which Spark's BinaryType orders by unsigned
    * byte-wise lexicographic comparison — the same order the server's
    * binary collation applies, so file-side and JDBC-side chunking
    * agree. */
  def binaryChunksFromBounds(column: String, hexBounds: Seq[String],
      quote: String = "`"): Seq[Chunk] = {
    def bytes(hex: String): Array[Byte] =
      hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val b = hexBounds.map(_.toLowerCase).distinct.sorted
    val ranges: Seq[(Option[String], Option[String])] =
      if (b.isEmpty) Seq((None, None))
      else (None +: b.map(Option(_))).zip(b.map(Option(_)) :+ None)
    ranges.zipWithIndex.map { case ((lo, hi), i) =>
      val qc = s"$quote$column$quote"
      val conds = Seq(
        lo.map(v => s"$qc >= X'$v'"),
        hi.map(v => s"$qc < X'$v'")).flatten
      val where0 = if (conds.isEmpty) "(1=1)" else conds.mkString("(", " AND ", ")")
      val where = if (i == 0) s"($where0 OR $qc IS NULL)" else where0
      val f0 = Seq(lo.map(v => col(column) >= lit(bytes(v))),
          hi.map(v => col(column) < lit(bytes(v))))
        .flatten.reduceOption(_ && _).getOrElse(lit(true))
      val f = if (i == 0) f0 || col(column).isNull else f0
      Chunk(i, where, f)
    }
  }

  /** Apply a chunk plan: per-chunk filtered scans unioned back — the
    * file-source analog of jdbc(predicates). Catalyst pushes each range
    * filter to the scan; AQE coalesces small outputs. */
  def applyChunks(df: DataFrame, chunks: Seq[Chunk]): DataFrame =
    chunks.map(c => df.filter(c.filter)).reduce(_ unionAll _)

  /** Chunk-id column for a fixed integer plan — pure arithmetic, used by
    * correctness oracles and by writers for file naming. */
  def chunkIdCol(column: String, min: Long, step: Long): Column =
    floor((col(column) - min) / step).cast("int")

  /** C-replacement via exact quantile tiles (SURVEY §2.5): per-tile
    * (lo, hi, cnt) bounds with SQL ntile() semantics — the first
    * `n mod tiles` tiles get one extra row. NOT implemented as
    * `ntile().over(Window.orderBy(...))`: an unpartitioned window moves
    * the ENTIRE table through one task (Spark even logs the warning),
    * which is the canonical global-window anti-pattern for a primitive
    * whose job is walking 100 TB boundaries. Instead: one DISTRIBUTED
    * sort (range exchange, parallel) + zipWithIndex for exact global
    * positions, then a closed-form position→tile map. Value-identical
    * to SQL ntile for bounds/counts even under ties — sorting is by the
    * value itself, so each tile's value multiset is position-determined
    * regardless of tie order. */
  def ntileBounds(df: DataFrame, column: String, tiles: Int): DataFrame = {
    require(tiles >= 1)
    val spark = df.sparkSession
    val vals = df.select(col(column)).orderBy(col(column))
    val n = vals.count()
    val q = n / tiles
    val r = n % tiles
    val rows = vals.rdd.zipWithIndex.map { case (row, i) =>
      val t =
        if (q == 0) i + 1 // more tiles than rows: row i is tile i+1
        else if (i < r * (q + 1)) i / (q + 1) + 1
        else r + (i - r * (q + 1)) / q + 1
      org.apache.spark.sql.Row(t.toInt, row.get(0))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tile",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      vals.schema.fields.head.copy(name = "__v")))
    spark.createDataFrame(rows, schema)
      .groupBy(col("tile"))
      .agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"),
        count(lit(1)).as("cnt"))
      .orderBy(col("tile"))
  }

  /** Convert a ChunkSpec to predicates (the `spark.read.jdbc` contract:
    * one WHERE per partition). `quote` is the server's identifier quote
    * (the reference detects it per server, set_identifier_quote_character
    * — backtick for MySQL lineage, double-quote for ANSI servers). */
  def toPredicates(spec: ChunkSpec, quote: String = "`"): Array[String] = spec match {
    case ChunkSpec.WholeTable => Array.empty
    case ChunkSpec.IntRange(c, lo, hi, step, nulls) =>
      integerChunks(c, lo, hi, step, nulls, quote).map(_.where).toArray
    case ChunkSpec.StringRange(c, bounds, _) =>
      stringChunksFromBounds(c, bounds, quote).map(_.where).toArray
    case ChunkSpec.BinaryRange(c, bounds, _) =>
      binaryChunksFromBounds(c, bounds, quote).map(_.where).toArray
    case ChunkSpec.MultiIntRange(p, c, parts, nulls) =>
      multiIntChunks(p, c,
        parts.map(x => (x.prefixValue, x.min, x.max, x.step)), nulls, quote)
        .map(_.where).toArray
    case ChunkSpec.Partitions(ps) => ps.map(p => s"/* PARTITION($p) */ 1=1").toArray
  }
}
