package graft

class ExtensionsSpec extends SparkTestBase {

  test("vec_dot / vec_l2sq resolve in spark.sql via injected functions") {
    val r = spark.sql(
      """SELECT
        |  vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |          array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |  vec_l2sq(array(cast(0.0 as float), cast(3.0 as float)),
        |           array(cast(4.0 as float), cast(3.0 as float))) AS l2,
        |  vec_cosine(array(cast(2.0 as float), cast(0.0 as float)),
        |             array(cast(5.0 as float), cast(0.0 as float))) AS cos
        |""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 16.0)
    assert(r.getDouble(2) === 1.0) // parallel vectors, scale-invariant
    // a session without GraftExtensions must NOT see the injected names:
    // they live in the opted-in session, not Spark's global registry
    val bare = org.apache.spark.sql.graft.BareSession(spark.sparkContext)
    assert(bare.sql("SELECT 1").head().getInt(0) === 1)
    val err = intercept[Exception](bare.sql(
      "SELECT vec_dot(array(cast(1.0 as float)), array(cast(1.0 as float)))").head())
    assert(err.getMessage.contains("UNRESOLVED_ROUTINE"), err.getMessage)
  }

  test("vec_lsh_sig in SQL matches the engine's signature bit-for-bit") {
    import org.apache.spark.sql.functions.col
    Tables.embeddings(spark, sf).createOrReplaceTempView("ext_emb")
    val sql = spark.sql(
      "SELECT vec_id, vec_lsh_sig(embedding, 64, 64) AS s FROM ext_emb")
    val planes = functions.Hashing.hyperplanes(64, 64)
    val engine = Tables.embeddings(spark, sf).select(col("vec_id"),
      functions.VectorFunctions.lshSig(col("embedding"), planes).as("s"))
    assert(sql.exceptAll(engine).isEmpty && engine.exceptAll(sql).isEmpty)
    // non-literal knobs are rejected with a clear message
    val err = intercept[Exception](spark.sql(
      "SELECT vec_lsh_sig(embedding, vec_id, 64) FROM ext_emb").head())
    assert(err.getMessage.contains("must be a literal") ||
      Option(err.getCause).exists(_.getMessage.contains("must be a literal")),
      err.getMessage)
  }

  test("RangeJoinRewrite turns a pure-inequality interval join into an equi-join") {
    try {
      import org.apache.spark.sql.functions._
      val p = Tables.part(spark, sf)
      val bands = spark.range(0, 10).select(
        col("id").as("band"),
        (lit(900.0) + col("id") * 10.0).as("lo"),
        (lit(910.0) + col("id") * 10.0).as("hi"))
      p.createOrReplaceTempView("rjr_part")
      bands.createOrReplaceTempView("rjr_bands")
      val sql =
        """SELECT band, count(*) AS cnt FROM rjr_part JOIN rjr_bands
          |ON p_retailprice >= lo AND p_retailprice < hi
          |GROUP BY band ORDER BY band""".stripMargin
      // rule off: the plain SQL nested-loop result is the oracle
      spark.conf.unset("spark.graft.rangeJoin.bucket")
      val naive = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(naive.nonEmpty)
      // rule on: same values, no nested-loop join anywhere in the plan
      spark.conf.set("spark.graft.rangeJoin.bucket", "10.0")
      val rewritten = spark.sql(sql)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"interval join not de-nested:\n$plan")
      assert(rewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
        === naive)
      // negative values: floor-based bucketing must stay candidate-
      // complete across zero (floor(-0.5/b) = -1, not 0)
      spark.range(0, 2000).selectExpr("id", "CAST(id % 37 AS DOUBLE) - 18.0 AS v")
        .createOrReplaceTempView("rjr_negfacts")
      spark.range(0, 12).selectExpr("id AS nband",
        "CAST(id * 3 AS DOUBLE) - 18.5 AS nlo", "CAST(id * 3 AS DOUBLE) - 12.5 AS nhi")
        .createOrReplaceTempView("rjr_negbands")
      val negSql =
        """SELECT nband, count(*) AS cnt FROM rjr_negfacts JOIN rjr_negbands
          |ON v >= nlo AND v < nhi GROUP BY nband ORDER BY nband""".stripMargin
      spark.conf.unset("spark.graft.rangeJoin.bucket")
      val negNaive = spark.sql(negSql).collect().map(r => (r.getLong(0), r.getLong(1)))
      spark.conf.set("spark.graft.rangeJoin.bucket", "10.0")
      val negRewritten = spark.sql(negSql)
      assert(!negRewritten.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(negRewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
        === negNaive)
      // regression: an interval whose hi sits a hair ABOVE a bucket
      // boundary must still generate the topmost bucket it touches —
      // with bucket=10 and hi=20.000000005, values in [20, hi) live in
      // bucket 2; the old epsilon adjustment (hi - bucket*1e-9) rounded
      // the upper bucket down to 1 and silently dropped those matches.
      spark.range(0, 1).selectExpr("CAST(20.0 AS DOUBLE) AS ev")
        .createOrReplaceTempView("rjr_edgefacts")
      spark.range(0, 1).selectExpr("id AS eband",
        "CAST(15.0 AS DOUBLE) AS elo", "CAST(20.000000005 AS DOUBLE) AS ehi")
        .createOrReplaceTempView("rjr_edgebands")
      val edgeSql =
        """SELECT eband, count(*) AS cnt FROM rjr_edgefacts JOIN rjr_edgebands
          |ON ev >= elo AND ev < ehi GROUP BY eband""".stripMargin
      spark.conf.unset("spark.graft.rangeJoin.bucket")
      val edgeNaive = spark.sql(edgeSql).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(edgeNaive === Array((0L, 1L))) // sanity: the match exists
      spark.conf.set("spark.graft.rangeJoin.bucket", "10.0")
      assert(spark.sql(edgeSql).collect().map(r => (r.getLong(0), r.getLong(1)))
        === edgeNaive, "topmost bucket dropped: rewrite lost a matching row")
      // robustness: an unparsable bucket conf disables the rule instead
      // of failing every query in the session
      spark.conf.set("spark.graft.rangeJoin.bucket", "not-a-number")
      assert(spark.sql(edgeSql).collect().map(r => (r.getLong(0), r.getLong(1)))
        === edgeNaive)
      spark.conf.set("spark.graft.rangeJoin.bucket", "10.0")
      // guard: a join that already has an equi key is left alone (values
      // unchanged, no helper columns leak into the output)
      val equiSql =
        """SELECT n_name, count(*) AS cnt FROM rjr_bands b
          |JOIN (SELECT n_nationkey, n_name FROM parquet.`/root/testdata/sf0.001/nation.parquet`) n
          |ON b.band = n.n_nationkey AND b.lo < 1000.0
          |GROUP BY n_name ORDER BY n_name""".stripMargin
      assert(spark.sql(equiSql).columns.toSeq === Seq("n_name", "cnt"))
    } finally spark.conf.unset("spark.graft.rangeJoin.bucket") // later suites plan unbucketed
  }
}
