package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes a 10× (sf1-equivalent) dataset from sf0.1 so the full
  * catalog bench can run at a scale where shuffle cost dominates fixed
  * cost (the round-7 verdict's ask #2: the 2×-of-baseline gate was being
  * argued at sf0.1 where stream/startup overheads swamp per-row work).
  *
  * Scaling is TPC-H-style: `region`/`nation` stay fixed (as in the spec),
  * every other table replicates ×X with its key remapped `id*X + rep` and
  * every foreign key remapped THE SAME WAY, so referential integrity and
  * join selectivity are preserved — each order replica joins exactly one
  * customer replica, each lineitem replica one order/part/supplier
  * replica. Inflating rows under unchanged keys would only deepen groups,
  * which is the easy case; remapping scales group/join cardinality, which
  * is what actually stresses the exchanges.
  *
  * `documents` keeps every third replica's text verbatim (preserving the
  * corpus' duplicate density for the dedup gates); `embeddings` perturbs
  * replica vectors by a per-rep scalar so they are near-dups of their
  * source rather than exact copies (exact copies degenerate cosine top-k
  * to ties). Same conventions as [[ScaleProbe]].
  *
  * Run: `sbt "runMain graft.MakeScaled [srcDir] [outDir] [X]"`.
  * Default: /root/testdata/sf0.1 → target/sf1 at X=10.
  */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/sf1")
    val x = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession()

    val rep = explode(sequence(lit(0), lit(x - 1))).as("rep")
    // the sf0.1 sources are single-file parquet, and a narrow ×X
    // transform of a 1-partition scan writes ONE file per table — which
    // then reads back as a 1-2 task scan (row-group granularity caps
    // splitting) and serializes every downstream stage. Real large-scale
    // tables arrive as many files; spread each inflated table across
    // enough files that a local[32] scan parallelizes.
    def inflate(df: DataFrame)(remap: DataFrame => DataFrame): DataFrame =
      remap(df.select(col("*"), rep)).drop("rep").repartition(32)
    def scaleKey(c: String) = col(c) * x + col("rep")

    def write(name: String, df: DataFrame): Unit = {
      // row count observed on the write job itself — re-reading a 10x
      // or 100x table just to count it would double the build's I/O
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[make-scaled] $name: ${obs.get("n")} rows")
    }

    write("region", Tables.region(spark, srcDir))
    write("nation", Tables.nation(spark, srcDir))
    write("customer", inflate(Tables.customer(spark, srcDir)) {
      _.withColumn("c_custkey", scaleKey("c_custkey"))
    })
    write("supplier", inflate(Tables.supplier(spark, srcDir)) {
      _.withColumn("s_suppkey", scaleKey("s_suppkey"))
    })
    write("part", inflate(Tables.part(spark, srcDir)) {
      _.withColumn("p_partkey", scaleKey("p_partkey"))
    })
    write("orders", inflate(Tables.orders(spark, srcDir)) {
      _.withColumn("o_orderkey", scaleKey("o_orderkey"))
        .withColumn("o_custkey", scaleKey("o_custkey"))
    })
    write("lineitem", inflate(Tables.lineitem(spark, srcDir)) {
      _.withColumn("l_orderkey", scaleKey("l_orderkey"))
        .withColumn("l_partkey", scaleKey("l_partkey"))
        .withColumn("l_suppkey", scaleKey("l_suppkey"))
    })
    // events: replicas spread ±rep seconds so event-time windows see X×
    // the density, not X identical timestamps per instant
    write("events", inflate(Tables.events(spark, srcDir)) {
      _.withColumn("event_id", scaleKey("event_id"))
        .withColumn("user_id", scaleKey("user_id"))
        .withColumn("ts", expr("ts + make_interval(0,0,0,0,0,0,rep)"))
    })
    write("documents", inflate(Tables.documents(spark, srcDir)) {
      _.withColumn("doc_id", scaleKey("doc_id"))
        .withColumn("text", when(col("rep") % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v"), col("rep"))))
    })
    write("embeddings", inflate(Tables.embeddings(spark, srcDir)) {
      _.withColumn("vec_id", scaleKey("vec_id"))
        .withColumn("embedding", transform(col("embedding"),
          v => (v * (lit(1.0) + col("rep").cast("double") / lit(997.0)))
            .cast("float")))
    })
    spark.stop()
  }
}
