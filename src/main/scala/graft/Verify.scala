package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump one catalog query to `outDir/<name>.parquet`. If the query
    * THROWS, write a one-row error-marker parquet under the same name
    * (columns `graft_error`/`message`) and return the message: the
    * driver's DuckDB compare then reports a visible schema/hash FAIL for
    * that gate instead of the gate silently vanishing from the
    * correctness artifact and shrinking the denominator (the round-6
    * harness honesty gap: 2 broken gates were simply absent from
    * CORRECTNESS_r06). */
  def dumpOne(spark: SparkSession, sfDir: String, outDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] = {
    val res =
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name.parquet"); None }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq(("ERROR", msg.take(500))).toDF("graft_error", "message")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name.parquet")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
        Some(msg)
      }
    // free any storage blocks the query materialized (checkpointing
    // operators) so 100+ queries can't accumulate pinned memory
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    res
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The driver keys results by the output DIRECTORY name
    // ("q_foo.parquet"), so emit every oracle under both the bare name
    // and the dir-name form; write the file before the (slow) query
    // dumps so a timeout can't leave the round without oracles.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // SPARK_GRAFT_VERIFY_FILTER: regex over query names — dump only the
    // matching subset (local iteration on one oracle without paying the
    // full catalog; the driver never sets it, so its gate is unaffected).
    val keep = sys.env.get("SPARK_GRAFT_VERIFY_FILTER").map(_.r) match {
      case Some(re) => (n: String) => re.findFirstIn(n).isDefined
      case None     => (_: String) => true
    }
    val failed = SparkEntry.queries.filter(t => keep(t._1)).toSeq
      .flatMap { case (name, fn) =>
        dumpOne(spark, sfDir, outDir, name, fn).map(name -> _)
      }
    // coverage assertion: every catalog key must have an output dir —
    // success parquet or error marker — so a vanished gate fails LOUDLY
    // here instead of shrinking the driver's denominator
    val missing = SparkEntry.queries.keys.filter(keep).filterNot(n =>
      new java.io.File(s"$outDir/$n.parquet").exists)
    if (failed.nonEmpty || missing.nonEmpty) {
      val report = (failed.map { case (n, m) =>
          s"""{"query": ${q(n)}, "error": ${q(m.take(500))}}""" } ++
        missing.map(n => s"""{"query": ${q(n)}, "error": "no output written"}"""))
        .mkString("[", ",\n ", "]")
      Files.writeString(Paths.get(s"$outDir/verify_errors.json"), report)
      System.err.println(
        s"[verify] ${failed.size} failed, ${missing.size} missing of " +
        s"${SparkEntry.queries.size} gates — see verify_errors.json")
    }
    spark.stop()
  }
}
