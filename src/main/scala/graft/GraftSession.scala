package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.GraftExtensions

/** The one way this project builds a SparkSession: every main and the
  * test suite get the same session setup, as every mydumper/myloader
  * connection gets the same session variables, so what is tested is
  * what is benched.
  *
  * `getOrCreate` semantics: when a session already exists (a host such
  * as a test or a notebook owns one) it is returned with the runtime
  * SQL settings below applied; static settings and extensions keep the
  * host's values. */
object GraftSession {

  /** Generated-class cache entries (a static conf, build time only). A
    * catalog pass holds far more generated classes than Spark's
    * 100-entry default, so every pass re-paid whole-stage codegen for
    * the class-heavy gates (q_dedup_incremental stamped ~2x its warm
    * floor from exactly this, SCALE.md round 10). */
  val CodegenCacheEntries = 5000

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `master` (default `local[cores]`) with `cores` shuffle
    * partitions, UTC, AQE, nanosecond parquet timestamps read as longs,
    * [[GraftExtensions]], no UI and WARN logging. */
  def apply(cores: Int = cpus, master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
