package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The harness itself must be honest: a broken query has to surface as
  * an ERROR in both round artifacts — never as a plausible timed entry
  * in the bench line, never as a silently-absent gate in the
  * correctness dump (round 6 shipped both failure modes: two throwing
  * gates were timed at 0.05-0.15 s and vanished from CORRECTNESS_r06).
  */
class HarnessHonestySpec extends SparkTestBase {

  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("deliberately broken gate")
  private val ok: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")

  test("bench: a throwing query yields an error, never a timed entry") {
    val r = Bench.timeQuery(spark, sf, "q_boom", boom, reps = 2)
    assert(r.isLeft, "throwing query must not produce a number")
    assert(r.swap.getOrElse("").contains("deliberately broken"))
    val good = Bench.timeQuery(spark, sf, "q_ok", ok, reps = 2)
    assert(good.isRight && good.getOrElse(-1.0) >= 0.0)
  }

  test("bench line: errors are a visible list, absent from queries/total") {
    val line = Bench.jsonLine(Seq("q_ok" -> 1.25), Seq("q_boom"),
      "sf0.01", dec = 3, dropped = 0, total = 1.25)
    assert(line.contains(""""errors":["q_boom"]"""))
    assert(line.contains(""""q_ok":1.25"""))
    assert(!line.contains(""""q_boom":0"""), "no timed entry for a failure")
    assert(line.contains(""""value":1.25"""), "total covers only real runs")
    // and the happy path emits no errors field at all
    assert(!Bench.jsonLine(Seq("q_ok" -> 1.0), Nil, "sf0.01", 3, 0, 1.0)
      .contains("errors"))
  }

  test("bench scale check: an unbounded cross join is an error, a listed one is timed") {
    val cross: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).crossJoin(s.range(3).toDF("id2"))
    // with no broadcast side the cross join plans as a CartesianProduct
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val r = Bench.timeQuery(spark, sf, "q_cross", cross, reps = 1)
      assert(r.swap.exists(_.contains("CartesianProduct")), r)
      assert(Bench.boundedCrossJoins("q_tfidf"))
      assert(Bench.timeQuery(spark, sf, "q_tfidf", cross, reps = 1).isRight)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bench scale check: disk spill above max(shuffle, 64 MiB) is an error") {
    def c(diskSpill: Long, shuffle: Long) =
      Counters(1, 1, 1, 0L, shuffle, 0L, diskSpill, 0L, 1)
    val bound = 64L << 20
    assert(Bench.scaleCheck("q", None, c(bound, 0L)).isEmpty)
    assert(Bench.scaleCheck("q", None, c(bound + 1, 0L)).exists(_.contains("spilled")))
    assert(Bench.scaleCheck("q", None, c(3 * bound, 3 * bound)).isEmpty)
    assert(Bench.scaleCheck("q", None, c(3 * bound + 1, 3 * bound)).isDefined)
  }

  test("verify: a throwing query leaves a readable error marker, not a gap") {
    val out = Files.createTempDirectory("graft_honesty_").toString
    assert(Verify.dumpOne(spark, sf, out, "q_boom", boom).isDefined)
    // the marker occupies the gate's output path, so the driver's compare
    // reports a visible FAIL row instead of dropping the gate
    val marker = spark.read.parquet(s"$out/q_boom.parquet")
    assert(marker.columns.toSeq === Seq("graft_error", "message"))
    assert(marker.head().getString(0) === "ERROR")
    assert(marker.head().getString(1).contains("deliberately broken"))
    // success path still writes the real result
    assert(Verify.dumpOne(spark, sf, out, "q_ok", ok).isEmpty)
    assert(spark.read.parquet(s"$out/q_ok.parquet").count() === 3)
  }

  test("every catalog gate has a DuckDB oracle — zero rows-only checks") {
    // round 7 closed the last three rows-only gates by replaying the
    // data-independent hyperplane signatures as inline plane literals;
    // keep the set pinned at EMPTY so a dropped oracle fails loudly
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === Set.empty[String],
      s"unexpected rows-only gates: $rowsOnly")
  }
}
