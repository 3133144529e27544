package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {
  private def span(id: Long, startMs: Long, endMs: Long, parent: Option[Long] = None) =
    Span(id, s"s$id", parent, 0, startMs * 1000000L, startMs, endMs * 1000000L, endMs)

  private val outer = span(1, 100, 200)
  private val inner = span(2, 120, 150, Some(1))

  test("a job under a nested span counts once, to the innermost span") {
    val l = new Ledger
    l.jobStart(0, Seq(0, 1), Some(2L), 130)
    l.stageCompleted(0); l.stageCompleted(1)
    l.taskEnd(0, runMs = 40, shuffleBytes = 10, spillBytes = 0, outputBytes = 0)
    l.taskEnd(1, runMs = 60, shuffleBytes = 0, spillBytes = 5, outputBytes = 7)
    val c = l.attribute(Seq(outer, inner))
    assert(c(2L) == Counters(jobs = 1, stages = 2, tasks = 2, taskMs = 100,
      shuffleBytes = 10, spillBytes = 5, outputBytes = 7))
    assert(!c.contains(1L))
  }

  test("without a property a job goes to the innermost span open at submission") {
    val l = new Ledger
    l.jobStart(0, Seq(0), None, 140)
    l.jobStart(1, Seq(1), None, 170)
    val c = l.attribute(Seq(outer, inner))
    assert(c(2L).jobs == 1 && c(1L).jobs == 1)
  }

  test("a stale property (a pooled thread's earlier span) falls back to time") {
    val earlier = span(3, 10, 20)
    val l = new Ledger
    l.jobStart(0, Seq(0), Some(3L), 140)
    val c = l.attribute(Seq(earlier, outer, inner))
    assert(c(2L).jobs == 1 && !c.contains(3L))
  }

  test("a stage shared by two jobs counts once, to the first") {
    val l = new Ledger
    l.jobStart(0, Seq(0, 1), Some(2L), 130)
    l.jobStart(1, Seq(1, 2), Some(1L), 160)
    Seq(0, 1, 2).foreach(l.stageCompleted)
    val c = l.attribute(Seq(outer, inner))
    assert(c(2L).stages == 2 && c(1L).stages == 1)
    assert(c(2L).jobs == 1 && c(1L).jobs == 1)
  }

  test("jobs outside every span are dropped") {
    val l = new Ledger
    l.jobStart(0, Seq(0), None, 500)
    assert(l.attribute(Seq(outer, inner)).isEmpty)
  }

  test("listener attribution on a live session") {
    val spark = SparkSession.builder().master("local[1]").appName("ledger-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val ledger = new Ledger
      spark.sparkContext.addSparkListener(new LedgerListener(ledger))
      val tracer = new Tracer
      tracer.enabled = true
      tracer.span("outer") {
        tracer.span("inner")(spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect())
      }
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val spans = tracer.spans
      val c = ledger.attribute(spans)
      val Seq(o, i) = spans
      assert(c.get(i.id).exists(x => x.jobs >= 1 && x.tasks >= 2 && x.stages >= 1))
      assert(!c.contains(o.id), "the outer span ran no job of its own")
      val m = Report.spanMetrics(spans.map(_.copy(name = "cli.dump")).take(1), c, 1)
      assert(m("cli.dump.jobs") == 0.0)
    } finally spark.stop()
  }
}
