package perfbench

import scala.collection.mutable

/** One traced call. Times are System.nanoTime (durations) plus the
  * wall-clock millisecond of each end, which is the clock Spark stamps
  * on its job events. `iter` is the benchmark iteration (or batch) the
  * call belongs to. */
final case class Span(id: Long, name: String, parent: Option[Long], iter: Int,
    startNs: Long, startMs: Long, endNs: Long = -1L, endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {

  /** Nanoseconds of `parent` not covered by any of `children` (child
    * intervals are merged and clipped to the parent first, so overlap
    * between children is not subtracted twice). */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (parent.endNs - parent.startNs) - covered
  }
}

/** In-memory span recorder. Calls are issued one at a time (from the
  * driver thread, or from the stream thread while the driver waits on
  * it), so a single stack of open spans describes the nesting. Each
  * open span is also published as a Spark local property on the thread
  * that opened it, so every job that thread submits carries its span. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1L
  @volatile var enabled = false
  @volatile var iter = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = Span(nextId, name, stack.headOption.map(_.id), iter,
          System.nanoTime(), System.currentTimeMillis())
        nextId += 1
        stack = s :: stack
        s
      }
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
      val prev = sc.map(_.getLocalProperty(Tracer.Key))
      sc.foreach(_.setLocalProperty(Tracer.Key, s.id.toString))
      try body
      finally {
        sc.foreach(_.setLocalProperty(Tracer.Key, prev.orNull))
        synchronized {
          stack = stack.filterNot(_.id == s.id)
          done += s.copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
        }
      }
    }

  def spans: Seq[Span] = synchronized(done.toList.sortBy(_.id))
}

object Tracer {
  /** Local property naming the span a job was submitted under. */
  val Key = "perfbench.span"
}

/** Engine counters summed over the jobs attributed to one span. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    outputBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

/** Raw Spark events, attributed to spans once the run is over (listener
  * events arrive asynchronously, after the span may have closed).
  *
  * A job belongs to the span named by its local property when that
  * span's interval contains the job's submission time. Otherwise —
  * the property is missing, or is stale because a pooled thread
  * inherited it from an earlier call — it belongs to the innermost
  * span whose interval contains the submission time. A stage belongs
  * to the first job that lists it, so a job is counted once, and a
  * stage shared by two jobs is counted once. */
final class Ledger {
  import Ledger.Job
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageOwnerJob = mutable.HashMap.empty[Int, Int]
  private val stageCounters = mutable.HashMap.empty[Int, Counters]

  def jobStart(jobId: Int, stageIds: Seq[Int], prop: Option[Long],
      timeMs: Long): Unit = synchronized {
    jobs += Job(jobId, prop, timeMs, stageIds)
    stageIds.foreach(s => stageOwnerJob.getOrElseUpdate(s, jobId))
  }

  private def add(stageId: Int, c: Counters): Unit =
    stageCounters(stageId) = stageCounters.getOrElse(stageId, Counters()) + c

  def stageCompleted(stageId: Int): Unit = synchronized {
    add(stageId, Counters(stages = 1))
  }

  def taskEnd(stageId: Int, runMs: Long, shuffleBytes: Long,
      spillBytes: Long, outputBytes: Long): Unit = synchronized {
    add(stageId, Counters(tasks = 1, taskMs = runMs,
      shuffleBytes = shuffleBytes, spillBytes = spillBytes,
      outputBytes = outputBytes))
  }

  /** Counters per span id; jobs that fall in no span are dropped. */
  def attribute(spans: Seq[Span]): Map[Long, Counters] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def contains(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    def owner(j: Job): Option[Long] =
      j.prop.flatMap(byId.get).filter(contains(_, j.timeMs)).map(_.id)
        .orElse(spans.filter(contains(_, j.timeMs))
          .sortBy(s => (s.startNs, s.id)).lastOption.map(_.id))
    val jobOwner = jobs.flatMap(j => owner(j).map(j.id -> _)).toMap
    val out = mutable.HashMap.empty[Long, Counters]
    def credit(span: Long, c: Counters): Unit =
      out(span) = out.getOrElse(span, Counters()) + c
    jobOwner.foreach { case (_, span) => credit(span, Counters(jobs = 1)) }
    stageCounters.foreach { case (stage, c) =>
      stageOwnerJob.get(stage).flatMap(jobOwner.get).foreach(credit(_, c))
    }
    out.toMap
  }
}

object Ledger {
  private final case class Job(id: Int, prop: Option[Long], timeMs: Long,
      stageIds: Seq[Int])
}

/** Feeds a [[Ledger]] from the Spark listener bus. */
final class LedgerListener(ledger: Ledger)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  override def onJobStart(e: SparkListenerJobStart): Unit =
    ledger.jobStart(e.jobId, e.stageIds,
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .flatMap(_.toLongOption),
      e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    ledger.stageCompleted(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      ledger.taskEnd(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
}
