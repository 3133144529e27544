package graft

import java.util.concurrent.TimeoutException
import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** What a block of driver code cost in Spark. Jobs (each a driver-side
  * action barrier), stages (each an exchange boundary) and tasks are
  * deterministic for a given plan; `taskMs` is summed executor run time,
  * the noise-resistant comparator for walls. wall ≫ taskMs/cores means
  * the block is orchestration-bound (sequential actions), not data-bound.
  *
  * `peakStageMem` is the summed execution memory of the heaviest STAGE
  * (Spark aggregates task metrics per stage), not any single task's
  * peak; `maxStageTasks` is the widest stage's task count. */
final case class Counters(jobs: Int, stages: Int, tasks: Int,
    taskMs: Long, shuffleWriteBytes: Long, memSpillBytes: Long,
    diskSpillBytes: Long, peakStageMem: Long, maxStageTasks: Int) {

  /** One JSON object naming `query`. */
  def json(query: String): String =
    s"""{"query":"$query","jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_s":${BigDecimal(taskMs, 3)},"shuffle_bytes":$shuffleWriteBytes,""" +
      s""""mem_spill_bytes":$memSpillBytes,"disk_spill_bytes":$diskSpillBytes,""" +
      s""""peak_stage_mem":$peakStageMem,"max_stage_tasks":$maxStageTasks}"""
}

object Counters {

  /** `body`'s result and the counters of every Spark job it ran. The
    * listener bus is drained before the listener attaches, so earlier
    * work's late events are not counted, and again before the counters
    * are read, so the last stage's events are. */
  def measure[T](sc: SparkContext)(body: => T): (T, Counters) = {
    val l = new Listener
    drain(sc)
    sc.addSparkListener(l)
    try { val r = body; drain(sc); (r, l.counters) }
    finally sc.removeSparkListener(l)
  }

  // a bus still busy after the drain's 10 s limit leaves the counts
  // short; the measured work and its result stand
  private def drain(sc: SparkContext): Unit =
    try ListenerDrain(sc) catch {
      case e: TimeoutException => System.err.println(
        s"[graft] WARN listener bus not drained, counters may be short: ${e.getMessage}")
    }

  // one bus thread delivers every event to a listener, so plain
  // volatile counters suffice
  private final class Listener extends SparkListener {
    @volatile private var jobs, stages, tasks, maxTasks = 0
    @volatile private var taskMs, shuffle, memSpill, diskSpill, peakMem = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks += 1

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      maxTasks = math.max(maxTasks, e.stageInfo.numTasks)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shuffle += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }

    def counters: Counters = Counters(jobs, stages, tasks, taskMs, shuffle,
      memSpill, diskSpill, peakMem, maxTasks)
  }
}
