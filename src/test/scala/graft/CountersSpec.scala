package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** [[Counters.measure]] counts exactly the work of its block and returns
  * final counts with no sleep: it drains the listener bus before it
  * attaches and before it reads. */
class CountersSpec extends SparkTestBase {

  /** `body` with a listener ahead of measure's on the bus that holds each
    * job start and stage completion for a while, so counts read without
    * a drain would come up short, or would include earlier work. */
  private def withSlowBus[T](body: => T): T = {
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(500)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(500)
    }
    spark.sparkContext.addSparkListener(slow)
    try body finally spark.sparkContext.removeSparkListener(slow)
  }

  test("one 2-stage shuffle job: 1 job, 2 stages, every task, its shuffle bytes") {
    val sc = spark.sparkContext
    val pairs = sc.parallelize(1 to 1000, 3).map(i => (i % 7, i.toLong))
    val (sums, c) = withSlowBus(
      Counters.measure(sc)(pairs.reduceByKey(_ + _, 2).collect()))
    assert(sums.map(_._2).sum === 500500L)
    assert((c.jobs, c.stages, c.tasks, c.maxStageTasks) === ((1, 2, 3 + 2, 3)))
    assert(c.shuffleWriteBytes > 0)
  }

  test("work before the measured block is not counted") {
    val sc = spark.sparkContext
    val (_, c) = withSlowBus {
      sc.parallelize(1 to 10, 4).count()
      Counters.measure(sc)(())
    }
    assert((c.jobs, c.stages, c.tasks) === ((0, 0, 0)))
  }

  test("a bus backlog past the drain limit shortens the counts, not the block") {
    val sc = spark.sparkContext
    val stuck = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(11000)
    }
    sc.addSparkListener(stuck)
    val (n, c) = try Counters.measure(sc)(sc.parallelize(1 to 4, 2).count())
      finally sc.removeSparkListener(stuck)
    assert(n === 4L)
    assert(c.jobs <= 1)
  }
}
