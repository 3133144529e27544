package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.load.StreamingLoader
import org.scalatest.funsuite.AnyFunSuite

/** Interleaving fuzz for the incremental loader: many random arrival
  * orders of (schema, data...) events across several tables, with jobs
  * that sleep random sub-ms amounts — whatever the interleaving, no data
  * job may run before its table's schema, every offered job must run
  * exactly once, and every table must end AllDone. Pure JVM (jobs are
  * closures), so dozens of schedules run in seconds. */
class StreamingLoaderFuzzSpec extends AnyFunSuite {

  test("random event interleavings never break ordering or lose work") {
    val rnd = new Random(7)
    (1 to 25).foreach { round =>
      val loader = new StreamingLoader(maxThreadsPerTable = 3)
      val tables = (1 to 3).map(i => s"t$i")
      val created = tables.map(_ -> new AtomicBoolean(false)).toMap
      val ran = tables.map(_ -> new AtomicLong(0)).toMap
      val violations = new AtomicLong(0)
      val nData = tables.map(_ -> (1 + rnd.nextInt(6))).toMap
      // build the event list, then shuffle it (schema may land anywhere)
      val events: Seq[(String, String)] =
        rnd.shuffle(tables.flatMap(t =>
          ("schema", t) +: Seq.fill(nData(t))(("data", t))))
      events.foreach {
        case ("schema", t) =>
          loader.offerSchema(t, () => {
            Thread.sleep(rnd.nextInt(3).toLong)
            created(t).set(true)
          })
        case (_, t) =>
          loader.offerData(t, () => {
            if (!created(t).get()) violations.incrementAndGet()
            Thread.sleep(rnd.nextInt(2).toLong)
            ran(t).incrementAndGet()
          })
      }
      val done = Future.sequence(tables.map(t => loader.finish(t)))
      Await.result(done, Duration.Inf)
      assert(violations.get() === 0, s"round $round: data before schema")
      tables.foreach { t =>
        assert(ran(t).get() === nData(t).toLong,
          s"round $round: $t ran ${ran(t).get()} of ${nData(t)} jobs")
        assert(loader.state(t) === StreamingLoader.AllDone)
      }
    }
  }

  test("schema -> data -> index ordering per table") {
    val log = new ConcurrentLinkedQueue[String]()
    val loader = new StreamingLoader()
    val done = Seq("a", "b").map { t =>
      loader.offerSchema(t, () => log.add(s"$t:schema"))
      (1 to 3).foreach(i => loader.offerData(t, () => { log.add(s"$t:data$i"); () }))
      loader.finish(t, post = Seq(() => log.add(s"$t:index")))
    }
    Await.result(Future.sequence(done), Duration.Inf)
    assert(loader.snapshot.values.forall(_ == StreamingLoader.AllDone))
    Seq("a", "b").foreach { t =>
      val events = log.asScala.toSeq.filter(_.startsWith(t))
      assert(events.head === s"$t:schema")
      assert(events.last === s"$t:index")
      assert(events.count(_.contains("data")) === 3)
    }
  }

  test("per-table parallelism cap holds") {
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val loader = new StreamingLoader(maxThreadsPerTable = 2)
    loader.offerSchema("t", () => ())
    (1 to 12).foreach(_ => loader.offerData("t", () => {
      val n = inFlight.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, n))
      Thread.sleep(20)
      inFlight.decrementAndGet()
      ()
    }))
    Await.result(loader.finish("t"), Duration.Inf)
    assert(maxSeen.get() <= 2, s"cap violated: ${maxSeen.get()}")
  }
}
