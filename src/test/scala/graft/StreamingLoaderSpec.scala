package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import graft.load.StreamingLoader
import graft.sources.SqlInsertReader

/** SURVEY §7 hard #3 — loader dependency scheduling when dump files
  * stream in out of order: data files offered BEFORE their table's
  * schema must wait (never run early, never be dropped), per-table
  * parallelism stays capped, indexes run strictly after data. Data jobs
  * here are real Spark actions over a real SQL dump. */
class StreamingLoaderSpec extends SparkTestBase {

  test("data arriving before schema waits, loads fully, and defers indexes") {
    val o = Tables.orders(spark, sf)
    val dir = Files.createTempDirectory("graft_sload_").toString
    Dump.dumpTable(o, "orders", Dump.Config(
      outDir = dir, db = "tpch", checksum = false, statementSize = 64 * 1024))
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(Load.classify(_) == Load.Data).sorted
    assert(parts.length > 1, "need multiple data files to stream")

    val schemaCreated = new AtomicBoolean(false)
    val earlyData = new AtomicBoolean(false)
    val indexAfterRows = new AtomicLong(-1)
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val rows = new AtomicLong(0)

    val loader = new StreamingLoader(maxThreadsPerTable = 2)
    // STREAM ORDER: every data file lands before the schema file
    parts.foreach { p =>
      loader.offerData("tpch.orders", () => {
        if (!schemaCreated.get()) earlyData.set(true) // must never happen
        val cur = inFlight.incrementAndGet()
        maxInFlight.updateAndGet(m => math.max(m, cur))
        try rows.addAndGet(
          SqlInsertReader.read(spark, dir, o.schema, p).count())
        finally inFlight.decrementAndGet()
      })
    }
    assert(loader.state("tpch.orders") === StreamingLoader.NotCreated)
    Thread.sleep(100) // give early jobs every chance to (wrongly) run
    assert(rows.get() === 0, "data ran before CREATE")

    loader.offerSchema("tpch.orders", () => {
      Thread.sleep(20) // CREATE takes a moment; queued data must wait it out
      schemaCreated.set(true)
    })
    val done = loader.finish("tpch.orders",
      post = Seq(() => indexAfterRows.set(rows.get())))
    Await.result(done, Duration.Inf)

    assert(!earlyData.get(), "a data job started before its schema")
    assert(rows.get() === o.count(), "streamed load lost rows")
    assert(indexAfterRows.get() === o.count(), "index built before data done")
    assert(maxInFlight.get() <= 2, s"per-table cap exceeded: ${maxInFlight.get()}")
    assert(loader.state("tpch.orders") === StreamingLoader.AllDone)
  }

  test("streamed dump->load end-to-end: file events route into the loader") {
    // §3.3 whole-pipeline: dump produces files, announces each as an
    // event; the consumer streams events and routes schema/data/end
    // through the incremental scheduler — data events precede schema
    import graft.streaming.LandingStream
    val o = Tables.orders(spark, sf)
    val dumpDir = Files.createTempDirectory("graft_e2e_dump_").toString
    val eventsDir = Files.createTempDirectory("graft_e2e_ev_").toString
    val ckpt = Files.createTempDirectory("graft_e2e_ckpt_").toString
    Dump.dumpTable(o, "orders", Dump.Config(
      outDir = dumpDir, db = "tpch", checksum = false, statementSize = 64 * 1024))
    val parts = new java.io.File(dumpDir).listFiles()
      .map(_.getName).filter(Load.classify(_) == Load.Data).sorted
    // stream order: all data first, then schema, then end-of-table
    parts.foreach(p => LandingStream.announceFile(eventsDir, "data", "tpch.orders", p))
    LandingStream.announceFile(eventsDir, "schema", "tpch.orders", "-")
    LandingStream.announceFile(eventsDir, "end", "tpch.orders", "-")

    val schemaCreated = new AtomicBoolean(false)
    val rows = new AtomicLong(0)
    val loader = new StreamingLoader(maxThreadsPerTable = 2)
    var finished: scala.concurrent.Future[Unit] = null
    val q = LandingStream.consumeFileEvents(spark, eventsDir, ckpt) {
      (kind, table, path) => kind match {
        case "data" => loader.offerData(table, () => {
          assert(schemaCreated.get(), "data job ran before CREATE")
          rows.addAndGet(SqlInsertReader.read(spark, dumpDir, o.schema, path).count())
          ()
        })
        case "schema" => loader.offerSchema(table, () => schemaCreated.set(true))
        case "end"    => finished = loader.finish(table)
      }
    }
    q.awaitTermination(120000)
    Await.result(finished, Duration.Inf)
    assert(rows.get() === o.count(), "streamed pipeline lost rows")
    assert(loader.state("tpch.orders") === StreamingLoader.AllDone)
  }
}
