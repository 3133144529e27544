package graft.load

import java.util.concurrent.Semaphore

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.concurrent.{ExecutionContext, Future, Promise}

/** The restore's dependency scheduler (SURVEY §2.9 L1, §3.3 + §7
  * "hard" #3), for a directory restore and a streamed one alike: a
  * directory restore offers every table at once, a streamed one offers
  * each table as its files arrive — in any order, so a table's data file
  * can land before its schema file. It reimplements the reference's
  * per-table state machine and pending queues
  * (myloader_worker_loader_main.c:94-338): NOT_CREATED → CREATING →
  * CREATED → DATA_DONE → ALL_DONE.
  *
  * Model: `offerSchema` / `offerData` are called as files arrive
  * (e.g. from `LandingStream.consume`'s per-batch handler, routed by
  * `Load.classify`); data work chains on the table's schema promise, so
  * early data files simply wait — nothing is dropped and nothing runs
  * before CREATE. Per-table concurrency is capped by a semaphore (the
  * reference's `--max-threads-per-table`). `finish` seals a table: after
  * its in-flight data jobs drain, deferred post jobs (index builds, L2)
  * run and the table reaches AllDone.
  *
  * Driver-side orchestration only — each "data job" is itself a
  * distributed Spark action, so this state lives O(tables), not O(rows).
  */
final class StreamingLoader(maxThreadsPerTable: Int = 4)(
    implicit ec: ExecutionContext) {
  import StreamingLoader._

  private final class Entry {
    val schemaDone: Promise[Unit] = Promise[Unit]()
    val schemaOffered = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sem = new Semaphore(math.max(maxThreadsPerTable, 1))
    val dataFutures = mutable.Buffer.empty[Future[Unit]]
    @volatile var state: State = NotCreated
  }

  private val tables = TrieMap.empty[String, Entry]
  private def entry(t: String): Entry = tables.getOrElseUpdate(t, new Entry)

  /** Schema file arrived: run CREATE (async); tables whose data arrived
    * first unblock when it completes. IDEMPOTENT — foreachBatch replay
    * is at-least-once, so a re-delivered schema event must neither
    * re-run CREATE (the table exists) nor complete an already-completed
    * promise (which throws); only the FIRST offer acts. */
  def offerSchema(table: String, create: () => Unit): Unit = {
    val e = entry(table)
    if (e.schemaOffered.compareAndSet(false, true)) {
      e.state = Creating
      Future {
        create()
        e.state = Created
      }.onComplete(e.schemaDone.tryComplete)
    }
  }

  /** Data file arrived (possibly before the schema): queue its job,
    * gated on schema completion + the per-table cap. */
  def offerData(table: String, job: () => Unit): Unit = {
    val e = entry(table)
    e.synchronized {
      e.dataFutures += e.schemaDone.future.map { _ =>
        // `blocking` lets a compensating pool (the global one) grow past
        // jobs parked on the per-table cap
        scala.concurrent.blocking(e.sem.acquire())
        try job() finally e.sem.release()
      }
    }
  }

  /** No more files for `table`: after its data drains, run deferred
    * post jobs (indexes/constraints) and mark AllDone. */
  def finish(table: String, post: Seq[() => Unit] = Nil): Future[Unit] = {
    val e = entry(table)
    val drained = e.synchronized { Future.sequence(e.dataFutures.toSeq) }
    drained.map { _ =>
      e.state = DataDone
      post.foreach(_.apply())
      e.state = AllDone
    }
  }

  def state(table: String): State =
    tables.get(table).map(_.state).getOrElse(NotCreated)

  def snapshot: Map[String, State] =
    tables.iterator.map { case (k, v) => k -> v.state }.toMap
}

object StreamingLoader {
  sealed trait State
  case object NotCreated extends State
  case object Creating extends State
  case object Created extends State
  case object DataDone extends State
  case object AllDone extends State
}
