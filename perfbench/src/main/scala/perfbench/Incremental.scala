package perfbench

import java.nio.file.Paths
import graft.functions.Checksum
import graft.operators.SentenceDedup
import graft.streaming.LandingStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The incremental phase of curation: small batches through the
  * landing-stream hand-off, one client in a closed loop. Each batch is
  * produced into the landing directory and consumed (AvailableNow, one
  * persistent checkpoint) by a handler that blind-appends the batch's
  * sentence counts to the count store and dedups the batch against the
  * whole history. State (landing files, checkpoint, store) persists
  * across the run.
  *
  * Batches run in cycles of two: a fresh batch, then a re-delivery of it
  * under its old batch id (an at-least-once upstream) that also
  * compacts the store inside its own latency. Only a batch that
  * compaction has not yet folded in is re-delivered: compaction merges
  * batch ids into its generation, so a re-delivery after that would be
  * counted twice. */
final class Incremental(batchDocs: Int) {
  val Cycle = 2

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("bid", StringType)))

  private var seed = 0L
  private var dir = ""
  private var fresh = 0
  /** The batch sent last: (batch id, rows). */
  private var last: (String, Seq[Gen.Doc]) = ("", Nil)
  /** Per batch of the current cycle: (batch number, rows produced,
    * micro-batch ids the handler saw). */
  private val sent = mutable.ArrayBuffer.empty[(Int, Int, Seq[Long])]
  /** Latencies of timed batches. */
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private var liveRatio = 0.0
  private var storeRatio = 0.0

  private def store = s"$dir/store"

  private def dataFiles(store: String) =
    Fs.files(Paths.get(store)).filter(_.getFileName.toString.endsWith(".parquet"))

  def prepare(ctx: Ctx, seed: Long): Unit = {
    this.seed = seed
    dir = ctx.dir("incremental")
  }

  private def frame(spark: SparkSession, bid: String, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.doc_id, d.text, bid)).toDF("doc_id", "text", "bid")
  }

  /** One cycle of batches; false when a call failed. */
  def cycle(ctx: Ctx): Boolean = {
    sent.clear()
    (1 to Cycle).forall(batch(ctx, _))
  }

  /** Batch `k` (1-based) of a cycle: produce, consume with the handler,
    * and compact on the cycle's last batch. */
  private def batch(ctx: Ctx, k: Int): Boolean = {
    val spark = ctx.spark
    if (k == 1) {
      fresh += 1
      last = (s"b$fresh", Gen.batchDocs(seed, fresh, batchDocs))
    }
    val (bid, docs) = last
    val microBatches = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    val produced = ctx.calls("streaming.produce")(
      LandingStream.produce(frame(spark, bid, docs), s"$dir/landing"))
    val consumed = produced.isDefined && ctx.calls("streaming.consume") {
      val q = LandingStream.consume(spark, s"$dir/landing", schema,
        s"$dir/checkpoint") { (b, id) =>
        microBatches += id
        ctx.calls.nested("store.append")(
          SentenceDedup.appendCounts(b, "text", "doc_id", store, bid))
        ctx.calls.nested("store.clean")(
          SentenceDedup.dedupSentencesFromStore(b, "text", "doc_id", spark, store)
            .write.format("noop").mode("overwrite").save())
      }
      try q.awaitTermination() finally q.stop()
    }.isDefined
    val ok = consumed && (k != Cycle || {
      ctx.sample("store.files_before_compact", dataFiles(store).size.toDouble)
      ctx.calls("store.compact")(SentenceDedup.compactCounts(spark, store)).isDefined
    })
    if (ok && ctx.timed) latencies += (System.nanoTime() - t0) / 1e9
    sent += ((fresh, docs.size, microBatches.toSeq))
    ok
  }

  private val SourceEntry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  /** Landing files the stream's source log assigns to these micro-batch
    * ids: what the handler was actually handed. */
  private def sourceFiles(ids: Set[Long]): Seq[String] =
    Fs.files(Paths.get(s"$dir/checkpoint/sources/0"))
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala.collect {
        case SourceEntry(path, id) if ids(id.toLong) => path
      }).distinct

  /** Untimed: rows consumed equal rows produced in every batch sent. */
  def check(ctx: Ctx): Unit =
    for ((n, produced, ids) <- sent if ids.nonEmpty) {
      val files = sourceFiles(ids.toSet)
      val rows =
        if (files.isEmpty) 0L
        else ctx.spark.read.schema(schema).parquet(files: _*).count()
      ctx.check(rows == produced,
        s"incremental: batch b$n consumed $rows rows, produced $produced")
      ctx.sample("streaming.rows_in_ratio", rows.toDouble / produced)
    }

  /** After the last cycle: dedup against the store equals a one-shot
    * dedup of everything delivered, and the store's size ratios. */
  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // every distinct document delivered (re-deliveries repeat a batch)
    val all = spark.read.schema(schema).parquet(s"$dir/landing")
      .dropDuplicates("doc_id")
    def digest(df: DataFrame) = df.agg(org.apache.spark.sql.functions.count("*"),
      Checksum.tableChecksum(df)).head()
    val fromStore = digest(
      SentenceDedup.dedupSentencesFromStore(all, "text", "doc_id", spark, store))
    val oneShot = digest(SentenceDedup.dedupSentences(all, "text", "doc_id"))
    ctx.check(fromStore == oneShot,
      s"incremental: dedup against the store $fromStore differs from the one-shot $oneShot")
    val once = ctx.dir("visible_once")
    SentenceDedup.storedCounts(spark, store).write.mode("overwrite").parquet(once)
    val stored = dataFiles(store).map(_.toString)
    val storedRows = if (stored.isEmpty) 0L else spark.read.parquet(stored: _*).count()
    liveRatio = spark.read.parquet(once).count().toDouble / math.max(storedRows, 1L)
    storeRatio = Fs.bytes(Paths.get(store)).toDouble / Fs.bytes(Paths.get(once))
    ctx.sample("store.live_ratio", liveRatio)
  }

  def record: Seq[(String, Any, String)] = {
    val xs = latencies.toSeq
    Seq(("batch_docs", batchDocs, "docs"),
      ("batches_timed", xs.size, "count"),
      ("batch_p50_s", Option.when(xs.nonEmpty)(Stats.median(xs)), "s"),
      // p90 only with at least ten batches beyond it (>= 100 batches)
      ("batch_p90_s", Option.when(Stats.valid(90, xs.size))(Stats.percentile(xs, 90)), "s"),
      ("batch_tail_percentile", Stats.highestValid(xs).map(_._1), "percentile"),
      ("batch_latency_s", xs, "s"),
      ("store_bytes_per_live_byte", storeRatio, "ratio"),
      ("store_live_ratio", liveRatio, "ratio"))
  }
}
