package perfbench

import java.nio.file.{Files, Paths}
import graft.functions.Checksum
import graft.operators.{Assembly, Dedup, DocChunker, QualityClassifier, SentenceDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Curation of one generated corpus, then of the documents that keep
  * arriving. One iteration is a batch pass and an incremental cycle:
  *  - batch: near-duplicate pairs (written), their connected components
  *    (written), then the survivors through sentence dedup, the quality
  *    filter and chunking into written training shards, which are
  *    finally read back;
  *  - incremental: one cycle of small batches through the landing
  *    stream into the sentence-count store ([[Incremental]]). */
final class Curate(nDocs: Int, maxChain: Int, batchDocs: Int) extends Workload {
  val name = "curate"
  val unit = "docs"
  override val warmups = 1
  private val incremental = new Incremental(batchDocs)

  private var docsPath = ""
  private var docsBytes = 0L
  private var seedKey = ""
  private val curateS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var shardBytes = 0L
  /** Rows the last `writeShards` call reported; None when a call failed. */
  private var written = Option.empty[Long]
  /** Facts every iteration must reproduce, set by the first one. */
  private var chunkCount = -1L
  private var shardHash = Option.empty[Long]

  /** Survivors (every doc whose cluster label is itself) through
    * sentence dedup, the quality filter and chunking. Lazy: the shard
    * write runs it. */
  private def chunks(spark: SparkSession, docs: DataFrame, labelsDir: String): DataFrame = {
    val dropped = spark.read.parquet(labelsDir).where(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    val survivors = docs.join(dropped, Seq("doc_id"), "left_anti")
    val cleaned = SentenceDedup.dedupSentences(survivors, "text", "doc_id")
      .select(col("doc_id"), col("clean_text"))
    val kept = QualityClassifier.keepFilter(cleaned, "clean_text", 4096)
    DocChunker.chunk(kept, "clean_text", "doc_id", chunkTokens = 40, overlap = 8)
  }

  def prepare(ctx: Ctx, seed: Long): Unit = {
    import ctx.spark.implicits._
    seedKey = s"${seed}_$nDocs"
    docsPath = ctx.dir("in/docs.parquet")
    Gen.curationDocs(seed, nDocs, maxChain).toDF().repartition(ctx.nproc)
      .write.mode("overwrite").parquet(docsPath)
    docsBytes = Fs.bytes(Paths.get(docsPath))
    incremental.prepare(ctx, seed)
  }

  def run(ctx: Ctx, i: Int): Boolean = {
    val spark = ctx.spark
    val out = ctx.dir("out")
    val docs = spark.read.parquet(docsPath)
    val t0 = System.nanoTime()
    val ok = ctx.calls("dedup.pairs")(
      Dedup.minhashPairsScoped(docs, "text", "doc_id")(_.select("id1", "id2")
        .write.mode("overwrite").parquet(s"$out/pairs"))).isDefined &&
      ctx.calls("dedup.clusters")(
        Dedup.clustersScoped(spark.read.parquet(s"$out/pairs"))(
          _.write.mode("overwrite").parquet(s"$out/labels"))).isDefined
    written = if (!ok) None else ctx.calls("assembly.write_shards")(
      Assembly.writeShards(chunks(spark, docs, s"$out/labels"), "chunk_text", "doc_id",
        "chunk_id", tokenBudget = 2048, nShards = 16, outDir = s"$out/shards")).map(_._1)
    // curation time: from the first call until the shards are written
    val curated = (System.nanoTime() - t0) / 1e9
    val read = written.isDefined && ctx.calls("assembly.read_shards")(
      Assembly.readShards(spark, s"$out/shards").write.format("noop")
        .mode("overwrite").save()).isDefined
    if (read && ctx.timed) curateS += curated
    read && incremental.cycle(ctx)
  }

  def after(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val out = ctx.work.resolve("out")
    if (written.isDefined) {
      shardBytes = Fs.bytes(out.resolve("shards"))
      val shards = Assembly.readShards(spark, out.resolve("shards").toString)
      val r = shards.agg(org.apache.spark.sql.functions.count("*"),
        Checksum.tableChecksum(shards)).head()
      val (rows, hash) = (r.getLong(0), r.getLong(1))
      if (chunkCount < 0) {
        // first iteration: the reference facts, computed independently
        val pairs = spark.read.parquet(out.resolve("pairs").toString).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val labels = spark.read.parquet(out.resolve("labels").toString).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val reference = UnionFind.labels(pairs)
        ctx.check(labels == reference, s"$name: cluster labels differ from " +
          s"union-find over ${pairs.length} pairs " +
          s"(${labels.size} vs ${reference.size} ids labelled)")
        ctx.sample("dedup.pairs.rows", pairs.length.toDouble)
        ctx.sample("dedup.clusters.n_clusters", labels.values.toSet.size.toDouble)
        chunkCount = chunks(spark, spark.read.parquet(docsPath),
          out.resolve("labels").toString).count()
        shardHash = Some(hash)
        crossRunHash(ctx, hash)
      }
      ctx.check(written.contains(chunkCount) && rows == chunkCount,
        s"$name: shards hold $rows rows (writeShards said $written), " +
          s"chunking gives $chunkCount")
      ctx.check(shardHash.contains(hash),
        s"$name: shard content hash $hash differs from the first iteration's")
    }
    Fs.deleteTree(out)
    incremental.check(ctx)
  }

  /** The shard hash of a seed is remembered beside the run's work
    * directory, so a later run of the same seed and size must reproduce
    * it. */
  private def crossRunHash(ctx: Ctx, hash: Long): Unit = {
    val f = ctx.work.getParent.resolve(s"shard_hash_$seedKey")
    if (Files.exists(f)) {
      val prev = Files.readString(f).trim
      ctx.check(prev == hash.toString,
        s"$name: shard content hash $hash differs from an earlier run's $prev")
    } else Files.writeString(f, hash.toString)
  }

  def finish(ctx: Ctx): Unit = incremental.finish(ctx)

  def endToEnd(walls: Seq[Double]): EndToEnd =
    EndToEnd(nDocs / Stats.median(curateS.toSeq), shardBytes.toDouble / docsBytes)

  def record(walls: Seq[Double]): Seq[(String, Any, String)] = Seq(
    ("input_docs", nDocs, "docs"),
    ("input_bytes", docsBytes, "B"),
    ("curate_docs_per_s", nDocs / Stats.median(curateS.toSeq), "docs/s"),
    ("shard_rows", chunkCount, "rows"),
    ("shard_hash", shardHash.map(_.toString), "crc32-xor"),
    ("shard_bytes_per_input_byte", shardBytes.toDouble / docsBytes, "ratio")) ++
    incremental.record
}
