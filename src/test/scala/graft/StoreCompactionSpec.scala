package graft

import graft.operators.{Curation, FreqStore, Graphs, NearDupStore, NgramLm,
  Retrieval, SentenceDedup, Similarity, SketchStore, StoreCompaction}
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The compaction contract (VERDICT r14 top-next): for every
  * blind-append store, `compact` rewrites the accrued batches into one
  * committed generation whose READ IS IDENTICAL — value-level, the
  * store gates' output-identity standard — while the visible file
  * count stops growing with batch count; appends after a compaction
  * keep working; and the protocol is crash-safe at every point
  * (uncommitted generation = invisible; committed-but-unGC'd garbage =
  * manifest-excluded and re-consumed by the next compaction; a
  * truncated manifest reads as uncommitted). */
class StoreCompactionSpec extends SparkTestBase {

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def tmpDir(tag: String): String =
    Scratch.dir(s"graft_cmp_${tag}_") + "/store"

  // --------------------------------------------------- sentence counts
  private def sentDocs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      s"alpha beta gamma. common sentence here. tail ${i % 3} words."))
      .toDF("doc_id", "text")
  }

  test("sentence count store: compaction is read-identical, bounds the " +
      "file count, and later appends + a second compaction still agree " +
      "with the never-compacted store") {
    val dir = tmpDir("sent")
    val plain = tmpDir("sent_plain")
    val sd = SentenceDedup
    sd.appendCounts(sentDocs(0 until 20), "text", "doc_id", dir, "b001")
    sd.appendCounts(sentDocs(20 until 40), "text", "doc_id", dir, "b002")
    sd.appendCounts(sentDocs(20 until 40), "text", "doc_id", dir, "b002") // replay
    sd.appendCounts(sentDocs(40 until 50), "text", "doc_id", dir, "b003")
    sd.appendCounts(sentDocs(0 until 20), "text", "doc_id", plain, "b001")
    sd.appendCounts(sentDocs(20 until 40), "text", "doc_id", plain, "b002")
    sd.appendCounts(sentDocs(20 until 40), "text", "doc_id", plain, "b002")
    sd.appendCounts(sentDocs(40 until 50), "text", "doc_id", plain, "b003")
    val pre = rowsOf(sd.storedCounts(spark, dir))
    val (filesPre, genPre, _) = StoreCompaction.stats(spark, dir)
    assert(genPre.isEmpty && filesPre > 1)
    sd.compactCounts(spark, dir)
    assert(rowsOf(sd.storedCounts(spark, dir)) === pre,
      "compaction changed the merged counts")
    val (filesPost, genPost, livePost) = StoreCompaction.stats(spark, dir)
    assert(genPost.nonEmpty && livePost === 0L && filesPost < filesPre,
      s"files $filesPre -> $filesPost, gen=$genPost live=$livePost")
    // appends keep working after compaction, and match the
    // never-compacted twin
    sd.appendCounts(sentDocs(50 until 60), "text", "doc_id", dir, "b004")
    sd.appendCounts(sentDocs(50 until 60), "text", "doc_id", plain, "b004")
    assert(rowsOf(sd.storedCounts(spark, dir)) ===
      rowsOf(sd.storedCounts(spark, plain)))
    // second compaction folds the generation + new batch, still equal
    sd.compactCounts(spark, dir)
    assert(rowsOf(sd.storedCounts(spark, dir)) ===
      rowsOf(sd.storedCounts(spark, plain)))
    val (files2, gen2, _) = StoreCompaction.stats(spark, dir)
    assert(gen2.exists(s => genPost.exists(_ < s)), "second generation")
    assert(files2 <= filesPost + 1)
  }

  test("crash safety: an UNCOMMITTED generation is invisible and swept; " +
      "committed-but-unGC'd garbage stays excluded and the next " +
      "compaction re-consumes it; a truncated manifest reads as " +
      "uncommitted (pre-compaction view)") {
    val dir = tmpDir("crash")
    val sd = SentenceDedup
    sd.appendCounts(sentDocs(0 until 15), "text", "doc_id", dir, "b001")
    sd.appendCounts(sentDocs(15 until 30), "text", "doc_id", dir, "b002")
    val pre = rowsOf(sd.storedCounts(spark, dir))

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)

    // (a) crash BEFORE commit: a generation dir with data but no
    // manifest must be ignored by readers and swept by the next compact
    val orphan = new org.apache.hadoop.fs.Path(root, "_graft_cmp_0000000000000007")
    spark.range(3).selectExpr("concat('zz', id) as sh", "id as cnt",
      "'bogus' as batch_id").write.parquet(orphan.toString)
    assert(rowsOf(sd.storedCounts(spark, dir)) === pre,
      "uncommitted generation leaked into the view")

    // (b) crash AFTER commit, BEFORE GC: stash the to-be-consumed files,
    // compact, restore them — manifest exclusion must keep the view
    // identical, and the NEXT compaction must consume the garbage
    val stash = Scratch.dir("graft_cmp_stash_")
    val dataFiles = fs.listStatus(root).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    dataFiles.foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
        new org.apache.hadoop.fs.Path(stash.toString, f.getName),
        false, spark.sessionState.newHadoopConf())
    }
    val seq1 = sd.compactCounts(spark, dir)
    assert(seq1 === 8L, s"seq must clear the orphan's 7, got $seq1")
    assert(!fs.exists(orphan), "orphan generation not swept")
    dataFiles.foreach { f => // resurrect consumed files = crashed GC
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(stash.toString, f.getName),
        fs, f, false, spark.sessionState.newHadoopConf())
    }
    assert(rowsOf(sd.storedCounts(spark, dir)) === pre,
      "manifest-consumed garbage leaked into the view")
    sd.compactCounts(spark, dir) // must re-consume the garbage
    assert(rowsOf(sd.storedCounts(spark, dir)) === pre)
    val (_, _, live) = StoreCompaction.stats(spark, dir)
    assert(live === 0L, "garbage survived the retry compaction")
    dataFiles.foreach(f => assert(!fs.exists(f), s"garbage file $f alive"))

    // (c) truncated manifest = uncommitted: restore the old root files,
    // then cut END off the newest generation's manifest — the reader
    // must fall back to the (restored) pre-compaction view
    dataFiles.foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(stash.toString, f.getName),
        fs, f, false, spark.sessionState.newHadoopConf())
    }
    val genDir = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_graft_cmp_")).map(_.getPath)
      .maxBy(_.getName)
    val mf = new org.apache.hadoop.fs.Path(genDir, "_graft_manifest")
    val body = {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(mf, true)
    try out.write(body.replace("END\n", "")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(rowsOf(sd.storedCounts(spark, dir)) === pre,
      "truncated manifest treated as committed")
  }

  // ------------------------------------------------------- edge store
  test("graph edge store: compaction keeps PageRank-from-store " +
      "bit-identical and merges multi-batch edges") {
    import spark.implicits._
    val dir = tmpDir("edges")
    def batch(seed: Int) = (0 until 60).map { i =>
      ((i * 7 + seed) % 20L, (i * 13 + seed * 3) % 20L) }
      .toDF("s", "d")
    Graphs.appendEdges(batch(1), "s", "d", dir, "b001")
    Graphs.appendEdges(batch(2), "s", "d", dir, "b002")
    Graphs.appendEdges(batch(2), "s", "d", dir, "b002") // replay
    val preEdges = rowsOf(Graphs.readEdges(spark, dir))
    val preRank = rowsOf(Graphs.rankWithStore(spark, dir, weighted = true))
    Graphs.compactEdges(spark, dir)
    assert(rowsOf(Graphs.readEdges(spark, dir)) === preEdges)
    assert(rowsOf(Graphs.rankWithStore(spark, dir, weighted = true)) === preRank)
  }

  // --------------------------------------------------- curation staged
  test("curation staged store: compaction preserves per-batch doc " +
      "multiplicity (re-crawled docs stay two rows) and verdicts") {
    import spark.implicits._
    val dir = tmpDir("cur")
    def docs(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, s"some meaningful body text repeated $i times over",
        s"https://dom${i % 4}.example.com/p/$i?utm_source=x") }
      .toDF("doc_id", "text", "url")
    Curation.writeStaged(docs(0, 30), "doc_id", "text", "url", dir, "b001")
    // docs 20-29 re-crawled under a NEW batch: genuine second rows
    Curation.writeStaged(docs(20, 40), "doc_id", "text", "url", dir, "b002")
    Curation.writeStaged(docs(20, 40), "doc_id", "text", "url", dir, "b002")
    val pre = rowsOf(Curation.curateFromStore(spark, dir, "doc_id",
      minTokens = 4, domainCap = 5))
    Curation.compactStaged(spark, dir, "doc_id")
    assert(rowsOf(Curation.curateFromStore(spark, dir, "doc_id",
      minTokens = 4, domainCap = 5)) === pre)
  }

  // -------------------------------------------------------- ANN index
  test("ANN index: compaction keeps queryIndex identical, preserves " +
      "cell partition pruning, and cuts the file count") {
    val e = Tables.embeddings(spark, sf)
    val dir = tmpDir("ann")
    val half1 = e.where(col("vec_id") % 2 === 0)
    val half2 = e.where(col("vec_id") % 2 === 1)
    Similarity.appendIndex(half1, dir, "embedding", bits = 6)
    Similarity.appendIndex(half2, dir, "embedding", bits = 6)
    Similarity.appendIndex(half2, dir, "embedding", bits = 6) // replay
    val q = e.where(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0)
    val pre = rowsOf(Similarity.queryIndex(spark, dir, "embedding",
      "vec_id", q, k = 10, bits = 6, nprobe = 2))
    val (filesPre, _, _) = StoreCompaction.stats(spark, dir)
    Similarity.compactIndex(spark, dir, "vec_id")
    val post = Similarity.queryIndex(spark, dir, "embedding",
      "vec_id", q, k = 10, bits = 6, nprobe = 2)
    assert(rowsOf(post) === pre)
    val (filesPost, _, _) = StoreCompaction.stats(spark, dir)
    assert(filesPost < filesPre, s"$filesPre -> $filesPost")
    // the generation is still hive-partitioned on cell, so the hamming
    // ball prunes partitions (scan reports a cell partition filter)
    post.collect()
    val plan = post.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("cell"), plan.take(2000))
  }

  // -------------------------------------------------------- BM25 index
  test("BM25 index: compaction keeps scores bit-identical (postings " +
      "dedup + stats pre-sum)") {
    import spark.implicits._
    val dir = tmpDir("bm25")
    def docs(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, s"term${i % 7} term${i % 3} filler words body $i") }
      .toDF("doc_id", "text")
    Retrieval.appendIndexBm25(docs(0, 40), "text", "doc_id", dir,
      buckets = 8, batchId = "b001")
    Retrieval.appendIndexBm25(docs(40, 70), "text", "doc_id", dir,
      buckets = 8, batchId = "b002")
    Retrieval.appendIndexBm25(docs(40, 70), "text", "doc_id", dir,
      buckets = 8, batchId = "b002") // replay
    val pre = rowsOf(Retrieval.queryIndexBm25(spark, dir, "doc_id",
      Seq("term1", "term2"), buckets = 8))
    Retrieval.compactIndexBm25(spark, dir, "doc_id")
    assert(rowsOf(Retrieval.queryIndexBm25(spark, dir, "doc_id",
      Seq("term1", "term2"), buckets = 8)) === pre)
  }

  // -------------------------------------------- LM counts + heavy hitters
  test("LM count store and heavy-hitter store: compaction keeps scores " +
      "and intervals identical") {
    import spark.implicits._
    val lmDir = tmpDir("lm")
    def docs(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, s"the quick fox ${i % 5} jumps over lazy dog ${i % 3}") }
      .toDF("doc_id", "text")
    NgramLm.appendCounts(docs(0, 30), "text", "doc_id", lmDir, "b001")
    NgramLm.appendCounts(docs(30, 50), "text", "doc_id", lmDir, "b002")
    NgramLm.appendCounts(docs(30, 50), "text", "doc_id", lmDir, "b002")
    val probe = docs(0, 10)
    val preLm = rowsOf(NgramLm.scoreWithStore(spark, probe, "text",
      "doc_id", lmDir))
    NgramLm.compactCounts(spark, lmDir)
    assert(rowsOf(NgramLm.scoreWithStore(spark, probe, "text",
      "doc_id", lmDir)) === preLm)

    val fqDir = tmpDir("freq")
    def events(lo: Int, hi: Int) = (lo until hi).map { i =>
      (s"grp${i % 3}", s"item${i % 11}") }.toDF("g", "it")
    FreqStore.appendTopK(events(0, 300), "it", "g", fqDir, k = 4,
      batchId = "b001")
    FreqStore.appendTopK(events(300, 600), "it", "g", fqDir, k = 4,
      batchId = "b002")
    FreqStore.appendTopK(events(300, 600), "it", "g", fqDir, k = 4,
      batchId = "b002")
    val preIv = rowsOf(FreqStore.intervals(spark, fqDir))
    FreqStore.compactTopK(spark, fqDir)
    assert(rowsOf(FreqStore.intervals(spark, fqDir)) === preIv)

    val dcDir = tmpDir("domcnt")
    def doms(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, s"dom${i % 5}") }.toDF("doc_id", "dom")
    graft.operators.Sampling.appendDomainCounts(doms(0, 200), "dom", dcDir, "b001")
    graft.operators.Sampling.appendDomainCounts(doms(200, 350), "dom", dcDir, "b002")
    graft.operators.Sampling.appendDomainCounts(doms(200, 350), "dom", dcDir, "b002")
    val preDc = rowsOf(graft.operators.Sampling.storedDomainCounts(spark, dcDir))
    graft.operators.Sampling.compactDomainCounts(spark, dcDir)
    assert(rowsOf(graft.operators.Sampling.storedDomainCounts(spark, dcDir)) === preDc)
  }

  // ----------------------------------------------------- sketch store
  test("HLL sketch store: compaction unions to one sketch per group, " +
      "estimates register-identical") {
    import spark.implicits._
    val dir = tmpDir("hll")
    def vals(lo: Int, hi: Int) = (lo until hi).map { i =>
      (s"g${i % 4}", s"v${i % 97}") }.toDF("g", "v")
    SketchStore.appendDistinct(vals(0, 400), "v", "g", dir, "b001")
    SketchStore.appendDistinct(vals(400, 900), "v", "g", dir, "b002")
    SketchStore.appendDistinct(vals(400, 900), "v", "g", dir, "b002")
    val pre = rowsOf(SketchStore.estimateDistinct(spark, dir, "g"))
    SketchStore.compactDistinct(spark, dir, "g")
    assert(rowsOf(SketchStore.estimateDistinct(spark, dir, "g")) === pre)
    val (files, _, _) = StoreCompaction.stats(spark, dir)
    assert(files <= 2, s"sketch store still has $files files")
  }

  // ------------------------------------------------ media near-dup store
  test("media near-dup store: compaction keeps one-shot AND incremental " +
      "pair sets identical, and incremental appends keep working") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11)
    def embs(lo: Int, hi: Int) = (lo until hi).map { i =>
      val base = Array.tabulate(dim)(d =>
        math.sin((i % 10) * (d + 1)).toFloat)
      base(i % dim) += 0.01f * rnd.nextInt(3)
      (i.toLong, base.toSeq)
    }.toDF("doc_id", "emb")
    val dir = tmpDir("media")
    NearDupStore.write(embs(0, 80), "emb", "doc_id", dir, "b001",
      bits = 4, tables = 4, dim = dim)
    NearDupStore.write(embs(80, 160), "emb", "doc_id", dir, "b002",
      bits = 4, tables = 4, dim = dim)
    NearDupStore.write(embs(80, 160), "emb", "doc_id", dir, "b002",
      bits = 4, tables = 4, dim = dim) // replay
    val preAll = rowsOf(NearDupStore.pairs(spark, dir, tau = 0.9))
    NearDupStore.compact(spark, dir)
    assert(rowsOf(NearDupStore.pairs(spark, dir, tau = 0.9)) === preAll)
    // a post-compaction batch pairs incrementally against compacted
    // history exactly as it would against the uncompacted store
    NearDupStore.write(embs(160, 200), "emb", "doc_id", dir, "b003",
      bits = 4, tables = 4, dim = dim)
    val incr = rowsOf(NearDupStore.pairs(spark, dir, tau = 0.9,
      newBatchId = Some("b003")))
    val all = rowsOf(NearDupStore.pairs(spark, dir, tau = 0.9))
    // incremental = exactly the union pairs touching a b003 id
    val b003 = (160L until 200L).map(_.toString).toSet
    val touching = all.filter { r =>
      val ids = r.stripPrefix("[").stripSuffix("]").split(",")
      b003.contains(ids(0)) || b003.contains(ids(1))
    }
    assert(incr === touching.sorted)
  }

  // ------------------------------------------------------ schema hints
  test("schema hints (round 16): every store write persists _schema.ddl; " +
      "the pinned read is value- AND dtype-identical to the inferred " +
      "read, including the partitioned BM25 postings' INT bucket") {
    import spark.implicits._
    val dir = tmpDir("hintbm25")
    def docs(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, s"term${i % 7} term${i % 3} filler words body $i") }
      .toDF("doc_id", "text")
    Retrieval.appendIndexBm25(docs(0, 40), "text", "doc_id", dir,
      buckets = 8, batchId = "b001")
    for (sub <- Seq("postings", "stats"))
      assert(new java.io.File(s"$dir/$sub/_schema.ddl").isFile,
        s"bm25 $sub hint must be persisted at write")
    val pinned = StoreCompaction.readVisible(spark, s"$dir/postings")
    val pre = rowsOf(Retrieval.queryIndexBm25(spark, dir, "doc_id",
      Seq("term1", "term2"), buckets = 8))
    // the hint must reproduce the INFERRED read exactly — bucket is a
    // partition DIRECTORY whose values 0..7 type-infer as INT, not the
    // writer column's LONG
    for (sub <- Seq("postings", "stats"))
      assert(new java.io.File(s"$dir/$sub/_schema.ddl").delete())
    val inferred = StoreCompaction.readVisible(spark, s"$dir/postings")
    assert(pinned.schema.fields.map(f => (f.name, f.dataType)).toMap ===
      inferred.schema.fields.map(f => (f.name, f.dataType)).toMap,
      "pinned dtypes must equal partition/footer inference")
    assert(rowsOf(pinned) === rowsOf(inferred))
    assert(rowsOf(Retrieval.queryIndexBm25(spark, dir, "doc_id",
      Seq("term1", "term2"), buckets = 8)) === pre,
      "hint-less BM25 read must score identically")
    // the non-partitioned stores: hint present + pinned ≡ inferred
    val gDir = tmpDir("hintgraph")
    Graphs.appendEdges((0L until 30L).map(i => (i, (i + 1) % 30))
      .toDF("s", "d"), "s", "d", gDir, "b001")
    assert(new java.io.File(s"$gDir/_schema.ddl").isFile)
    val gPinned = rowsOf(Graphs.readEdges(spark, gDir))
    assert(new java.io.File(s"$gDir/_schema.ddl").delete())
    assert(rowsOf(Graphs.readEdges(spark, gDir)) === gPinned)
    // every other store family writes its hint too
    val sDir = tmpDir("hintsent")
    SentenceDedup.appendCounts(sentDocs(0 until 10), "text", "doc_id",
      sDir, "b001")
    assert(new java.io.File(s"$sDir/_schema.ddl").isFile)
    val aDir = tmpDir("hintann")
    Similarity.appendIndex((0 until 8).map(i => (i.toLong,
      Array.fill(8)(i.toFloat))).toDF("doc_id", "emb"), aDir, "emb",
      bits = 3, dim = 8)
    assert(new java.io.File(s"$aDir/_schema.ddl").isFile)
    val cDir = tmpDir("hintcur")
    Curation.writeStaged((0 until 8).map(i => (i.toLong, s"body text $i",
      s"http://d$i.com/x")).toDF("doc_id", "text", "url"),
      "doc_id", "text", "url", cDir, "b001")
    assert(new java.io.File(s"$cDir/_schema.ddl").isFile)
    val fDir = tmpDir("hintfreq")
    FreqStore.appendTopK((0 until 40).map(i => (s"i${i % 5}", s"g${i % 2}"))
      .toDF("item", "grp"), "item", "grp", fDir, k = 3, batchId = "b001")
    for (sub <- Seq("items", "stats"))
      assert(new java.io.File(s"$fDir/$sub/_schema.ddl").isFile)
    val kDir = tmpDir("hintsketch")
    SketchStore.appendDistinct((0 until 40).map(i => (i % 11, s"g${i % 2}"))
      .toDF("v", "grp"), "v", "grp", kDir, "b001")
    assert(new java.io.File(s"$kDir/_schema.ddl").isFile)
    val lDir = tmpDir("hintlm")
    NgramLm.appendCounts(docs(0, 10), "text", "doc_id", lDir, "b001")
    for (sub <- Seq("uni", "big", "stats"))
      assert(new java.io.File(s"$lDir/$sub/_schema.ddl").isFile)
    val dDir = tmpDir("hintdom")
    graft.operators.Sampling.appendDomainCounts(
      (0 until 20).map(i => s"d${i % 4}.com").toDF("dom0"), "dom0",
      dDir, "b001")
    assert(new java.io.File(s"$dDir/_schema.ddl").isFile)
  }

  // ------------------------------------------------------ schema drift
  test("an append whose column types differ from the store's pinned " +
      "schema throws SchemaMismatch and leaves the store as it was") {
    import spark.implicits._
    def rejected(dir: String)(append: => Unit): Unit = {
      val e = intercept[StoreCompaction.SchemaMismatch](append)
      assert(e.getMessage.contains(dir) && e.stored != e.incoming)
    }
    // sketch store: the group column turns from INT into STRING
    val kDir = tmpDir("driftsketch")
    SketchStore.appendDistinct((0 until 40).map(i => (i % 11, i % 3))
      .toDF("v", "g"), "v", "g", kDir, "b001")
    def sketches() = rowsOf(StoreCompaction.readVisible(spark, kDir)
      .select(col("g"), hex(col("sketch")), col("batch_id")))
    val kPre = sketches()
    rejected(kDir) {
      SketchStore.appendDistinct((0 until 40).map(i => (i % 11, s"g${i % 3}"))
        .toDF("v", "g"), "v", "g", kDir, "b002")
    }
    assert(sketches() === kPre)
    // heavy-hitter store: the item column turns from INT into STRING
    val fDir = tmpDir("driftfreq")
    FreqStore.appendTopK((0 until 60).map(i => (i % 7, s"g${i % 2}"))
      .toDF("item", "grp"), "item", "grp", fDir, k = 3, batchId = "b001")
    def freq() = Seq("items", "stats").map(t =>
      rowsOf(StoreCompaction.readVisible(spark, s"$fDir/$t")))
    val fPre = freq()
    rejected(s"$fDir/items") {
      FreqStore.appendTopK((0 until 60).map(i => (s"i${i % 7}", s"g${i % 2}"))
        .toDF("item", "grp"), "item", "grp", fDir, k = 3, batchId = "b002")
    }
    assert(freq() === fPre)
  }
}
