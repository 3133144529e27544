package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up evidence harness: runs the heaviest operator heads at ~10×
  * the gate's sf0.1 row counts (synthetic inflation via
  * `explode(sequence)` with key remapping, so join/group cardinalities
  * scale too) under a cluster-like `spark.sql.shuffle.partitions=128`,
  * and reports per-head wall time, shuffle volume, and spill from real
  * stage metrics. Asserts the two properties that must hold for the
  * 100 TB story:
  *   1. plan shape is scale-invariant (no nested-loop/cartesian appears
  *      at 10×; broadcast joins stay broadcast);
  *   2. no task spills pathologically (spill stays 0 or ≪ shuffle).
  * Output: one line per head + a JSON tail, pasted into SCALE.md §"Scale
  * evidence". Run: `sbt "runMain graft.ScaleProbe [sfDir]"`.
  */
object ScaleProbe {

  /** Deterministic power-law graph for the skew probes: 5 hub nodes
    * receive half of all 200k·X edges (~20k·X raw edges EACH — ≥ 10⁵ at
    * X=10), the other half lands uniformly on 50k·X background nodes.
    * Hash-derived, no RNG — reruns and engines agree. */
  private def skewEdges(spark: SparkSession, x: Int): DataFrame = {
    val m = 200000L * x
    val n = 50000L * x
    val hubs = 5L
    spark.range(m).select(
      when(pmod(col("id"), lit(2)) === 0,
        pmod(xxhash64(col("id")), lit(hubs)))
        .otherwise(pmod(xxhash64(col("id") + 1000000007L), lit(n)) + hubs)
        .as("src"),
      (pmod(xxhash64(col("id") + 777L), lit(n)) + lit(hubs)).as("dst"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession()
    spark.conf.set("spark.sql.shuffle.partitions", "128") // cluster-like width

    // ---- X× inflation (default 10; SPARK_GRAFT_SCALE_X=100 for the
    // heavy-head probes). Keys are remapped (id*X + i) so key
    // cardinality scales with the data — inflating rows under the SAME
    // keys would just deepen groups, which is the easy case.
    // SPARK_GRAFT_SCALE_HEADS=regex runs only the matching heads (the
    // 100× runs probe the two heaviest heads without paying the rest).
    val X = sys.env.getOrElse("SPARK_GRAFT_SCALE_X", "10").toInt
    val headRe = sys.env.get("SPARK_GRAFT_SCALE_HEADS").map(_.r)
    // shared between the media_store_build / media_store_incremental
    // leg pair (select both via SPARK_GRAFT_SCALE_HEADS=media_store)
    val mediaStoreDir = java.nio.file.Files
      .createTempDirectory("graft_probe_store").toString + "/s"
    val rep = explode(sequence(lit(0), lit(X - 1))).as("rep")
    val li0 = Tables.lineitem(spark, sfDir)
    val li = li0.select(col("*"), rep)
      .withColumn("l_orderkey", col("l_orderkey") * X + col("rep"))
      .drop("rep")
    val docs0 = Tables.documents(spark, sfDir)
    val docs = docs0.select(col("*"), rep)
      .withColumn("doc_id", col("doc_id") * X + col("rep"))
      // keep ~30% of text rows verbatim duplicates so dedup has work
      .withColumn("text", when(col("rep") % 3 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" v"), col("rep"))))
      .drop("rep")
    val orders0 = Tables.orders(spark, sfDir)
    val orders = orders0.select(col("*"), rep)
      .withColumn("o_orderkey", col("o_orderkey") * X + col("rep"))
      .drop("rep")
    // direction-CHANGING replica perturbation for embedding heads: bump
    // coordinate (rep mod dim) by a rep-dependent amount. The earlier
    // uniform scale (v * (1 + rep/997)) preserved direction, which is a
    // NO-OP for every cosine/quantized-dot/LSH-cell pipeline (scaled
    // copies rank, quantize and bucket identically) — the inflated
    // corpus was X stacked copies, not X-fold vector diversity.
    def perturbDir(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(vec, (v, i) =>
        when(i === pmod(col("rep"), lit(64)),
          v + lit(0.05f) * (lit(1.0f) + pmod(col("rep"), lit(7)).cast("float")))
          .otherwise(v).cast("float"))

    def run(name: String, df: => DataFrame, forbid: Seq[String] = Seq(
        "BroadcastNestedLoopJoin", "CartesianProduct")): Option[(String, Double)] = {
      if (!headRe.forall(_.findFirstIn(name).isDefined)) return None
      val (sec, c) = Counters.measure(spark.sparkContext) {
        // timer starts BEFORE construction: iterative operators (dedup
        // clustering) run their convergence actions while the DataFrame
        // is being built, and that work belongs in the measurement
        val t0 = System.nanoTime()
        val d = df
        val plan = d.queryExecution.executedPlan.toString
        forbid.foreach { bad =>
          require(!plan.contains(bad), s"$name plan degraded at 10x: contains $bad")
        }
        d.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // spill must stay negligible relative to shuffle (a head that
      // spills at 10x local will thrash at 100 TB cluster scale)
      require(c.diskSpillBytes <= math.max(c.shuffleWriteBytes, 64L << 20),
        s"$name disk spill ${c.diskSpillBytes} exceeds shuffle ${c.shuffleWriteBytes}")
      // free any storage blocks the head materialized (checkpointed
      // operator state) so heads never contaminate each other's memory
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(f"$name%-18s ${sec}%7.2f s  shuffle=${c.shuffleWriteBytes / (1 << 20)}%5d MiB" +
        f"  spill(mem/disk)=${c.memSpillBytes / (1 << 20)}%d/${c.diskSpillBytes / (1 << 20)}%d MiB" +
        f"  peakStageMem=${c.peakStageMem / (1 << 20)}%d MiB" +
        f"  task=${c.taskMs / 1e3}%.1fs")
      Some(name -> sec)
    }

    // shared corpus synthesizer for the BPE heads: stem (3-7 chars) +
    // suffix morphemes, hash-derived, zipf-ish in-row repetition —
    // shared subword structure so merges stay productive to 32k+ depth;
    // distinct words bounded at nWords/2 (nWords/16 stems × 8 suffixes)
    def bpeMorphemeCorpus(nWords: Long): DataFrame = {
      val wordUdf = udf { (id: Long) =>
        val h = graft.functions.Hashing.mix64(id)
        val stemLen = 3 + (h & 3).toInt + ((h >>> 2) & 1).toInt
        val sb = new StringBuilder
        var s = graft.functions.Hashing.mix64(id % (nWords / 16))
        var i = 0
        while (i < stemLen) { sb += ('a' + ((s >>> (8 * (i % 8))) & 0x7f).toInt % 26).toChar
          if (i % 8 == 7) s = graft.functions.Hashing.mix64(s); i += 1 }
        val sfx = Array("", "s", "ed", "ing", "er", "ly", "tion", "est")
        sb ++= sfx(((h >>> 8) & 7).toInt)
        val reps = 1 + (16 / (1 + (id % 31))).toInt
        Array.fill(reps)(sb.toString).mkString(" ")
      }
      spark.range(nWords).select(wordUdf(col("id")).as("text"))
    }

    val heads = Seq(
      run("agg_q1", {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        li.groupBy("l_returnflag", "l_linestatus").agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast(DoubleType),
          count(lit(1)))
      }),
      run("window_running", {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        li.select(col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .over(Window.partitionBy("l_orderkey").orderBy("l_linenumber")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running"))
      }),
      run("join_revenue", {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        // star join: inflated fact, broadcast dims — the shape must stay
        // broadcast at 10x (dims are unchanged)
        val cust = Tables.customer(spark, sfDir)
        val nat = Tables.nation(spark, sfDir)
        val j = orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
          .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        j.groupBy("n_name")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("rev"))
      }),
      run("dedup_exact", operators.Dedup.exact(docs, "text", "doc_id")),
      // default hamming budget (3 → 16-bit segments): the segment width
      // 64/(h+1) sets the bucket count, so candidate volume scales as
      // n²(h+1)/2^(64/(h+1)) — h=6 (9-bit segments) is 128× more
      // collision-prone and measured 68 s here vs ~4 s at h=3
      run("dedup_simhash",
        operators.Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)),
      run("dedup_minhash",
        operators.Dedup.minhashPairs(docs, "text", "doc_id")),
      // prefix-bucket candidates + hashed-shingle-array verify: the
      // exchange carries each doc's distinct shingle set as 8 B/shingle
      // long arrays, and per-pair cost is one array intersect — the
      // round-8 rewrite that replaced the per-pair raw-text UDF (which
      // went quadratic-in-CPU on dup-dense corpora)
      run("dedup_ngram",
        operators.Dedup.ngramJaccardPairs(docs, "text", "doc_id")),
      // winnow near-dup pairs at X×. The exchange volume here is
      // OUTPUT-bound: pair enumeration is Σ_fp C(df, 2), and the
      // inflated corpus makes every doc an ~X-way near-dup (replicas
      // differ by one trailing token, so ~95% of fingerprints collide
      // across all X copies) — at X=100 that is ~10⁹ GENUINE pairs, 3
      // orders denser than any real corpus; measured 154 s / 31 GiB
      // spill producing them (recorded in SCALE.md, not a plan defect).
      // The df cap is the operator's knob for exactly this density —
      // probed HERE at the MOSS-style cap, which excludes fps hot
      // beyond evidence-of-copying (df > X/5) before the pair join
      run("winnow_pairs", operators.Dedup.winnowPairs(
        docs, "text", "doc_id", maxDocsPerFp = math.max(2, X / 5),
        portableHash = false)),
      run("dedup_clusters", {
        val pairs = operators.Dedup.minhashPairs(docs, "text", "doc_id",
          verifyJaccard = None).select("id1", "id2")
        operators.Dedup.clusters(pairs)
      }),
      // DEEP-graph clusters probe (VERDICT r15 #5): duplicate-cluster
      // corpora (above) converge in ~1 round — the declared-layout
      // WORST case — while smooth-manifold similarity graphs are
      // chain-shaped and replay the per-round edge exchange O(log n)
      // times. A Hamiltonian path over 50k·X hash-permuted ids is that
      // shape distilled: diameter n, rounds ~ log n via small-star +
      // doubling, so this head prices the adaptive declare-after-round-2
      // treatment on the corpus family it exists for. (xxhash64 id
      // collisions would merely merge two chain segments — a perf
      // probe, not a value gate.)
      run("dedup_clusters_chain", {
        val n = 50000L * X
        val pairs = spark.range(n - 1).select(
          xxhash64(col("id")).as("id1"),
          xxhash64(col("id") + 1L).as("id2"))
        operators.Dedup.clusters(pairs)
      }),
      // asymmetric decontamination: the CORPUS inflates 10×, the
      // benchmark stays the un-inflated eval split — exactly the shape
      // the broadcast-Bloom prefilter exists for (shuffle ∝ hits, not
      // corpus)
      run("decontam_bloom", operators.DocChunker.decontaminateBloom(
        corpus = docs, benchmark = docs0.where(col("doc_id") % 10 < 2),
        textCol = "text", idCol = "doc_id", n = 5)),
      // incremental dedup: the store side is the inflated corpus'
      // even half (pre-sketched bands, read as-is), the new batch is
      // one original-size slice — shuffle must scale with the BATCH
      run("dedup_incremental", {
        val store = operators.Dedup.minhashBands(
          docs.where(col("doc_id") % X =!= 0), "text", "doc_id")
        val batch = docs.where(col("doc_id") % X === 0)
        operators.Dedup.minhashIncrementalPairs(batch, store, docs,
          "text", "doc_id", verifyJaccard = None).df
      }),
      // z-order clustering of the inflated fact: one range exchange +
      // per-partition sort; spill-free at 10× or the layout write
      // becomes the bottleneck it is meant to remove
      run("zorder_cluster", operators.Layout.clusterByZ(
        li, "l_partkey", "l_suppkey", numPartitions = Some(128))),
      // substring-level dedup at 10×: the inflated corpus repeats 1/3
      // of docs verbatim (rep%3==0 keeps text identical), so duplicated
      // spans explode in OCCURRENCES while the shuffle stays bounded by
      // DISTINCT span fingerprints × 16 B (partial agg collapses the
      // repeats map-side) — the property that carries to 100 TB
      run("dup_spans", operators.Dedup.duplicatedSpans(
        docs, "text", "doc_id", window = 8)),
      // stupid-backoff LM scoring at X×: the count tables stay
      // vocabulary-bounded (inflated replicas add occurrences, not
      // distinct keys — the hard case for the scoring joins is the
      // Zipf-skewed token keys, which AQE skew-split handles), the
      // corpus total is a broadcast one-row join, and the shuffle must
      // be bounded by distinct-(bi)gram counts, not token occurrences
      // (the one-row broadcast total is a BNLJ by plan name but O(n·1)
      // by construction — only the cartesian stays forbidden)
      run("lm_score", operators.NgramLm.score(
        docs, "text", "doc_id", col("doc_id") % 10 < 8),
        forbid = Seq("CartesianProduct")),
      // DSIR at X×: the raw corpus inflates, the target slice stays
      // fixed (the realistic shape — the quality exemplar is small).
      // Both feature-count tables are BUCKET-bounded (B=4096 rows), the
      // ratio table broadcasts into scoring, and the only corpus-scale
      // exchange is the per-doc weight aggregation — shuffle must scale
      // with docs, never features×docs (the one-row feature totals are
      // broadcast O(n·1) joins, same BNLJ ruling as lm_score)
      run("dsir", {
        val target = docs0.where(col("source") === "src0")
        val ratios = operators.Dsir.logRatios(target,
          docs.where(col("source") =!= "src0"), "text", "doc_id", 4096)
        operators.Dsir.importanceWeights(docs, "text", "doc_id", ratios, 4096)
      }, forbid = Seq("CartesianProduct")),
      // int8-quantized ANN at X×: one narrow codegen map (quantize +
      // integer dot) + TakeOrdered — the probe asserts the scan shape
      // survives inflation with zero wide shuffle
      run("ann_quantized", {
        val q = Tables.embeddings(spark, sfDir)
          .where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        val embs = Tables.embeddings(spark, sfDir).select(col("*"), rep)
          .withColumn("vec_id", col("vec_id") * X + col("rep"))
          .withColumn("embedding", perturbDir(col("embedding")))
          .drop("rep")
        operators.Similarity.quantizedTopK(embs, "embedding", "vec_id", q, 20)
      }),
      // BPE training at X× and REALISTIC merge depth (1k rounds — a
      // real tokenizer trains 32k): the corpus pays one word-count
      // groupBy; the merge loop runs in memory over the collected
      // vocabulary (round-11 fast path), so wall must grow far slower
      // than X AND be merge-depth-insensitive — the old per-merge
      // Spark-job loop was ~0.1 s/round (hours at 32k) regardless of
      // corpus size
      run("bpe_train", operators.BpeTrain.merges(docs, "text", 1000)),
      // BPE at PRODUCTION vocab depth (round 13): 32k merges — the real
      // tokenizer size — over a synthesized vocabulary of ~25k·X
      // distinct words (50k·X rows, but stems derive from id % (nWords
      // / 16) = 3125·X seeds × 8 suffixes, so distinct words are
      // bounded at 25k·X) with morpheme structure (stems × suffixes,
      // zipf-ish repetition), the shape a web corpus's distinct-word
      // table actually has. The
      // corpus pays the one distributed word-count scan; the 32k-merge
      // loop runs on the driver fast path (vocab ≪ 5M limit). The head
      // prints the driver's peak heap for the SCALE.md record (the loop
      // is the driver-memory hot spot of the whole engine; pool peaks
      // are reset going in so the number is this head's own).
      run("bpe_train_32k", {
        import java.lang.management.{ManagementFactory, MemoryType}
        import scala.jdk.CollectionConverters._
        // post-GC live set printed from inside the loop (see
        // BpeTrain.mergesLocal) — the G1 peak below includes collectible
        // churn and overstates residency by an order of magnitude
        sys.props("graft.bpe.measureLive") = "1"
        ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
        val corpus = bpeMorphemeCorpus(50000L * X)
        val mt = operators.BpeTrain.merges(corpus, "text", 32768)
        val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
        println(f"bpe_train_32k driver peak heap = ${peak / (1 << 20)}%d MiB")
        mt
      }),
      // the DISTRIBUTED merge loop at depth with the driver limit
      // forced to 0 — the big-vocab/small-driver path the heap-derived
      // limit makes real (r14 verdict #3). Batched rounds (prefix-
      // disjoint, strict-gap — sequential-exact, BpeTrainSpec) must cut
      // the one-Spark-round-per-merge wall; the head prints
      // rounds/merges and wall so SCALE.md can extrapolate the 32k
      // envelope (the r10 estimate was ~0.1 s × 32k rounds ≈ 1 h).
      // Depth via SPARK_GRAFT_BPE_DIST_MERGES (default 2048).
      run("bpe_train_dist", {
        val merges = sys.env.getOrElse("SPARK_GRAFT_BPE_DIST_MERGES",
          "2048").toInt
        // A/B knob for the checkpoint cadence experiment (SCALE.md r15)
        sys.env.get("SPARK_GRAFT_BPE_CKPT")
          .foreach(v => sys.props("graft.bpe.checkpointEvery") = v)
        val corpus = bpeMorphemeCorpus(50000L * X)
        val t0 = System.nanoTime()
        val mt = operators.BpeTrain.merges(corpus, "text", merges,
          driverVocabLimit = 0L)
        mt.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val rounds = operators.BpeTrain.lastDistributedRounds
        require(operators.BpeTrain.lastPathDistributed)
        println(f"bpe_train_dist    $merges merges in $rounds rounds " +
          f"(${merges.toDouble / rounds}%.1f merges/round), $sec%.1f s " +
          f"(${sec / merges * 32768}%.0f s at 32k depth if ratio held)")
        mt
      }),
      // BPE ENCODE at X× with a 1k-merge table through the vocab-scale
      // apply path (broadcast rank map + iterative lowest-rank merging;
      // the replace-chain form is gate-only — 1k+ nested replaces is
      // not a plan). Cost must scale with corpus tokens, not merges.
      run("bpe_encode", {
        val mt = operators.BpeTrain.merges(docs, "text", 1000)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        operators.BpeTrain.segmentLarge(docs, "text", mt)
          .select(explode(col("subwords")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
      }),
      // BM25 at X×: ONE corpus-scale shuffle (the per-doc conditional
      // aggregation), then everything is bounded by matching docs; the
      // corpus-constants row is a broadcast O(n·1) join (BNLJ by plan
      // name, same ruling as lm_score)
      run("bm25", operators.Retrieval.bm25(docs, "text", "doc_id",
        Seq("spark", "join", "filter")),
        forbid = Seq("CartesianProduct")),
      // inverted-index build at X×: the corpus-scale half of the BM25
      // index dump — one tokenize pass, per-(doc,term)/per-doc
      // aggregations on the SAME doc key (exchange reuse), bucket
      // column for the partitioned write. Shuffle scales with distinct
      // (doc, term) pairs; at 100 TB this is the one-time cost that
      // every later pruned query amortizes
      run("bm25_index", operators.Retrieval.postingsFor(
        docs, "text", "doc_id", buckets = 64)),
      // int8 k-means at X×: per round, one corpus scan + a k·dim-row
      // partial-agg shuffle (centroid sums collapse map-side); the
      // assignment kernel is broadcast centroid literals — shuffle must
      // stay centroid-bounded, NOT corpus-bounded, at any X
      run("kmeans", {
        val embs = Tables.embeddings(spark, sfDir).select(col("*"), rep)
          .withColumn("vec_id", col("vec_id") * X + col("rep"))
          .withColumn("embedding", perturbDir(col("embedding")))
          .drop("rep")
        operators.Clustering.kmeansI8(embs, "embedding", "vec_id",
          k = 8, iters = 3)
      }),
      // kNN graph at X×: bits follow the ENGINE's corpus-size rule
      // (lshBitsFor holds expected cell density in [32, 64)) — the knob
      // a 100 TB deployment turns. Candidate volume is then
      // O(n × cellSize × tables), linear in n; holding bits fixed while
      // n grows 100× would be the quadratic mistake. The probe's old
      // hand-rolled `3 + log2(X)` under-bucketed 4× vs the rule and,
      // once replicas were direction-perturbed into REAL near-dups,
      // spilled 4.6 GB at X=100 — the degenerate scale-only
      // perturbation had been hiding exactly the density defect
      // lshBitsFor exists to prevent.
      run("knn_graph", {
        val embs0 = Tables.embeddings(spark, sfDir)
        val knnBits = operators.Similarity.lshBitsFor(embs0.count() * X)
        val embs = embs0.select(col("*"), rep)
          .withColumn("vec_id", col("vec_id") * X + col("rep"))
          // perturb replicas so inflated vectors are near-dups of their
          // source, not exact copies (a uniform SCALE is not enough:
          // cosine and LSH cells are scale-invariant, so scaled copies
          // were still exact dups to this pipeline)
          .withColumn("embedding", perturbDir(col("embedding")))
          .drop("rep")
        // production shape: hot-cell cap ON. lshBitsFor keeps the
        // EXPECTED density flat, but the X perturbed replicas of each
        // source vector form a near-dup cluster that co-cells in every
        // table — O(X²) candidates per source without the cap (the
        // round-10 super-linear trend: 10.7 s → 68 s for 10×). Hot
        // cells (> 256 = 4× the density target) pair each member with
        // its next 8 in-cell ids instead: linear, still connected.
        operators.Similarity.selfTopKLsh(embs, "embedding", "vec_id",
          k = 5, bits = knnBits, tables = 6, maxCell = 256, hotWindow = 8)
      }),
      // edit-distance join at X×: key cardinality scales (names are
      // re-derived from the remapped key, so digit-typo pair density
      // grows the way a real key space grows). Variant generation is a
      // zero-shuffle codegen map; the exchanges are the variant-key
      // self-join and the pair distinct — both bounded by candidates,
      // never all-pairs
      run("dedup_edit", {
        val cust = Tables.customer(spark, sfDir).select(col("*"), rep)
          .withColumn("c_custkey", col("c_custkey") * X + col("rep"))
          .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
          .drop("rep")
        operators.Dedup.editDistancePairs(cust, "c_custkey", "c_name", 1)
      }, forbid = Seq("CartesianProduct")),
      // d=2 on a 1/16 slice (the full remapped key space is
      // output-bound: ~2000 true pairs per row — measured 74% of
      // distinct candidates verify, so wall is the answer's size, not
      // waste). Telemetry prints the verify-once-per-pair cut: raw
      // candidate rows (one per shared variant) vs distinct pairs
      // actually verified (round-12 fix; was 7.7x on this shape)
      run("dedup_edit2", {
        val cust = Tables.customer(spark, sfDir).select(col("*"), rep)
          .withColumn("c_custkey", col("c_custkey") * X + col("rep"))
          .where(col("c_custkey") % 16 === 0)
          .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
          .drop("rep")
        operators.Dedup.editDistancePairs(cust, "c_custkey", "c_name", 2)
      }, forbid = Seq("CartesianProduct")),
      {
        if (headRe.exists(_.findFirstIn("dedup_edit2").isDefined)) {
          val cust = Tables.customer(spark, sfDir).select(col("*"), rep)
            .withColumn("c_custkey", col("c_custkey") * X + col("rep"))
            .where(col("c_custkey") % 16 === 0)
            .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
            .drop("rep")
          val cand = operators.Dedup.editCandidates(
            cust, "c_custkey", "c_name", 2, 0)
          val raw = cand.count()
          val distinct = cand.select("id1", "id2").distinct().count()
          println(f"dedup_edit2 telemetry: candidateRows=$raw%,d " +
            f"verifiedPairs=$distinct%,d cut=${raw.toDouble / math.max(distinct, 1)}%.1fx")
        }
        None
      },
      // PageRank at X×: events inflate with remapped event AND user ids
      // (node count scales ∝ X, replicas interleave inside each
      // (type, day) stream so the graph densifies rather than splitting
      // into X disjoint copies). Cost model: per round, one shuffle of
      // the rank table onto edge sources + one contribution aggregation
      // on dst — shuffle must scale with edges, and lineage is cut per
      // round, so 6 rounds cost 6× one round, not a compounding replay
      run("pagerank", {
        val ev = Tables.events(spark, sfDir).select(col("*"), rep)
          .withColumn("event_id", col("event_id") * X + col("rep"))
          .withColumn("user_id", col("user_id") * X + col("rep"))
          .drop("rep")
        operators.Graphs.pageRank(operators.Graphs.eventHandoffEdges(ev),
          "src", "dst", iters = 6)
      }, forbid = Seq("CartesianProduct")),
      // triangle counting at X×: degree-ordered orientation bounds the
      // wedge intermediate at Σ outdeg² = O(m^1.5) independent of skew
      // (the star-hub case: orientation points INTO high-degree nodes,
      // so hubs generate ~zero wedges). Shuffle = degrees + two
      // equi-joins; must stay spill-free as the graph densifies
      run("triangles", {
        val ev = Tables.events(spark, sfDir).select(col("*"), rep)
          .withColumn("event_id", col("event_id") * X + col("rep"))
          .withColumn("user_id", col("user_id") * X + col("rep"))
          .drop("rep")
        operators.Graphs.triangleCounts(
          operators.Graphs.eventHandoffEdges(ev), "src", "dst")
      }, forbid = Seq("CartesianProduct")),
      // label propagation at X×: per round one edges⋈labels join + a
      // (node, label) count + a per-node argmax window (groups = a
      // node's distinct neighbor labels — small by construction);
      // support-filtered edges as in the gate
      run("label_prop", {
        val ev = Tables.events(spark, sfDir).select(col("*"), rep)
          .withColumn("event_id", col("event_id") * X + col("rep"))
          .withColumn("user_id", col("user_id") * X + col("rep"))
          .drop("rep")
        val supported = operators.Graphs.eventHandoffEdges(ev)
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
          .where(col("w") >= 3).select("src", "dst")
        operators.Graphs.labelPropagation(supported, "src", "dst", iters = 4)
      }, forbid = Seq("CartesianProduct")),
      // SKEWED-graph probes (round 11): the handoff graph is
      // near-uniform, so the 100× runs above never stressed the two
      // skew claims — triangle counting's Σ outdeg² = O(m^1.5) bound
      // (true only because degree-ordered orientation points INTO
      // hubs) and LPA's per-node argmax on hub neighborhoods. This
      // power-law generator gives 5 hubs ~M/10 raw edges EACH (10⁵+ at
      // X=10) over a uniform background; wedge/max-outdeg telemetry is
      // printed after the triangles head.
      run("triangles_skew", {
        operators.Graphs.triangleCounts(skewEdges(spark, X), "src", "dst")
      }, forbid = Seq("CartesianProduct")),
      {
        if (headRe.forall(_.findFirstIn("triangles_skew").isDefined)) {
          val (wedges, maxOd) = operators.Graphs.wedgeStats(
            skewEdges(spark, X), "src", "dst")
          println(f"triangles_skew telemetry: wedges=$wedges%,d maxOrientedOutdeg=$maxOd%,d")
        }
        None
      },
      // The X=1000 residual spill on this head is STAMPED cluster-
      // correct (round-13 final adjudication of the r12 watch item):
      // LPA's round-1 (node, label) key space is ~|E| BY CONSTRUCTION
      // (every neighbor starts uniquely labeled), so the per-round
      // working set is linear in edges and the one-host probe is
      // bounded by the HOST's total memory, not by plan shape. The
      // width experiment proves it: 4096 shuffle partitions with AQE
      // coalescing off (each task ~100k keys) still spilled 34 GiB and
      // ran 3.6× slower (2041 s vs 574 s) — dividing the working set
      // by partitioning cannot create memory one host doesn't have,
      // while on a cluster the same 128-partition plan lands each
      // partition on a different executor's memory. Shuffle stays
      // exactly linear per decade (0.41→3.96→42.3 GiB, r12) and no
      // single-task structure remains; SCALE.md round-13 records both
      // runs.
      run("label_prop_skew", {
        operators.Graphs.labelPropagation(skewEdges(spark, X), "src", "dst",
          iters = 4)
      }, forbid = Seq("CartesianProduct")),
      // full curation pipeline at X×: URL key-space scales with the
      // corpus (domains ∝ X, ~20 docs per canonical), so BOTH window
      // stages (canonical dedup, domain quota) grow their group COUNT,
      // not group size — the realistic crawl shape
      run("curate", {
        val n = docs // docs is already the X×-inflated corpus
        val urled = n.withColumn("u", concat(lit("https://site"),
          pmod(xxhash64(col("doc_id")), lit(3000L * X)).cast("string"),
          lit(".com/p/"), pmod(col("doc_id"), lit(20)).cast("string")))
        operators.Curation.curate(urled, "doc_id", "text", "u",
          minTokens = 20, domainCap = 50)
      }),
      // HOT-domain curation (round 12): ONE domain holds 50% of all docs
      // and its SIZE scales with X — the shape the probe above dodges
      // (it grows domain COUNT). Every hot-domain doc has a unique path
      // (no canonical collapse), so the full 50% slab hits the QUOTA
      // stage; the salted kept-set path must hold wall ~linear with
      // zero spill and no single-task per-domain sort (the pre-round-12
      // running-sum window form sorted the whole slab in one task)
      run("curate_hotdomain", {
        val urled = docs.withColumn("u",
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("https://bigblog.com/p/"), col("doc_id").cast("string")))
            .otherwise(concat(lit("https://site"),
              pmod(xxhash64(col("doc_id")), lit(3000L * X)).cast("string"),
              lit(".com/p/"), pmod(col("doc_id"), lit(20)).cast("string"))))
        operators.Curation.curate(urled, "doc_id", "text", "u",
          minTokens = 20, domainCap = 50)
      }),
      // image near-dup pipeline at X×: synthesized block-pattern BMPs
      // (group count ∝ X, ~125 replicas each), REAL decode + block-mean
      // embed, capped LSH threshold graph, connected components. The
      // byte volume (~1.8 KB/doc) and the per-doc decode loop are the
      // probe's point: media columns must ride the same bounded-candidate
      // pipeline text embeddings do
      run("media_semdedup", {
        val groups = 40 * X
        val mediaUdf = udf { (id: Long) =>
          operators.Multimodal.bmpBlockLuma(24, 24, 6, 6,
            Queries.mediaGateLumas((id % groups).toInt, (id / groups % 8).toInt))
        }
        val base = docs.select(col("doc_id"))
        // bits from the pre-decode count — the decode pass must run once
        val nRows = base.count()
        val media = base.withColumn("media", mediaUdf(col("doc_id")))
        val emb = operators.Multimodal.embedImageBlocks(media, "media")
          .select(col("doc_id"), col("block_emb"))
        val pairs = operators.Similarity.selfTopKLsh(emb, "block_emb",
          "doc_id", k = Int.MaxValue,
          bits = operators.Similarity.lshBitsFor(nRows), tables = 8,
          dim = 36, maxCell = 48, hotWindow = 8, nRowsHint = nRows)
          .where(col("score") >= 0.9).select("id1", "id2")
        operators.Dedup.clusters(pairs)
      }),
      // incremental media near-dup, the STORE build leg: the corpus is
      // decoded+embedded ONCE into the NearDupStore (vecs + cell index,
      // blind-append parquet). Run with SPARK_GRAFT_SCALE_HEADS=
      // media_store so this and the incremental leg below both fire
      // (the leg pair shares mediaStoreDir).
      run("media_store_build", {
        val groups = 40 * X
        val mediaUdf = udf { (id: Long) =>
          operators.Multimodal.bmpBlockLuma(24, 24, 6, 6,
            Queries.mediaGateLumas((id % groups).toInt, (id / groups % 8).toInt))
        }
        val base = docs.select(col("doc_id"))
        val nRows = base.count()
        val media = base.withColumn("media", mediaUdf(col("doc_id")))
        val emb = operators.Multimodal.embedImageBlocks(media, "media")
          .select(col("doc_id"), col("block_emb"))
        operators.NearDupStore.write(emb, "block_emb", "doc_id",
          mediaStoreDir, "b1", operators.Similarity.lshBitsFor(nRows),
          tables = 8, dim = 36)
        operators.NearDupStore.cells(spark, mediaStoreDir)
          .groupBy("batch_id").count()
      }),
      // incremental media near-dup, the NEW-BATCH leg — the 100 TB
      // contract under test: a FIXED-size batch (10k images at every X)
      // embeds only itself, appends, and pairs against the whole stored
      // corpus from the index. Wall must track the BATCH, not the
      // corpus: the only corpus-growing stage is the (id, cellkey)
      // index semi-join, ~16 bytes/row — never a decode. The batch
      // re-sees a FIXED 40 of the corpus's 40·X groups (a crawl batch
      // overlaps a bounded slice of history, not all of it — a batch
      // whose content touches EVERY dup cluster in the corpus would
      // rightly pay to pair with every one of them), so the
      // touched-cell view, and with it the pairing work, is bounded by
      // the batch's content overlap, not by X.
      run("media_store_incremental", {
        val batchN = 10000L
        val newUdf = udf { (id: Long) =>
          val i = id - 1000000000000L
          operators.Multimodal.bmpBlockLuma(24, 24, 6, 6,
            Queries.mediaGateLumas((i % 40).toInt, ((i / 40) % 8).toInt))
        }
        val newDocs = spark.range(batchN)
          .select((lit(1000000000000L) + col("id")).as("doc_id"))
          .withColumn("media", newUdf(col("doc_id")))
        val emb = operators.Multimodal.embedImageBlocks(newDocs, "media")
          .select(col("doc_id"), col("block_emb"))
        operators.NearDupStore.write(emb, "block_emb", "doc_id",
          mediaStoreDir, "b2",
          operators.Similarity.lshBitsFor(docs.count()), tables = 8, dim = 36)
        operators.NearDupStore.pairs(spark, mediaStoreDir, tau = 0.9,
          maxCell = 48, hotWindow = 8, newBatchId = Some("b2"))
          .select("id1", "id2")
      }),
      // audio near-dup at X×: same capped-LSH pipeline over the energy
      //-envelope embedding (group count ∝ X like the image probe) —
      // real WAV byte synthesis + decode loops included in the wall
      run("audio_semdedup", {
        val groups = 40 * X
        val mediaUdf = udf { (id: Long) =>
          operators.Multimodal.wavWindows(64,
            Queries.audioGateAmps((id % groups).toInt, (id / groups % 8).toInt))
        }
        val base = docs.select(col("doc_id"))
        val nRows = base.count()
        val media = base.withColumn("media", mediaUdf(col("doc_id")))
        val emb = operators.Multimodal.embedAudioWindows(media, "media")
          .select(col("doc_id"), col("win_emb"))
        val pairs = operators.Similarity.selfTopKLsh(emb, "win_emb",
          "doc_id", k = Int.MaxValue,
          bits = operators.Similarity.lshBitsFor(nRows), tables = 8,
          dim = 16, maxCell = 48, hotWindow = 8, nRowsHint = nRows)
          .where(col("score") >= 0.9).select("id1", "id2")
        operators.Dedup.clusters(pairs)
      }),
      // frame-level video copy detection at X×: real Y4M synth + frame
      // demux + md5 per frame, then the text minhash band/verify path —
      // group count ∝ X like the other media probes
      run("video_semdedup", {
        val groups = 40 * X
        val mediaUdf = udf { (id: Long) =>
          val g = (id % groups).toInt
          val r = ((id / groups) % 8).toInt
          operators.Multimodal.y4mScenes(8, 8, scenes = 8, framesPerScene = 1,
            level = sc =>
              if (sc == r) Queries.videoJitLevel(g, r)
              else Queries.videoBaseLevel(g, sc))
        }
        val media = docs.select(col("doc_id"))
          .withColumn("media", mediaUdf(col("doc_id")))
        val fh = operators.Multimodal.frameHashes(media, "media")
          .select(col("doc_id"),
            array_join(col("frame_hashes"), " ").as("fh_text"))
        val pairs = operators.Dedup.minhashPairs(fh, "fh_text", "doc_id",
          shingleSize = 1, bands = 16, rowsPerBand = 2,
          verifyJaccard = Some(0.5))
        operators.Dedup.clusters(pairs.select("id1", "id2"))
      }),
      // the PRODUCTION video-dedup shape: exact-collapse identical
      // fingerprint sequences FIRST (replicas of one upload are
      // byte-identical), then minhash only the distinct representatives
      // — candidate pairs stop scaling with replica count; components
      // recover full membership through the representative map
      run("video_semdedup_collapsed", {
        val groups = 40 * X
        val mediaUdf = udf { (id: Long) =>
          val g = (id % groups).toInt
          val r = ((id / groups) % 8).toInt
          operators.Multimodal.y4mScenes(8, 8, scenes = 8, framesPerScene = 1,
            level = sc =>
              if (sc == r) Queries.videoJitLevel(g, r)
              else Queries.videoBaseLevel(g, sc))
        }
        val media = docs.select(col("doc_id"))
          .withColumn("media", mediaUdf(col("doc_id")))
        val fh = operators.Multimodal.frameHashes(media, "media")
          .select(col("doc_id"),
            array_join(col("frame_hashes"), " ").as("fh_text"))
        val reps = fh.groupBy("fh_text")
          .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_replicas"))
        val pairs = operators.Dedup.minhashPairs(
          reps.select(col("rep_id").as("doc_id"), col("fh_text")),
          "fh_text", "doc_id", shingleSize = 1, bands = 16, rowsPerBand = 2,
          verifyJaccard = Some(0.5))
        val comps = operators.Dedup.clusters(pairs.select("id1", "id2"))
        // membership back: every doc inherits its representative's cluster
        fh.join(reps, Seq("fh_text"))
          .join(comps.withColumnRenamed("id", "rep_id"), Seq("rep_id"), "left")
          .groupBy(coalesce(col("cluster"), col("rep_id")).as("cluster"))
          .agg(count(lit(1)), sum("doc_id"))
      }),
      // TRANSCODE-robust video near-dup at X× (round 13): every variant
      // is a full re-encode (every block of every frame jittered, zero
      // shared frame hashes), so the md5 path above finds nothing; this
      // probe rides per-frame block-luma embeddings through the capped
      // LSH and the frame→video match-count rollup. Frame rows = 6 ×
      // docs; bits follow the frame-row count, candidates bounded by
      // maxCell/hotWindow exactly like the image probe
      run("video_semdedup_robust", {
        val groups = 40 * X
        val nFrames = 6
        val mediaUdf = udf { (id: Long) =>
          val g = (id % groups).toInt
          val r = ((id / groups) % 8).toInt
          val pats = Array.tabulate(nFrames)(f =>
            Queries.mediaGateLumas(g * 16 + f, r))
          operators.Multimodal.y4mBlockLuma(24, 24, 6, 6, nFrames,
            (f, b) => pats(f)(b))
        }
        val base = docs.select(col("doc_id"))
        val nRows = base.count()
        val media = base.withColumn("media", mediaUdf(col("doc_id")))
        val frames = operators.Multimodal
          .embedVideoFrameBlocks(media, "media")
          .select(col("doc_id"), explode(col("frame_embs")).as("fe"))
          .select(col("doc_id"), col("fe.frame_idx").as("frame_idx"),
            col("fe.emb").as("femb"))
        val pairs = operators.Multimodal.videoNearDupPairs(frames,
          "doc_id", "frame_idx", "femb",
          bits = operators.Similarity.lshBitsFor(nRows * nFrames),
          tables = 8, dim = 36, tau = 0.9, minMatchedFrames = 4)
          .select("id1", "id2")
        operators.Dedup.clusters(pairs)
      }),
      // per-group cap on a HOT group: 90% of all rows share one group —
      // the single-task per-group window trap the round-11 salted
      // prefilter removes (stage 1 ranks within (group, 64 salt
      // buckets), so the hot group sorts in 64 parallel tasks and the
      // final window sees ≤ salt·k rows per group)
      run("reservoir_skew", {
        val n = 200000L * X
        val e = spark.range(n).select(
          when(pmod(col("id"), lit(10)) < 9, lit("hot"))
            .otherwise(concat(lit("g"), pmod(xxhash64(col("id")), lit(1000))))
            .as("grp"),
          col("id"))
        operators.Sampling.topKPerGroup(e, "grp", "id", k = 100)
      }),
      // heavy-hitters store build at X×: the corpus-scale cost is the
      // (grp, item) count aggregation; ranking is salted two-stage so
      // no task sorts a whole group's vocabulary, and the store rows
      // written are (groups × k) regardless of X
      run("freq_store", {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_freq_probe").toString
        operators.FreqStore.writeTopK(
          docs.select(col("lang"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("tok")),
          "tok", "lang", s"$dir/s", k = 50, batchId = "probe")
        spark.read.parquet(s"$dir/s/items")
      }),
      // hashed linear classifier at X×: zero-shuffle codegen scoring —
      // the probe pins that the inline path stays a pure map (shuffle
      // bytes ~0) and wall tracks tokens linearly
      run("quality_classifier", {
        operators.QualityClassifier.scoreInline(docs, "text", "doc_id", 4096)
          .groupBy("keep").agg(count(lit(1)), sum("score_milli"))
      }),
      // corpus-global sentence dedup with a HOT sentence: half of all
      // docs carry the same boilerplate blurb, so one sentence hash owns
      // ~X·25k occurrences — the count groupBy must absorb it map-side
      // and the join back must keep it a one-build-row hash probe, with
      // no per-sentence window anywhere
      run("sentence_dedup_hot", {
        val seeded = docs.withColumn("text",
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(col("text"), lit(". Subscribe to our newsletter now.")))
            .otherwise(col("text")))
        operators.SentenceDedup.dedupSentences(seeded, "text", "doc_id")
          .groupBy().agg(sum("n_sents"), sum("n_dup"),
            sum(length(col("clean_text"))))
      }),
      // END-TO-END assembly at X×: sentence dedup (with the hot
      // boilerplate sentence) → classifier keep → chunking — the
      // composition must inherit its stages' scaling, with no extra
      // exchange appearing at the seams
      run("assembly", {
        val seeded = docs.withColumn("text",
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(col("text"), lit(". Subscribe to our newsletter now.")))
            .otherwise(col("text")))
        val cleaned = operators.SentenceDedup
          .dedupSentences(seeded, "text", "doc_id")
          .select(col("doc_id"), col("clean_text"))
        // inline keep filter (round 15): the join-back form re-ran the
        // sentence dedup on both join sides (see qAssembly)
        val kept = operators.QualityClassifier
          .keepFilter(cleaned, "clean_text", 4096)
        operators.DocChunker.chunk(kept, "clean_text", "doc_id",
          chunkTokens = 40, overlap = 8)
          .groupBy().agg(count(lit(1)), sum("n_tokens"))
      }),
      // the assembly LAST MILE at X×: chunk → token-budget packing →
      // md5-sharded parquet WRITE (the trainer's files). Cost must be
      // one hash exchange (packing) + one shard-id exchange (the shard
      // write); determinism is spec-pinned, this head prices the IO
      run("assembly_shards", {
        val chunks = operators.DocChunker.chunk(docs, "text", "doc_id",
          chunkTokens = 40, overlap = 8)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_shards_probe").toString
        val n = operators.Assembly.writeShards(chunks, "chunk_text",
          "doc_id", "chunk_id", tokenBudget = 2048, nShards = 64,
          outDir = dir)
        spark.range(n).toDF() // rows written; the measured work is the write
      }),
      // per-line language segmentation at X×: explode → regex scoring →
      // two count groupBys + windowless array-fold RLE — wall must track
      // line volume with no skewed-key single task
      run("lang_segments", {
        graft.functions.TextFunctions.langSegments(docs, "text", "doc_id")
          .groupBy("main_lang")
          .agg(count(lit(1)), sum("n_segments"), sum("n_lines"))
      }),
      // temperature sampling with a hot domain (50% of docs, size ∝ X):
      // the count groupBy partial-aggregates, the join back is hash-
      // probe only — wall must stay ~linear with zero windows
      run("temperature_sample_hot", {
        val domed = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("big"))
            .otherwise(concat(lit("d"),
              pmod(xxhash64(col("doc_id")), lit(1000L * X)).cast("string")))
            .as("dom"))
        operators.Sampling.temperatureSample(domed, "dom", "doc_id", scale = 8.0)
          .groupBy().agg(count(lit(1)), sum("doc_id"))
      }),
      // STORE COMPACTION at daemon cadence (~1000 blind-appended
      // batches, the shape `mydumper_daemon_thread.c:33-140`'s
      // snapshot-interval loop implies): reads over the accrued store
      // pay per-file footer/listing/replay-dedup cost that grows with
      // BATCH COUNT even when row volume is tiny — compact() must
      // collapse it to a flat floor that later appends don't disturb.
      // The measured claims (require-gated): visible file count drops
      // ≥50×, the full-consume read gets faster, and the post-append
      // read stays at the compacted floor.
      {
        val name = "store_compaction"
        if (!headRe.forall(_.findFirstIn(name).isDefined)) None
        else {
          val dir = java.nio.file.Files
            .createTempDirectory("graft_probe_cmp").toString + "/s"
          val nBatches = sys.env.getOrElse("SPARK_GRAFT_CMP_BATCHES", "1000").toInt
          def mkBatch(b: Int): DataFrame = spark.range(8).select(
            (col("id") + b.toLong * 8L).as("doc_id"),
            concat(lit("common alpha beta. shared gamma delta. tail "),
              ((col("id") + b) % 13).cast("string"), lit(" words.")).as("text"))
          def timedRead(): Double = {
            val t0 = System.nanoTime()
            operators.SentenceDedup.storedCounts(spark, dir)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val tA0 = System.nanoTime()
          operators.SentenceDedup.writeCounts(mkBatch(0), "text", "doc_id",
            dir, "b00000")
          (1 until nBatches).foreach(b =>
            operators.SentenceDedup.appendCounts(mkBatch(b), "text",
              "doc_id", dir, f"b$b%05d"))
          val appendSec = (System.nanoTime() - tA0) / 1e9
          val readPre = timedRead()
          val (filesPre, _, _) = operators.StoreCompaction.stats(spark, dir)
          val tC0 = System.nanoTime()
          operators.SentenceDedup.compactCounts(spark, dir)
          val compactSec = (System.nanoTime() - tC0) / 1e9
          val readPost = timedRead()
          val (filesPost, _, _) = operators.StoreCompaction.stats(spark, dir)
          (0 until 5).foreach(b =>
            operators.SentenceDedup.appendCounts(mkBatch(nBatches + b),
              "text", "doc_id", dir, f"b${nBatches + b}%05d"))
          val readAfterAppends = timedRead()
          val (filesAfter, _, _) = operators.StoreCompaction.stats(spark, dir)
          println(f"$name%-18s appends=$nBatches in $appendSec%.1f s; " +
            f"read@$nBatches batches: $readPre%.2f s / $filesPre files; " +
            f"compact: $compactSec%.2f s; read@compacted: $readPost%.2f s / " +
            f"$filesPost files; +5 appends: $readAfterAppends%.2f s / $filesAfter files")
          require(filesPost * 50 <= filesPre,
            s"compaction left $filesPost of $filesPre files")
          require(readPost < readPre,
            f"compacted read $readPost%.2f s not under accrued read $readPre%.2f s")
          require(readAfterAppends < readPre,
            "post-compaction appends re-inflated the read cost")
          Some(name -> (appendSec + readPre + compactSec + readPost + readAfterAppends))
        }
      }
    ).flatten
    // broadcast stayed broadcast?
    require(heads.nonEmpty)
    val total = heads.map(_._2).sum
    println(s"""{"scale_x":$X,"shuffle_partitions":128,"total_sec":${math.round(total * 100) / 100.0},""" +
      heads.map { case (n, s) => s""""$n":${math.round(s * 100) / 100.0}""" }.mkString("{", ",", "}").pipe(q => s""""heads":$q}"""))
    spark.stop()
  }

  private implicit class PipeOps[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }
}
