package graft

import graft.operators.{Dedup, DocChunker}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dedup equivalence, simhash recall vs ground truth, and
  * bloom-prefiltered decontamination equivalence — the round-5 scale
  * paths, each proven equal (or recall-bounded) against its batch/exact
  * counterpart. */
class DedupIncrementalSpec extends SparkTestBase {

  test("incremental minhash pairs equal the full-batch pair set") {
    val docs = Tables.documents(spark, sf)
    val oldDocs = docs.where(col("doc_id") % 2 === 0)
    val newDocs = docs.where(col("doc_id") % 2 === 1)
    val store = Dedup.minhashBands(oldDocs, "text", "doc_id")
    // storage-lifecycle gate: the batch run must leave ZERO persistent
    // blocks behind once released — at production batch cadence a leaked
    // band checkpoint per batch pins executor storage until JVM exit
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val scoped = Dedup.minhashIncrementalPairs(newDocs, store, docs,
      "text", "doc_id", verifyJaccard = Some(0.5))
    val incr = scoped.df.select("id1", "id2")
    val oldScoped = Dedup.minhashPairsScoped(oldDocs, "text", "doc_id",
      verifyJaccard = Some(0.5))
    val fullScoped = Dedup.minhashPairsScoped(docs, "text", "doc_id",
      verifyJaccard = Some(0.5))
    val oldPairs = oldScoped.df.select("id1", "id2")
    val full = fullScoped.df.select("id1", "id2")
    val union = incr.unionByName(oldPairs).distinct()
    assert(full.exceptAll(union).count() === 0,
      "incremental path MISSED pairs the batch run finds")
    assert(union.exceptAll(full).count() === 0,
      "incremental path INVENTED pairs the batch run lacks")
    assert(full.count() > 0, "test premise: corpus must contain near-dups")
    // every incremental pair touches at least one new (odd) doc
    assert(incr.where(col("id1") % 2 === 0 && col("id2") % 2 === 0).count() === 0)
    scoped.release(); oldScoped.release(); fullScoped.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore
    assert(leaked.isEmpty, s"incremental dedup leaked storage blocks: $leaked")
  }

  test("batch pairs restrict to subsets: pairs(half) == pairs(all) ∩ half²") {
    // the property q_dedup_incremental's harness now RELIES on to derive
    // the old half's pair set from the full one instead of re-running a
    // third sketch pipeline: signatures and band keys are per-doc
    // (corpus-independent), so restriction commutes with the operator
    val docs = Tables.documents(spark, sf)
    val half = docs.where(col("doc_id") % 2 === 0)
    val sub = Dedup.minhashPairsScoped(half, "text", "doc_id",
      verifyJaccard = Some(0.5))
    val all = Dedup.minhashPairsScoped(docs, "text", "doc_id",
      verifyJaccard = Some(0.5))
    try {
      val direct = sub.df.select("id1", "id2")
      val derived = all.df.select("id1", "id2")
        .where(col("id1") % 2 === 0 && col("id2") % 2 === 0)
      assert(direct.exceptAll(derived).count() === 0 &&
        derived.exceptAll(direct).count() === 0,
        "restriction must commute with the pair operator")
    } finally { sub.release(); all.release() }
  }

  test("clusters frees intermediate checkpoints; scoped release frees the result") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 0.4)
    // each regime, and the dispatching entry point: the local regime's
    // coalesced edge read and label checkpoint follow the same rule as
    // the loop's per-round checkpoints
    for ((path, run) <- Seq[(String, () => Dedup.Scoped)](
        "dispatch" -> (() => Dedup.clustersScoped(pairs)),
        "local" -> (() => Dedup.clustersLocal(pairs)),
        "loop" -> (() => Dedup.clustersLoop(pairs)))) {
      val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
      val scoped = run()
      assert(scoped.df.count() > 0, "test premise: clusters must be non-empty")
      // intermediates (edges, per-round labels) are already freed inside
      // the call; only the final label table's own blocks may remain
      val during = spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore
      assert(during.size <= 1,
        s"$path: clusters left ${during.size} block sets resident (intermediates leaked)")
      scoped.release()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore
      assert(leaked.isEmpty, s"$path: clusters leaked storage blocks after release: $leaked")
    }
  }

  test("clusters converges on a long random-id path (the adversarial shape)") {
    import spark.implicits._
    // a path whose node ids are in RANDOM order along it: the label
    // forest flattens to per-region local minima, pointer doubling goes
    // no-op, and progress reverts to region-merge hops — the shape that
    // blew past the old maxIter=16 rail at sf0.1 (17 rounds observed on
    // the 2 000-node embedding-similarity graph). Convergence must hold
    // and the single component must collapse to its global min label.
    val n = 3000
    val perm = new scala.util.Random(7).shuffle((0 until n).toVector)
    val pairs = (0 until n - 1).map { i =>
      val (a, b) = (perm(i).toLong, perm(i + 1).toLong)
      (math.min(a, b), math.max(a, b))
    }.toDF("id1", "id2")
    for (run <- Seq[DataFrame => DataFrame](Dedup.clusters(_),
        Dedup.clustersLocal(_).df, Dedup.clustersLoop(_).df)) {
      val labels = run(pairs).collect()
      assert(labels.length === n)
      assert(labels.forall(_.getLong(1) === 0L),
        "single path component must collapse to the global min id")
    }
  }

  test("clusters handles non-Long integral ids (the convergence probe " +
      "must not assume a LongType cluster column)") {
    import spark.implicits._
    // IntegerType ids: the round-15 probe read getLong(1) off internal
    // rows unconditionally — undefined word reads on any caller that
    // never cast to LongType (clusters() is public and does not cast)
    val pairs = Seq((5, 2), (2, 3), (10, 11)).toDF("id1", "id2")
    assert(pairs.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.IntegerType))
    for (run <- Seq[DataFrame => DataFrame](Dedup.clusters(_),
        Dedup.clustersLocal(_).df, Dedup.clustersLoop(_).df)) {
      val labeled = run(pairs)
      assert(labeled.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.IntegerType))
      val got = labeled.collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
        .toSet
      assert(got == Set((5L, 2L), (2L, 2L), (3L, 2L), (10L, 10L), (11L, 10L)))
    }
  }

  test("incremental store update is a blind append (re-run equivalence)") {
    val docs = Tables.documents(spark, sf)
    val oldDocs = docs.where(col("doc_id") % 2 === 0)
    val newDocs = docs.where(col("doc_id") % 2 === 1)
    val appended = Dedup.minhashBands(oldDocs, "text", "doc_id")
      .unionByName(Dedup.minhashBands(newDocs, "text", "doc_id"))
    val direct = Dedup.minhashBands(docs, "text", "doc_id")
    assert(appended.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(appended).count() === 0)
  }

  test("simhash hamming<=6 recall over near-exact (Jaccard>=0.8) ground truth") {
    val slice = Tables.documents(spark, "/root/testdata/sf0.01")
      .where(col("doc_id") < 500)
    val shUdf = udf { t: String =>
      val hs = functions.Hashing.shingles(t, 3)
        .map(s => functions.Hashing.hash64(s)).distinct
      java.util.Arrays.sort(hs); hs
    }
    val setJaccard = udf { (a: Seq[Long], b: Seq[Long]) =>
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1 else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }
    val l = slice.select(col("doc_id").as("id1"), shUdf(col("text")).as("sh1"))
    val r = slice.select(col("doc_id").as("id2"), shUdf(col("text")).as("sh2"))
    val exact = l.crossJoin(broadcast(r)).where(col("id1") < col("id2"))
      .where(setJaccard(col("sh1"), col("sh2")) >= 0.8)
      .select("id1", "id2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val sh = Dedup.simhashPairs(slice, "text", "doc_id", maxHamming = 6)
      .select("id1", "id2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(exact.nonEmpty, "test premise: near-exact dups must exist")
    val recall = exact.count(sh.contains).toDouble / exact.size
    info(s"simhash recall: $recall over ${exact.size} ground-truth pairs")
    assert(recall >= 0.7, s"recall $recall below the gate threshold")
  }

  test("incremental against an EMPTY store equals within-batch pairs") {
    // first-ever batch: the store is empty, so incremental must reduce
    // to plain minhashPairs over the batch
    val docs = Tables.documents(spark, sf)
    val emptyStore = Dedup.minhashBands(docs.where(lit(false)), "text", "doc_id")
    Dedup.minhashIncrementalPairs(docs, emptyStore, docs,
      "text", "doc_id", verifyJaccard = Some(0.5)) { incrFull =>
      val incr = incrFull.select("id1", "id2")
      val batch = Dedup.minhashPairs(docs, "text", "doc_id",
        verifyJaccard = Some(0.5)).select("id1", "id2")
      assert(incr.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(incr).count() === 0)
    }
  }

  test("bloom decontamination with an empty benchmark flags nothing") {
    val docs = Tables.documents(spark, sf)
    val none = docs.where(lit(false))
    val res = DocChunker.decontaminateBloom(docs, none, "text", "doc_id", n = 5)
    assert(res.where(col("n_hits") > 0).count() === 0)
    assert(res.count() === docs.count(), "every corpus doc still reported")
  }

  test("bloom-prefiltered decontamination equals the exact join") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.where(col("doc_id") % 10 >= 2)
    val bench = docs.where(col("doc_id") % 10 < 2)
    val exact = DocChunker.decontaminate(corpus, bench, "text", "doc_id", n = 5)
    val bloom = DocChunker.decontaminateBloom(corpus, bench, "text", "doc_id", n = 5)
    assert(exact.exceptAll(bloom).count() === 0)
    assert(bloom.exceptAll(exact).count() === 0)
    // premise: contamination exists, so equality is not vacuous
    assert(exact.where(col("n_hits") > 0).count() > 0)
  }
}

/** Round-10: candidate verification is regime-adaptive — one code path,
  * the engine picks per corpus. Few-candidate corpora take the per-pair
  * UDF branch; dup-dense corpora take the per-doc hash-array branch
  * (SCALE.md measured the branches 28x apart at the regime extremes). */
class AdaptiveVerifySpec extends SparkTestBase {
  import graft.operators.Dedup

  private def dupDense = {
    // 24 verbatim copies of every doc under fresh ids: every LSH bucket
    // holds the copy set, so pairs-per-involved-doc ~ 11.5 — above the
    // measured ratio-10 crossover where hash-array verification wins
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    (0 until 24).map(r => docs.select(
      (col("doc_id") * 32 + lit(r)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
  }

  test("clean corpus takes the per-pair UDF branch") {
    val scoped = Dedup.minhashPairsScoped(
      Tables.documents(spark, sf), "text", "doc_id",
      verifyJaccard = Some(0.5))
    try {
      assert(scoped.df.queryExecution.executedPlan.toString.contains("UDF"),
        "few-candidate corpus must verify with the per-pair UDF")
    } finally scoped.release()
  }

  test("dup-dense corpus takes the hash-array branch automatically") {
    val scoped = Dedup.minhashPairsScoped(dupDense, "text", "doc_id",
      verifyJaccard = Some(0.5))
    try {
      val p = scoped.df.queryExecution.executedPlan.toString
      assert(p.contains("array_intersect"),
        "dup-dense corpus must verify with hash-array intersect:\n" +
          p.take(1500))
      assert(!p.contains("UDF"),
        "hash-array branch must stay pure-codegen (no UDF):\n" + p.take(1500))
    } finally scoped.release()
  }

  test("hash-array branch returns exactly the UDF branch's pairs and values") {
    val corpus = dupDense
    val dense = Dedup.minhashPairsScoped(corpus, "text", "doc_id",
      verifyJaccard = Some(0.5))
    try {
      // hand-built UDF-branch equivalent over the SAME candidate set
      val candScoped = Dedup.minhashPairsScoped(corpus, "text", "doc_id",
        verifyJaccard = None)
      try {
        val jUdf = udf((a: String, b: String) =>
          graft.functions.Hashing.jaccard(a, b, 3))
        val txt = corpus.select(col("doc_id"), col("text"))
        val expected = candScoped.df
          .join(txt.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
          .join(txt.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
          .withColumn("jaccard",
            graft.functions.TextFunctions.trunc4(jUdf(col("t1"), col("t2"))))
          .where(col("jaccard") >= 0.5)
          .select("id1", "id2", "jaccard")
        assert(expected.count() > 1000,
          "test premise: the dup-dense corpus must be dup-dense")
        assert(dense.df.exceptAll(expected).count() === 0,
          "hash-array branch INVENTED pairs or drifted jaccard values")
        assert(expected.exceptAll(dense.df).count() === 0,
          "hash-array branch MISSED pairs the UDF verification keeps")
      } finally candScoped.release()
    } finally dense.release()
  }

  test("both verify regimes: scoped pairs equal minhashPairs, the ratio " +
      "conf picks the branch, and the stats run no job of their own") {
    val corpus = dupDense.cache()
    val key = "spark.graft.verify.densePairsPerDoc"
    val sc = spark.sparkContext
    try {
      corpus.count()
      val before = sc.getPersistentRDDs.keySet
      for ((ratio, branch) <- Seq("1e9" -> "UDF", "0" -> "array_intersect")) {
        spark.conf.set(key, ratio)
        val (scoped, c) = Counters.measure(sc)(
          Dedup.minhashPairsScoped(corpus, "text", "doc_id",
            verifyJaccard = Some(0.5)))
        try {
          assert(scoped.df.queryExecution.executedPlan.toString.contains(branch),
            s"ratio $ratio must verify with $branch")
          val plain = Dedup.minhashPairs(corpus, "text", "doc_id",
            verifyJaccard = Some(0.5))
          assert(scoped.df.count() > 1000, "test premise: dup-dense corpus")
          assert(scoped.df.exceptAll(plain).count() === 0)
          assert(plain.exceptAll(scoped.df).count() === 0)
          if (branch == "UDF") {
            // the UDF branch materializes nothing but the pair set: its
            // setup costs exactly the pair-set checkpoint's jobs
            val ((_, release), cp) = Counters.measure(sc)(
              Dedup.checkpointTracked(Dedup.minhashPairsScoped(corpus,
                "text", "doc_id", verifyJaccard = None).df))
            release()
            assert(c.jobs === cp.jobs,
              s"verify setup ${c.json("verify")} vs checkpoint ${cp.json("cp")}")
          }
        } finally {
          scoped.release()
          // minhashPairs leaves its pair-set blocks to the session
          (sc.getPersistentRDDs -- before).values.foreach(_.unpersist())
        }
      }
    } finally {
      spark.conf.unset(key)
      corpus.unpersist()
    }
  }
}
