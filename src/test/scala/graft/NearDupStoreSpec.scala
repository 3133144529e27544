package graft

import graft.operators.{Dedup, NearDupStore, Similarity}
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental near-dup store ([[graft.operators.NearDupStore]]):
  * store-served pairing must match the one-shot kernel — EXACT pair-set
  * equality when no hot-cell cap is in play, superset-with-equal-
  * clusters under the cap — plus the store plumbing contracts (blind
  * append, retried-batch neutrality, param-mismatch rejection). */
class NearDupStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8
  private val tau = 0.9

  /** 10 groups × `members` near-identical unit-ish vectors: member m of
    * group g is the group's hash-derived base vector with coordinate
    * (m % dim) bumped by a tiny jitter — in-group cosine ≈ 1, cross-
    * group cosine is hash-random (≪ tau for this fixed construction). */
  private def corpus(members: Int): Seq[(Long, Seq[Float])] =
    for (g <- 0 until 10; m <- 0 until members) yield {
      val base = Array.tabulate(dim) { i =>
        val h = graft.functions.Hashing.mix64(g.toLong * 1009 + i)
        ((h & 0xffff).toInt - 32768) / 32768.0f
      }
      base(m % dim) += 0.01f * (1 + m / dim)
      ((g * members + m).toLong, base.toSeq)
    }

  private def embsDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("doc_id", "emb")

  /** Undirected verified pair set from the one-shot kernel. */
  private def oneShotPairs(embs: DataFrame, bits: Int, maxCell: Int): Set[(Long, Long)] =
    Similarity.selfTopKLsh(embs, "emb", "doc_id", k = Int.MaxValue,
        bits = bits, tables = 4, dim = dim, maxCell = maxCell, hotWindow = 2)
      .where(col("score") >= tau).where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def clusterMap(edges: Set[(Long, Long)]): Map[Long, Long] =
    Dedup.clusters(edges.toSeq.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def freshDir(tag: String): String =
    Scratch.dir(s"graft_nds_$tag") + "/s"

  test("UNCAPPED equivalence: pairs(batch1 view) ∪ incremental(batch2) " +
      "equals the one-shot pair set over the union exactly") {
    val rows = corpus(members = 6)
    val all = embsDf(rows)
    val b1 = embsDf(rows.filter(_._1 % 2 == 0))
    val b2 = embsDf(rows.filter(_._1 % 2 == 1))
    val dir = freshDir("uncapped")
    val bits = 4
    NearDupStore.write(b1, "emb", "doc_id", dir, "b1", bits, tables = 4, dim = dim)
    NearDupStore.write(b2, "emb", "doc_id", dir, "b2", bits, tables = 4, dim = dim)
    val old = pairSet(NearDupStore.pairs(spark, dir, tau, maxCell = 0,
      batches = Some(Seq("b1"))))
    val inc = pairSet(NearDupStore.pairs(spark, dir, tau, maxCell = 0,
      newBatchId = Some("b2")))
    val oneShot = oneShotPairs(all, bits, maxCell = 0)
    assert(old.union(inc) === oneShot,
      "uncapped store-served pairs must equal one-shot over the union")
    // and the incremental leg returns ONLY pairs touching the new batch
    assert(inc.forall { case (a, b) => a % 2 == 1 || b % 2 == 1 })
  }

  test("CAPPED: store-served union is a superset of the one-shot union " +
      "run, every pair is genuinely >= tau, and clusters are identical") {
    val rows = corpus(members = 8) // groups larger than maxCell below
    val all = embsDf(rows)
    val b1 = embsDf(rows.filter(_._1 % 2 == 0))
    val b2 = embsDf(rows.filter(_._1 % 2 == 1))
    val dir = freshDir("capped")
    val bits = 4
    NearDupStore.write(b1, "emb", "doc_id", dir, "b1", bits, tables = 4, dim = dim)
    NearDupStore.write(b2, "emb", "doc_id", dir, "b2", bits, tables = 4, dim = dim)
    val oldDf = NearDupStore.pairs(spark, dir, tau, maxCell = 3,
      hotWindow = 2, batches = Some(Seq("b1")))
    val incDf = NearDupStore.pairs(spark, dir, tau, maxCell = 3,
      hotWindow = 2, newBatchId = Some("b2"))
    val stored = pairSet(oldDf).union(pairSet(incDf))
    val oneShot = oneShotPairs(all, bits, maxCell = 3)
    assert(oneShot.subsetOf(stored),
      "one-shot union pairs must all be recovered by old-run ∪ incremental")
    // extras are allowed (the old run's hot windows were tighter) but
    // every emitted pair must be a true >= tau edge
    val minScore = oldDf.unionAll(incDf).agg(min("score")).head().getDouble(0)
    assert(minScore >= tau)
    assert(clusterMap(stored) === clusterMap(oneShot),
      "threshold-graph components must match one-shot")
  }

  test("a pairs frame constructed BEFORE an append keeps its snapshot " +
      "when combined with a post-append frame in ONE query (the " +
      "exchange-reuse stale-listing trap)") {
    // the incremental workflow's natural shape: old-view pairs are
    // constructed when batch 1 lands, batch 2 is appended LATER, and
    // the two pair frames meet in one clustering query. With plain
    // directory reads, exchange reuse canonicalized the post-append
    // scan onto the pre-append listing and the incremental leg
    // silently returned 0 rows inside the union.
    val rows = corpus(members = 6)
    val b1 = embsDf(rows.filter(_._1 % 2 == 0))
    val b2 = embsDf(rows.filter(_._1 % 2 == 1))
    val dir = freshDir("interleave")
    NearDupStore.write(b1, "emb", "doc_id", dir, "b1", 4, tables = 4, dim = dim)
    val old = NearDupStore.pairs(spark, dir, tau, maxCell = 0,
      batches = Some(Seq("b1"))) // constructed pre-append
    NearDupStore.write(b2, "emb", "doc_id", dir, "b2", 4, tables = 4, dim = dim)
    val inc = NearDupStore.pairs(spark, dir, tau, maxCell = 0,
      newBatchId = Some("b2"))
    val incAlone = pairSet(inc)
    assert(incAlone.nonEmpty)
    // ONE query over both frames: the union must carry the inc edges
    val union = pairSet(old.select("id1", "id2")
      .unionAll(inc.select("id1", "id2")))
    assert(incAlone.subsetOf(union),
      "post-append pairs must survive union with a pre-append frame")
  }

  test("retried batch (same batch_id appended twice) changes nothing") {
    val rows = corpus(members = 4)
    val b1 = embsDf(rows.filter(_._1 % 2 == 0))
    val b2 = embsDf(rows.filter(_._1 % 2 == 1))
    val dir = freshDir("retry")
    NearDupStore.write(b1, "emb", "doc_id", dir, "b1", 4, tables = 4, dim = dim)
    NearDupStore.write(b2, "emb", "doc_id", dir, "b2", 4, tables = 4, dim = dim)
    val before = pairSet(NearDupStore.pairs(spark, dir, tau, maxCell = 0,
      newBatchId = Some("b2")))
    NearDupStore.write(b2, "emb", "doc_id", dir, "b2", 4, tables = 4, dim = dim)
    val after = pairSet(NearDupStore.pairs(spark, dir, tau, maxCell = 0,
      newBatchId = Some("b2")))
    assert(before === after)
    // read-side dedup: each id appears once in vecs, tables× in cells
    assert(NearDupStore.vecs(spark, dir).groupBy("id").count()
      .where(col("count") > 1).count() === 0L)
  }

  test("appending a batch never rewrites an earlier batch's files " +
      "(blind append) ") {
    val rows = corpus(members = 4)
    val b1 = embsDf(rows.filter(_._1 % 2 == 0))
    val b2 = embsDf(rows.filter(_._1 % 2 == 1))
    val dir = freshDir("blind")
    NearDupStore.write(b1, "emb", "doc_id", dir, "b1", 4, tables = 4, dim = dim)
    def b1Files(): Set[(String, Long)] = {
      def ls(sub: String) = {
        val d = new java.io.File(s"$dir/$sub/batch_id=b1")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet
      }
      ls("vecs") ++ ls("cells")
    }
    val before = b1Files()
    NearDupStore.write(b2, "emb", "doc_id", dir, "b2", 4, tables = 4, dim = dim)
    assert(b1Files() === before, "b1's files must be untouched by b2's append")
  }

  test("schema hints are written, pin the read schema, and their " +
      "absence falls back to inference (old stores)") {
    val rows = corpus(members = 4)
    val dir = freshDir("hint")
    NearDupStore.write(embsDf(rows), "emb", "doc_id", dir, "b1", 4,
      tables = 4, dim = dim)
    for (sub <- Seq("vecs", "cells"))
      assert(new java.io.File(s"$dir/$sub/_schema.ddl").isFile,
        s"$sub read-schema hint must be persisted at write")
    val pinned = pairSet(NearDupStore.pairs(spark, dir, tau, maxCell = 0))
    // an OLD store (created before hints existed): reads must infer
    for (sub <- Seq("vecs", "cells"))
      assert(new java.io.File(s"$dir/$sub/_schema.ddl").delete())
    assert(pairSet(NearDupStore.pairs(spark, dir, tau, maxCell = 0))
      === pinned, "hint-less read must serve the identical pair set")
  }

  test("appending under different LSH params is rejected loudly") {
    val rows = corpus(members = 4)
    val b1 = embsDf(rows.filter(_._1 % 2 == 0))
    val dir = freshDir("params")
    NearDupStore.write(b1, "emb", "doc_id", dir, "b1", 4, tables = 4, dim = dim)
    val e = intercept[IllegalArgumentException] {
      NearDupStore.write(b1, "emb", "doc_id", dir, "b2", 5, tables = 4, dim = dim)
    }
    assert(e.getMessage.contains("reindex"))
  }
}
