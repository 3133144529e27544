package graft

import graft.operators.NgramLm
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Persisted LM count store: additive blind-append across batches,
  * retry neutrality, and bit-identity with a fresh train. */
class NgramLmStoreSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sf)
  private def trainPred = col("doc_id") % 10 < 8

  private def assertSame(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "store-served scores must be bit-identical to the fresh train")
    assert(a.where(col("n_bigrams") > 0).count() > 0)
  }

  test("two-batch count store scores identically to a one-shot train") {
    val dir = Scratch.dir("graft_lmstore_") + "/lm"
    val train = docs.where(trainPred)
    NgramLm.appendCounts(train.where(col("doc_id") % 3 === 0),
      "text", "doc_id", dir, batchId = "b0")
    NgramLm.appendCounts(train.where(col("doc_id") % 3 =!= 0),
      "text", "doc_id", dir, batchId = "b1")
    assertSame(
      NgramLm.scoreWithStore(spark, docs, "text", "doc_id", dir),
      NgramLm.score(docs, "text", "doc_id", trainPred))
  }

  test("a replayed batch (same batchId twice) changes no score") {
    val dir = Scratch.dir("graft_lmstore_") + "/lm"
    NgramLm.appendCounts(docs.where(trainPred), "text", "doc_id", dir,
      batchId = "b0")
    // at-least-once orchestration: the same counts land again — without
    // the (batch_id, gram) dedup every c1/c2/tt would double and every
    // seen-bigram probability would silently survive (c2/c1 ratios
    // cancel) while backoff paths shifted — a half-broken store
    NgramLm.appendCounts(docs.where(trainPred), "text", "doc_id", dir,
      batchId = "b0")
    assertSame(
      NgramLm.scoreWithStore(spark, docs, "text", "doc_id", dir),
      NgramLm.score(docs, "text", "doc_id", trainPred))
  }
}
