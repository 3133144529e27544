package graft

import graft.operators.SketchStore
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Mergeable HLL sketch store: replay idempotence is EXACT (coupon/
  * register max), merged-vs-one-shot agreement is within-sketch-error
  * only — DataSketches HLL promotes sparse→dense at a coupon threshold
  * and the two paths can land in different modes with different
  * estimators (caught by the sf0.1 value gate; SketchStore scaladoc). */
class SketchStoreSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sf)

  private def collectEst(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("two-batch store estimates agree with the one-shot sketch within " +
      "sketch error (bit-equality is NOT the contract past the coupon mode)") {
    val dir = Scratch.dir("graft_hll_") + "/s"
    SketchStore.appendDistinct(docs.where(col("doc_id") % 2 === 0),
      "text", "lang", dir, batchId = "even")
    SketchStore.appendDistinct(docs.where(col("doc_id") % 2 === 1),
      "text", "lang", dir, batchId = "odd")
    val merged = collectEst(SketchStore.estimateDistinct(spark, dir, "lang"))
    val direct = collectEst(SketchStore.distinctDirect(docs, "text", "lang"))
    assert(merged.nonEmpty && merged.keySet === direct.keySet)
    merged.foreach { case (lang, m) =>
      val d = direct(lang)
      assert(math.abs(m - d) <= math.max(2L, (d * 0.05).toLong),
        s"$lang: merged $m vs one-shot $d outside sketch error")
    }
  }

  test("a replayed batch is a no-op (register max is idempotent)") {
    val dir = Scratch.dir("graft_hll_") + "/s"
    SketchStore.appendDistinct(docs, "text", "lang", dir, batchId = "b0")
    val before = collectEst(SketchStore.estimateDistinct(spark, dir, "lang"))
    SketchStore.appendDistinct(docs, "text", "lang", dir, batchId = "b0")
    val after = collectEst(SketchStore.estimateDistinct(spark, dir, "lang"))
    assert(before === after, "merging the same sketch twice must change nothing")
  }

  test("estimates land within HLL error of the true distinct counts") {
    val dir = Scratch.dir("graft_hll_") + "/s"
    SketchStore.appendDistinct(docs, "text", "lang", dir, batchId = "b0")
    val est = collectEst(SketchStore.estimateDistinct(spark, dir, "lang"))
    val truth = docs.groupBy("lang").agg(countDistinct("text").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (lang, n) =>
      val e = est(lang)
      assert(math.abs(e - n) <= math.max(2L, (n * 0.05).toLong),
        s"$lang: estimate $e vs true $n outside 5%")
    }
  }
}
