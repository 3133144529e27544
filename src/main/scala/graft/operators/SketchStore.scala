package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted MERGEABLE cardinality sketches — the third member of the
  * blind-append store family (BM25 index: pruned postings; LM store:
  * additive counts; here: HLL registers). A corpus-stat question like
  * "how many distinct URLs / tokens / fingerprints per language across
  * the whole lake?" must not cost a corpus rescan at 100 TB: each
  * ingest batch writes its per-group HLL sketch (KB per group), and an
  * estimate is one read + `hll_union_agg` over sketches — never over
  * rows.
  *
  * The mergeability contract, stated precisely (the first draft of this
  * file over-claimed it): re-merging a replayed batch is EXACTLY a
  * no-op (coupon/register max is idempotent — the spec pins equality),
  * but a merged-batch estimate only agrees with the one-shot sketch
  * WITHIN SKETCH ERROR, not bit-for-bit. Spark's hll_* functions are
  * Apache DataSketches HLL, which starts in a sparse coupon-list mode
  * (exact) and promotes to dense registers past ~3/4·2^lgK coupons; a
  * per-batch sketch can stay sparse while the one-shot sketch over the
  * union promotes (or vice versa), and the two modes use different
  * estimators — observed at sf0.1, where ~700 distincts per group sat
  * exactly across that boundary and merged != direct by a fraction of a
  * percent. Ranking/stat consumers only ever needed the error bound;
  * retry neutrality (the 100 TB property) needed the exact idempotency,
  * and that one genuinely holds. batch_id is recorded for
  * lineage/debugging, not for dedup.
  */
object SketchStore {

  /** Blind-append one batch's per-group distinct sketches:
    * `(groupCol, sketch, batch_id)` — one row per group, KBs each
    * (lgConfigK=12 → ≤4 KiB registers); idempotent under replay (see
    * object doc). */
  def appendDistinct(df: DataFrame, valueCol: String, groupCol: String,
      path: String, batchId: String): Unit =
    StoreCompaction.append(df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))
      .withColumn("batch_id", lit(batchId)), path)

  /** Per-group distinct estimates from the store: one sketch-union over
    * the (groups × batches) rows — row count is independent of corpus
    * size. */
  def estimateDistinct(spark: org.apache.spark.sql.SparkSession,
      path: String, groupCol: String): DataFrame =
    StoreCompaction.readVisible(spark, path)
      .groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("distinct_est"))

  /** Compact the sketch store: per-batch sketches union into ONE
    * sketch per group (register union is associative and idempotent —
    * exactly the read's merge — so estimates are register-identical
    * before and after); one row per group regardless of how many
    * batches accrued. */
  def compactDistinct(spark: org.apache.spark.sql.SparkSession,
      path: String, groupCol: String, targetPartitions: Int = 1): Long =
    StoreCompaction.compact(spark, path, (df, cmpId) =>
      df.groupBy(col(groupCol))
        .agg(hll_union_agg(col("sketch")).as("sketch"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = targetPartitions)

  /** The one-shot equivalent (no store) — what the merged estimate must
    * EQUAL, register-exactly. */
  def distinctDirect(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_sketch_agg(col(valueCol)))
        .as("distinct_est"))
}
