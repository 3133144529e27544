package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted mergeable heavy-hitters — the fourth blind-append store
  * (BM25 postings: pruned; LM counts: additive; HLL: register-max;
  * here: deterministic truncated top-k with PROVABLE bounds).
  *
  * Per batch and group, the store keeps the exact counts of the top-k
  * items (row_number over (count DESC, item ASC) — a total order, so
  * the truncation is deterministic and an oracle can replay it) plus
  * one stats row carrying the k-th count as the batch's truncation
  * threshold. A replayed batch is removed by (group, item, batch_id)
  * dedup on read, like the LM store.
  *
  * The merge contract is intentionally NOT a sketch estimate (the HLL
  * lesson: sketch internals diverge across merge paths; see
  * [[SketchStore]]): it is an exact interval. For any item,
  *   lower = Σ_{batches listing it} count   (exact per-batch counts)
  *   upper = lower + Σ_{batches NOT listing it} thresh_b
  * since an item absent from a batch's top-k had count ≤ thresh_b
  * there. true count ∈ [lower, upper] always; an item listed in EVERY
  * batch has lower == upper == true count. Both bounds are integer
  * sums — deterministic under any partitioning/merge order, replayable
  * bit-for-bit in SQL. At 100 TB the corpus-wide "top domains / top
  * tokens per language" question costs one read over
  * (groups × batches × k) rows instead of a rescan, and the interval
  * tells the consumer exactly when the answer is proven vs. when k
  * must grow.
  */
object FreqStore {

  /** Parallelism of the per-group stage-1 prefilter: a single-window
    * top-k sorts the ENTIRE per-group vocabulary in one task (a
    * 100 M-token language at corpus scale), so rank first within
    * (group, salt) buckets — any global top-k item is top-k inside its
    * bucket, so the salted pass is a lossless prefilter — and only the
    * surviving SALT·k rows meet the one-task global window. */
  private val Salt = 64

  private def truncated(df: DataFrame, itemCol: String, groupCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val counts = df.groupBy(col(groupCol).as("grp"), col(itemCol).as("item"))
      .agg(count(lit(1)).as("cnt"))
    val w1 = Window.partitionBy(col("grp"), pmod(xxhash64(col("item")), lit(Salt)))
      .orderBy(col("cnt").desc, col("item").asc)
    val survivors = counts.withColumn("rn1", row_number().over(w1))
      .where(col("rn1") <= k).drop("rn1")
    val w2 = Window.partitionBy("grp").orderBy(col("cnt").desc, col("item").asc)
    val ranked = survivors.withColumn("rn", row_number().over(w2))
    (ranked.where(col("rn") <= k).drop("rn"),
      ranked.where(col("rn") === k).select(col("grp"), col("cnt").as("thresh")))
  }

  /** Blind-append one batch's truncated per-group top-k: exact counts
    * under `path/items`, the truncation threshold under `path/stats`
    * (groups with fewer than k items carry no stats row — threshold 0).
    * Replay-neutral via read-side dedup. */
  def appendTopK(df: DataFrame, itemCol: String, groupCol: String,
      path: String, k: Int, batchId: String): Unit = {
    val (items, stats) = truncated(df, itemCol, groupCol, k)
    StoreCompaction.append(items.withColumn("batch_id", lit(batchId)),
      s"$path/items")
    StoreCompaction.append(stats.withColumn("batch_id", lit(batchId)),
      s"$path/stats")
  }

  /** Merged per-item frequency intervals from the store:
    * (grp, item, lo, hi) with true count ∈ [lo, hi] (see object doc).
    * One read over (groups × batches × k) rows — corpus-size
    * independent. */
  def intervals(spark: SparkSession, path: String): DataFrame = {
    val items = StoreCompaction.readVisible(spark, s"$path/items")
      .dropDuplicates("grp", "item", "batch_id")
    val stats = StoreCompaction.readVisible(spark, s"$path/stats")
      .dropDuplicates("grp", "batch_id")
    val tsum = stats.groupBy("grp").agg(sum(col("thresh")).as("tsum"))
    val present = items
      .join(stats.withColumnRenamed("thresh", "bthresh"),
        Seq("grp", "batch_id"), "left")
      .groupBy("grp", "item")
      .agg(sum(col("cnt")).as("lo"),
        sum(coalesce(col("bthresh"), lit(0L))).as("tpresent"))
    present.join(tsum, Seq("grp"), "left")
      .select(col("grp"), col("item"), col("lo"),
        (col("lo") + coalesce(col("tsum"), lit(0L)) - col("tpresent")).as("hi"))
  }

  /** Compact both tables. Canonicalization is ONLY the read's replay
    * dedup — per-batch rows (counts AND thresholds) are PRESERVED under
    * their original batch_id, because [[intervals]]' lo/hi math joins
    * items to their own batch's threshold; merging across batches would
    * change the bounds. Reads stay value-identical; listing and dedup
    * cost stop growing with appended batches ([[StoreCompaction]]). */
  def compactTopK(spark: SparkSession, path: String,
      targetPartitions: Int = 1): Unit = {
    StoreCompaction.compact(spark, s"$path/items", (df, _) =>
      df.dropDuplicates("grp", "item", "batch_id"),
      targetPartitions = targetPartitions)
    StoreCompaction.compact(spark, s"$path/stats", (df, _) =>
      df.dropDuplicates("grp", "batch_id"),
      targetPartitions = 1)
  }
}
