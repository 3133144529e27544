package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence packing: assign documents to fixed token-budget bins (the
  * pre-training batch-assembly step — packing short documents together
  * reduces padding waste).
  *
  * Distributed shape: token counts come from one codegen'd map; the
  * greedy first-fit runs per BUCKET, so bins never span buckets and no
  * global state exists. That is the correct scale trade-off:
  * cross-bucket packing would serialize the corpus through one process
  * for a few % less padding; per-bucket packing is embarrassingly
  * parallel and asymptotically as tight when buckets hold thousands of
  * docs. Sorting within buckets by length first (optional) tightens
  * packing further — classic first-fit-decreasing.
  *
  * A bucket is a partition in [[packByTokenBudget]]. The kernel
  * ([[firstFit]]) also takes an explicit bucket column, so a caller can
  * fix the buckets (and with them the bins) independently of how many
  * tasks run them: [[Assembly.writeShards]] packs a fixed number of
  * hash buckets in as many tasks as the session is wide.
  *
  * Documents longer than the budget become singleton bins (callers
  * typically chunk them upstream with TextFunctions-based splitting).
  */
object Packing {

  /** Returns (original columns..., n_tokens, bin_id) where bin_id is
    * unique across the DataFrame (partition id ⊕ local counter). */
  def packByTokenBudget(docs: DataFrame, textCol: String, budget: Int,
      sortByLength: Boolean = true): DataFrame = {
    require(budget > 0)
    val withTokens = docs.withColumn("n_tokens",
      TextFunctions.tokenCount(col(textCol)).cast(LongType))
    val pre =
      if (sortByLength)
        withTokens.sortWithinPartitions(col("n_tokens").desc)
      else withTokens
    firstFit(pre, budget, bucketCol = None)
  }

  /** The greedy first-fit kernel over rows in arrival order: appends
    * `bin_id = bucket << 40 | local`, where `local` counts the bucket's
    * bins from 0. It reads the existing long `n_tokens` column. With
    * `bucketCol` None the bucket is the partition id; with an int
    * column, rows of one bucket must arrive contiguously (sort on the
    * column first), and the open bins and the counter reset at every
    * bucket boundary. */
  private[operators] def firstFit(pre: DataFrame, budget: Int,
      bucketCol: Option[String]): DataFrame = {
    val inSchema = pre.schema
    val outSchema = inSchema.add("bin_id", LongType)
    val tokIdx = inSchema.fieldIndex("n_tokens")
    val bucketIdx = bucketCol.fold(-1)(inSchema.fieldIndex)
    pre.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      // greedy first-fit over open bins (bounded: close bins that can't
      // fit the smallest remaining doc — with FFD, remaining docs only
      // shrink, so a bin with less free room than the current doc stays
      // unusable and is dropped from the open list)
      val open = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (binId, used)
      var nextBin = 0L
      var bucket = -1L
      rows.map { r =>
        val b = if (bucketIdx < 0) pid else r.getInt(bucketIdx).toLong
        if (b != bucket) { bucket = b; open.clear(); nextBin = 0L }
        val t = r.getLong(tokIdx)
        val fit = open.indexWhere { case (_, used) => used + t <= budget }
        val binId =
          if (t >= budget) { // oversized doc: singleton bin, never opened
            val id = nextBin; nextBin += 1; id
          } else if (fit >= 0) {
            val (id, used) = open(fit)
            val nowUsed = used + t
            if (nowUsed >= budget - 1) open.remove(fit) else open(fit) = (id, nowUsed)
            id
          } else {
            val id = nextBin; nextBin += 1
            open += ((id, t))
            if (open.length > 64) open.remove(0) // bound memory: retire oldest
            id
          }
        Row.fromSeq(r.toSeq :+ (bucket << 40 | binId))
      }
    }(Encoders.row(outSchema))
  }

  /** Packing efficiency report: bins, docs, token utilization. */
  def packingStats(packed: DataFrame, budget: Int): DataFrame =
    packed.groupBy("bin_id")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
      .agg(count(lit(1)).as("bins"),
        sum("docs").cast(LongType).as("docs"),
        sum("tokens").cast(LongType).as("tokens"),
        (sum("tokens") / (count(lit(1)) * budget.toLong)).as("utilization"))
}
