package graft

import graft.operators.Graphs
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Persisted link-graph store (Graphs.appendEdges/
  * rankWithStore): two-batch == one-shot equivalence for both rank
  * variants, retry-replay neutrality, and the scoped release
  * lifecycle — the same contract family as FreqStoreSpec. */
class GraphStoreSpec extends SparkTestBase {
  import spark.implicits._

  // multi-edges (weight matters), a self-loop and a null to drop
  private val raw = Seq(
    (1L, 2L), (1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 1L), (2L, 1L), (2L, 2L)) // (2,2) self-loop dropped at write
  private def edgesDf = raw.toDF("src", "dst")
    .unionAll(Seq((5L, null.asInstanceOf[java.lang.Long])).toDF("src", "dst"))

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two appended batches rank identically to the one-shot graph") {
    val dir = Scratch.dir("graft_gs") + "/e"
    val (a, b) = (edgesDf.where(col("src") % 2 === 0),
      edgesDf.where(col("src") % 2 =!= 0))
    Graphs.appendEdges(a, "src", "dst", dir, batchId = "b0")
    Graphs.appendEdges(b, "src", "dst", dir, batchId = "b1")
    assert(ranksOf(Graphs.rankWithStore(spark, dir, weighted = false, iters = 4))
      === ranksOf(Graphs.pageRank(edgesDf, "src", "dst", iters = 4)))
    assert(ranksOf(Graphs.rankWithStore(spark, dir, weighted = true, iters = 4))
      === ranksOf(Graphs.pageRankWeighted(edgesDf, "src", "dst", iters = 4)))
  }

  test("a replayed batch (same batch_id appended twice) changes nothing") {
    val dir = Scratch.dir("graft_gs") + "/e"
    Graphs.appendEdges(edgesDf, "src", "dst", dir, batchId = "b0")
    val before = ranksOf(Graphs.rankWithStore(spark, dir, weighted = true, iters = 3))
    // a retried writer appends the identical batch again
    Graphs.appendEdges(edgesDf, "src", "dst", dir, batchId = "b0")
    val after = ranksOf(Graphs.rankWithStore(spark, dir, weighted = true, iters = 3))
    assert(after === before, "replayed batch must be read-side-deduped")
    // and the merged edge weights are the true multi-edge counts
    val w = Graphs.readEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w((1L, 2L)) === 3L && w((2L, 3L)) === 1L)
    assert(!w.contains((2L, 2L)) && !w.keys.exists(_._1 == 5L),
      "self-loops and null endpoints are dropped at write")
  }

  test("store-served scoped rank releases its checkpoint blocks") {
    val dir = Scratch.dir("graft_gs") + "/e"
    Graphs.appendEdges(edgesDf, "src", "dst", dir, batchId = "b0")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scoped = Graphs.rankWithStoreScoped(spark, dir, iters = 3)
    assert(scoped.df.count() === 4)
    scoped.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked: $leaked")
  }
}
