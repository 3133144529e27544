package graft

import graft.operators.Retrieval
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Persisted inverted index: score identity with the in-memory BM25
  * pass, blind-append equivalence, retry neutrality, and the
  * bucket-partition pruning the layout exists for. */
class RetrievalIndexSpec extends SparkTestBase {

  private val terms = Seq("spark", "join", "filter")

  private def docs = Tables.documents(spark, sf)

  private def assertSameScores(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "index-served scores must be BIT-identical to the fresh corpus pass")
    assert(a.count() > 0, "test premise: the query must match rows")
  }

  test("queryIndexBm25 returns exactly the in-memory bm25 result") {
    val dir = Scratch.dir("graft_bm25idx_") + "/idx"
    Retrieval.appendIndexBm25(docs, "text", "doc_id", dir, batchId = "b0")
    assertSameScores(
      Retrieval.queryIndexBm25(spark, dir, "doc_id", terms),
      Retrieval.bm25(docs, "text", "doc_id", terms))
  }

  test("two-batch append equals the one-shot index (stats sum across batches)") {
    val dir = Scratch.dir("graft_bm25idx_") + "/idx"
    Retrieval.appendIndexBm25(docs.where(col("doc_id") % 2 === 0),
      "text", "doc_id", dir, batchId = "even")
    Retrieval.appendIndexBm25(docs.where(col("doc_id") % 2 === 1),
      "text", "doc_id", dir, batchId = "odd")
    assertSameScores(
      Retrieval.queryIndexBm25(spark, dir, "doc_id", terms),
      Retrieval.bm25(docs, "text", "doc_id", terms))
  }

  test("a replayed batch (same batchId twice) changes nothing") {
    val dir = Scratch.dir("graft_bm25idx_") + "/idx"
    Retrieval.appendIndexBm25(docs, "text", "doc_id", dir, batchId = "b0")
    // at-least-once orchestration: the SAME batch lands again — without
    // the dedups this would double every tf, df, N and tok_total
    Retrieval.appendIndexBm25(docs, "text", "doc_id", dir, batchId = "b0")
    assertSameScores(
      Retrieval.queryIndexBm25(spark, dir, "doc_id", terms),
      Retrieval.bm25(docs, "text", "doc_id", terms))
  }

  test("the term set prunes posting partitions at listing time") {
    val dir = Scratch.dir("graft_bm25idx_") + "/idx"
    val buckets = 64
    Retrieval.appendIndexBm25(docs, "text", "doc_id", dir, buckets = buckets,
      batchId = "b0")
    // the pruning stage of queryIndexBm25, isolated (the full query
    // adds dedup/agg exchanges that hide scan metrics behind AQE)
    val tBuckets = Seq("spark").map { t =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val h = XxHash64(Seq(Literal(t)), 42L).eval().asInstanceOf[Long]
      ((h % buckets) + buckets) % buckets
    }
    val probe = spark.read.parquet(s"$dir/postings")
      .where(col("bucket").isin(tBuckets: _*))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bucket"),
      s"bucket predicate not a partition filter: $pf\n${plan.take(1500)}")
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .head.metrics("numOutputRows").value
    val total = spark.read.parquet(s"$dir/postings").count()
    assert(scanned < total / 8,
      s"one bucket of $buckets must scan a small slice: $scanned of $total")
    // pruning must survive the SCHEMA-HINTED store read (round 16: the
    // write pins the read schema with bucket typed INT to match
    // partition-dir inference; a user schema must not demote the bucket
    // predicate from PartitionFilters to a data filter)
    assert(new java.io.File(s"$dir/postings/_schema.ddl").isFile,
      "test premise: the postings table carries a schema hint")
    val hinted = graft.operators.StoreCompaction
      .readVisible(spark, s"$dir/postings")
      .where(col("bucket").isin(tBuckets: _*))
    hinted.collect()
    val hpf = hinted.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(hpf.contains("bucket"),
      s"hinted read lost partition pruning: $hpf")
    val hscanned = hinted.queryExecution.executedPlan.collectLeaves()
      .head.metrics("numOutputRows").value
    assert(hscanned < total / 8,
      s"hinted scan read $hscanned of $total — partitions not pruned")
  }
}
