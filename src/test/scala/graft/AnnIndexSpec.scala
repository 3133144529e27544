package graft

import graft.operators.{Similarity, StoreCompaction}
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Persisted incremental ANN index: append equivalence, query identity
  * with the in-memory IVF, and the partition-pruning property the
  * partitioned layout exists for. */
class AnnIndexSpec extends SparkTestBase {
  private val bits = 4

  test("two-batch index equals one-shot index (blind append)") {
    val e = Tables.embeddings(spark, sf)
    val base = Scratch.dir("graft_annidx_")
    Similarity.appendIndex(e, s"$base/oneshot", "embedding", bits)
    Similarity.appendIndex(e.where(col("vec_id") % 2 === 0), s"$base/twostep", "embedding", bits)
    Similarity.appendIndex(e.where(col("vec_id") % 2 === 1), s"$base/twostep", "embedding", bits)
    val a = spark.read.parquet(s"$base/oneshot")
    val b = spark.read.parquet(s"$base/twostep")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("queryIndex returns exactly the direct IVF result") {
    val e = Tables.embeddings(spark, sf)
    val qv = e.where(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0)
    val dir = Scratch.dir("graft_annidx_") + "/idx"
    Similarity.appendIndex(e, dir, "embedding", bits)
    val viaIndex = Similarity.queryIndex(spark, dir, "embedding", "vec_id",
      qv, k = 10, bits = bits)
    val direct = Similarity.ivfTopK(Similarity.withCell(e, "embedding", bits),
      "embedding", "vec_id", qv, k = 10, bits = bits)
    assert(viaIndex.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaIndex).count() === 0)
    assert(direct.count() > 0, "test premise: the probe must return rows")
  }

  test("a replayed batch append does not poison top-k with duplicate ids") {
    val e = Tables.embeddings(spark, sf)
    val qv = e.where(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0)
    val dir = Scratch.dir("graft_annidx_") + "/idx"
    Similarity.appendIndex(e, dir, "embedding", bits)
    // at-least-once orchestration: the same batch lands twice
    Similarity.appendIndex(e.where(col("vec_id") < 50), dir, "embedding", bits)
    Similarity.appendIndex(e.where(col("vec_id") < 50), dir, "embedding", bits)
    val res = Similarity.queryIndex(spark, dir, "embedding", "vec_id",
      qv, k = 10, bits = bits).collect()
    val ids = res.map(_.getLong(0))
    assert(ids.distinct.length === ids.length,
      s"duplicate ids occupy top-k slots: ${ids.mkString(",")}")
  }

  test("the probe's hamming ball prunes index partitions at listing time") {
    val e = Tables.embeddings(spark, sf)
    val qv = e.where(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0)
    val dir = Scratch.dir("graft_annidx_") + "/idx"
    Similarity.appendIndex(e, dir, "embedding", bits)
    // the pruning stage of queryIndex, isolated: the hamming-ball
    // predicate over the `cell` partition column (queryIndex itself adds
    // a dedup exchange, and AQE's plan wrapper hides scan metrics)
    val queryCell = graft.functions.Hashing.lshCell(qv,
      graft.functions.Hashing.hyperplanes(bits, 64))
    val probe = spark.read.parquet(dir)
      .where(call_function("bit_count",
        col("cell").bitwiseXOR(lit(queryCell))) <= 1)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    // the cell predicate must land in PartitionFilters (directory-level
    // pruning), NOT PushedFilters/data filters
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bit_count") || pf.contains("cell"),
      s"cell predicate not a partition filter: $pf\n${plan.take(2000)}")
    // and the scan must emit only the ball's rows: nprobe=1 over 4 bits
    // = 5 of 16 cells ≈ 31% of rows (cells are roughly uniform)
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .head.metrics("numOutputRows").value
    val total = e.count()
    assert(scanned < total / 2,
      s"scan read $scanned of $total rows — partitions not pruned")
    // the same pruning must survive the SCHEMA-HINTED store read (round
    // 16: writeIndex pins the read schema; a user-specified schema must
    // not demote the partition predicate to a data filter — losing
    // directory pruning would silently re-read the whole index at scale)
    assert(new java.io.File(s"$dir/_schema.ddl").isFile,
      "test premise: the index carries a schema hint")
    val hinted = StoreCompaction.readVisible(spark, dir)
      .where(call_function("bit_count",
        col("cell").bitwiseXOR(lit(queryCell))) <= 1)
    hinted.collect()
    val hplan = hinted.queryExecution.executedPlan.toString
    val hpf = hplan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    // bit_count, not just "cell": an isnotnull(cell) filter also names
    // the column and would pass with the pruning predicate lost
    assert(hpf.contains("bit_count"),
      s"hinted read lost partition pruning: $hpf\n${hplan.take(2000)}")
    val hscanned = hinted.queryExecution.executedPlan.collectLeaves()
      .head.metrics("numOutputRows").value
    assert(hscanned < total / 2,
      s"hinted scan read $hscanned of $total rows — partitions not pruned")
  }
}
