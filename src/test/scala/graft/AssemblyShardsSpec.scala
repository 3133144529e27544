package graft

import graft.operators.{Assembly, Packing, Sampling}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The assembly last mile (Assembly.writeShards): shard-file DETERMINISM
  * across re-runs/retries (the RoundTripSpec contract applied to
  * training shards), bin wholeness, budget respect, lossless
  * round-trip, one file per shard, bins equal to per-partition packing
  * after `repartition(packParallelism, id)`, and the write's job
  * count. */
class AssemblyShardsSpec extends SparkTestBase {
  import spark.implicits._

  private def chunks(nDocs: Long = 60L) = {
    // 5 chunks per doc (300 by default), varied lengths, deterministic text
    val rows = for (d <- 1L to nDocs; c <- 0L until 5L) yield {
      val n = 3 + ((d * 7 + c * 13) % 40).toInt
      (d, c, Seq.tabulate(n)(i => s"w${(d + c * 31 + i) % 97}").mkString(" "))
    }
    rows.toDF("doc_id", "chunk_id", "chunk_text")
  }

  private def readOrdered(dir: String) =
    Assembly.readShards(spark, dir)
      .withColumn("file", regexp_extract(input_file_name(), "(part-\\d+)", 1))
      .withColumn("seq", monotonically_increasing_id())

  test("writeShards round-trips losslessly: every chunk exactly once, " +
      "bins whole within one shard, bins within budget") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val n = Assembly.writeShards(chunks(), "chunk_text", "doc_id", "chunk_id",
      tokenBudget = 128, nShards = 8, outDir = dir)
    assert(n === 300L)
    val back = Assembly.readShards(spark, dir)
    // lossless: the (doc, chunk) key set is exactly the input's
    val keys = back.select("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(keys.toSeq === chunks().select("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // bins never split across shards (the shard key IS the bin)
    val split = back.groupBy("bin_id")
      .agg(countDistinct("shard").as("ns")).where(col("ns") > 1).count()
    assert(split === 0L, "a bin must land whole in one shard")
    // bins respect the token budget (no chunk here exceeds it alone)
    val over = back.groupBy("bin_id").agg(sum("n_tokens").as("t"))
      .where(col("t") > 128).count()
    assert(over === 0L)
  }

  test("empty input writes a readable empty shard table (schema-carrying " +
      "file, not a partition-less dir), returns 0, and readShards counts 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_e").toString
    val n = Assembly.writeShards(chunks().limit(0), "chunk_text", "doc_id",
      "chunk_id", tokenBudget = 128, nShards = 8, outDir = dir)
    assert(n === 0L)
    val back = Assembly.readShards(spark, dir)
    assert(back.count() === 0L)
    // consumers see the same columns an occupied shard table carries
    for (c <- Seq("doc_id", "chunk_id", "chunk_text", "n_tokens", "bin_id",
        "ord", "shard"))
      assert(back.columns.contains(c), s"missing column $c")
  }

  test("shard files are DETERMINISTIC across re-runs: same shard dirs, " +
      "same rows in the same in-file order, files internally ord-sorted") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_shards_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_shards_b").toString
    Assembly.writeShards(chunks(), "chunk_text", "doc_id", "chunk_id",
      tokenBudget = 128, nShards = 8, outDir = dirA)
    Assembly.writeShards(chunks(), "chunk_text", "doc_id", "chunk_id",
      tokenBudget = 128, nShards = 8, outDir = dirB)
    def snapshot(dir: String): Seq[(Int, String, Long, Long, Long)] =
      readOrdered(dir)
        .select("shard", "file", "seq", "doc_id", "chunk_id")
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2, t._3))
        .map(t => (t._1, t._2, t._4, t._5, 0L)).toSeq
    assert(snapshot(dirA) === snapshot(dirB),
      "re-running the write must produce identical shard contents in order")
    // and within every file the rows are ord-sorted (the trainer reads
    // the shuffled order straight off disk, no re-sort)
    val viol = readOrdered(dirA)
      .withColumn("prev", lag("ord", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard", "file").orderBy("seq")))
      .where(col("prev").isNotNull && col("prev") > col("ord"))
      .count()
    assert(viol === 0L, "rows inside a shard file must be ord-sorted")
  }

  test("every shard is ONE parquet file, above and below the session width") {
    val in = chunks(1200L) // 6000 chunks
    for (nShards <- Seq(16, 2)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_shards_f").toFile
      Assembly.writeShards(in, "chunk_text", "doc_id", "chunk_id",
        tokenBudget = 128, nShards = nShards, outDir = dir.toString)
      val shardDirs = dir.listFiles().filter(_.getName.startsWith("shard="))
      assert(shardDirs.length === nShards)
      for (d <- shardDirs) {
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length === 1,
          s"nShards=$nShards: ${d.getName} holds ${files.length} files")
      }
    }
  }

  test("bins, shards and ord equal per-partition first-fit after " +
      "repartition(packParallelism, id)") {
    val in = chunks(1200L)
    for (packParallelism <- Seq(32, 3)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_shards_r").toString
      Assembly.writeShards(in, "chunk_text", "doc_id", "chunk_id",
        tokenBudget = 128, nShards = 16, outDir = dir,
        packParallelism = packParallelism)
      val pre = in
        .withColumn("n_tokens", graft.functions.TextFunctions
          .tokenCount(col("chunk_text")).cast(LongType))
        .repartition(packParallelism, col("doc_id"))
        .sortWithinPartitions(col("n_tokens").desc, col("doc_id"), col("chunk_id"))
      val packed = Packing.packByTokenBudget(pre, "chunk_text", 128,
        sortByLength = false)
      val reference = Sampling.shuffledShards(
        packed.withColumn("bin_key", col("bin_id").cast("string")), "bin_key", 16)
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), col("chunk_id"), col("bin_id"),
          col("shard").cast("int"), col("ord")).collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), r.getInt(3), r.getString(4))).toMap
      val got = keyed(Assembly.readShards(spark, dir))
      val want = keyed(reference)
      assert(got.size === 6000 && want.size === 6000)
      val diff = want.filter { case (k, v) => !got.get(k).contains(v) }
      assert(diff.isEmpty, s"packParallelism=$packParallelism: ${diff.size} " +
        s"chunks differ, e.g. ${diff.take(3)}")
    }
  }

  test("writeShards runs two exchanges and one write: no sample job, " +
      "no read-back") {
    val in = chunks(1200L).cache()
    try {
      in.count()
      val dir = java.nio.file.Files.createTempDirectory("graft_shards_j").toString
      val (n, c) = Counters.measure(spark.sparkContext)(
        Assembly.writeShards(in, "chunk_text", "doc_id", "chunk_id",
          tokenBudget = 128, nShards = 16, outDir = dir))
      assert(n === 6000L)
      // one job per exchange's map stage, one for the write
      assert(c.jobs === 3, c.json("writeShards"))
    } finally in.unpersist()
  }
}
