package graft.operators

import graft.functions.{Checksum, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The LAST MILE of training-data assembly: curated chunks → token-budget
  * bins ([[Packing.packByTokenBudget]]) → deterministic shuffled shards
  * ([[Sampling.shuffledShards]]) → written parquet shard files a trainer
  * streams in order. The q_assembly gate pins the upstream composition
  * (sentence dedup → classifier → chunking); this operator pins the
  * write: every knob is deterministic (md5 shard keys, fully-tiebroken
  * sorts, hash repartition before packing), so a retried or re-run job
  * produces BYTE-IDENTICAL shard contents — the property that makes
  * training reproducible and retries safe (AssemblyShardsSpec proves it
  * by writing twice and comparing per-shard read order).
  *
  * Scale shape: two exchanges, each straight to its final task, at
  * most session-width tasks each, and no sampling job. Packing: a hash
  * exchange of `packParallelism` logical buckets onto min(buckets,
  * shuffle partitions) tasks; greedy first-fit runs per bucket (bin
  * quality is per-bucket, the standard distributed-packing trade).
  * Shard write: a shard-id exchange (`repartitionById` on the shard
  * number, no range sampling) onto min(nShards, shuffle partitions)
  * tasks, so every shard lands whole in one task and is written as ONE
  * file. The in-task sort leads with `shard`, so the dynamic-partition
  * writer sees its required ordering already satisfied and every shard
  * file is written in (ord, id, chunk) order — the
  * [[Sampling.shuffledShards]] scaladoc's trap (sorting by ord alone
  * lets the writer's unstable partition re-sort scramble file order)
  * stays dodged here. The row count is observed on the write itself:
  * nothing is read back. */
object Assembly {

  /** Pack `chunks` into ≤`tokenBudget` bins and write them as `nShards`
    * hive-partitioned parquet shards under `outDir` (shard=N/...), one
    * file per shard. Bins stay whole inside one shard (the shard key is
    * the BIN, so a training sequence never splits); rows inside every
    * shard file are (ord, id, chunk) sorted. `packParallelism` is the
    * number of logical packing buckets, `pmod(hash(id), packParallelism)`:
    * it fixes the bins and so the output; the packing runs in
    * min(packParallelism, shuffle partitions) tasks. Returns the
    * written row count. */
  def writeShards(chunks: DataFrame, textCol: String, idCol: String,
      chunkIdCol: String, tokenBudget: Int, nShards: Int, outDir: String,
      packParallelism: Int = 32): Long = {
    require(tokenBudget > 0 && nShards > 0 && packParallelism > 0)
    val width = chunks.sparkSession.sessionState.conf.numShufflePartitions
    // deterministic packing input: a fixed hash bucket per doc (the
    // partition id `repartition(packParallelism, id)` would give, so
    // retry- and AQE-invariant), fully-tiebroken in-bucket order
    // (n_tokens desc alone leaves equal-length chunks at the sorter's
    // mercy)
    val packWidth = math.min(packParallelism, width)
    val pre = chunks
      .withColumn("n_tokens",
        TextFunctions.tokenCount(col(textCol)).cast(LongType))
      .withColumn("pack_bucket", pmod(hash(col(idCol)), lit(packParallelism)))
      .repartitionById(packWidth, pmod(col("pack_bucket"), lit(packWidth)))
      .sortWithinPartitions(col("pack_bucket"), col("n_tokens").desc,
        col(idCol), col(chunkIdCol))
    val packed = Packing.firstFit(pre, tokenBudget, Some("pack_bucket"))
      .drop("pack_bucket")
    val sharded = Sampling
      .shuffledShards(packed.withColumn("bin_key", col("bin_id").cast("string")),
        "bin_key", nShards)
      .drop("bin_key")
    val shardWidth = math.min(nShards, width)
    val out = sharded
      .repartitionById(shardWidth, pmod(col("shard"), lit(shardWidth)))
      .sortWithinPartitions(col("shard"), col("ord"), col(idCol), col(chunkIdCol))
    val (rows, _) = Checksum.observed(out, checksum = false, "writeShards")(
      _.write.mode("overwrite").partitionBy("shard").parquet(outDir))
    // EMPTY input leaves a partition-less directory (only _SUCCESS)
    // whose re-read fails schema inference; overwrite it with one
    // zero-row UNpartitioned parquet file carrying the full schema
    // (shard as a regular int column), so readShards and any consumer
    // see the same columns and count 0. The decision reads the count
    // the write observed: the r14 pre-write isEmpty probe re-ran the
    // first stages of an expensive un-materialized upstream (the r15
    // A/B stamped it a real 1.35× regression).
    if (rows == 0L) {
      val empty = chunks // limit(0) folds to an empty relation: no job
        .withColumn("n_tokens", lit(0L))
        .withColumn("bin_id", lit(0L))
        .withColumn("ord", lit("")) // md5 hex in the non-empty path
        .withColumn("shard", lit(0).cast("int"))
        .limit(0)
      empty.coalesce(1).write.mode("overwrite").parquet(outDir)
    }
    rows
  }

  /** Read shards back for verification/consumption: the parquet under
    * `outDir` with the hive `shard` column restored as int. */
  def readShards(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).withColumn("shard", col("shard").cast("int"))

  /** Producer half of the STREAMED shard handoff — the reference's
    * dump→stream→load pipe (SURVEY §3.3, `mydumper_stream.c`) applied
    * to the training last mile: announce each written shard directory
    * on the [[graft.streaming.LandingStream]] file-event protocol, in
    * shard order, then the terminal `done` event carrying the shard
    * count (the consumer's stop-and-completeness signal, exactly the
    * CLI stream-load contract). Returns the announced shard count. */
  def announceShards(outDir: String, eventsDir: String): Int = {
    // Hadoop FS listing, not java.io: the shards were written by Spark
    // (any Hadoop scheme — a java.io listing over an object-store
    // outDir finds NOTHING and silently announces an empty handoff)
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(
      graft.streaming.LandingStream.protocolHadoopConf())
    val shardDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .sortBy(_.getPath.getName.stripPrefix("shard=").toInt)
    shardDirs.foreach { d =>
      graft.streaming.LandingStream.announceFile(eventsDir, "data",
        d.getPath.getName.stripPrefix("shard="), d.getPath.toString)
    }
    graft.streaming.LandingStream.announceFile(eventsDir, "done", "-",
      shardDirs.length.toString)
    shardDirs.length
  }

  /** Trainer-side consumer of [[announceShards]]: FOLLOW the events dir
    * (ProcessingTime stream over a checkpoint — the concurrent mode, so
    * shards announced after query start are still seen) and run
    * `handle(shard, rows)` per shard IN ANNOUNCE ORDER; returns once
    * every announced shard up to the terminal `done` has been handled.
    * Delivery is AT-LEAST-ONCE, the file-event contract: a consumer
    * that dies mid-run resumes from the checkpoint and re-handles the
    * failed micro-batch's shards (StreamingSpec pins both the order and
    * the redelivery), so `handle` must be idempotent per shard — which
    * a trainer's "read shard k" naturally is. Ordering holds because
    * announce names encode wall-clock arrival and
    * [[graft.streaming.LandingStream.consumeFileEvents]] sorts each
    * micro-batch by event-file name. */
  def followShards(spark: SparkSession, eventsDir: String,
      checkpoint: String, timeoutMs: Long = 120000L,
      reorderGraceMs: Long = 3000L)(
      handle: (Int, DataFrame) => Unit): Long = {
    @volatile var expected = -1L
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    // fresh-vs-resumed checkpoint decides how strictly completion can
    // be checked: a fresh run must handle EVERY announced shard itself,
    // so seen-vs-expected is exact; a resume legitimately re-handles
    // only uncommitted batches and its seen count undershoots
    val cpPath = new org.apache.hadoop.fs.Path(checkpoint)
    val freshCheckpoint = !cpPath
      .getFileSystem(spark.sessionState.newHadoopConf()).exists(cpPath)
    val q = graft.streaming.LandingStream.consumeFileEvents(spark,
      eventsDir, checkpoint, follow = true) { (kind, table, path) =>
      kind match {
        case "data" =>
          handle(table.toInt, spark.read.parquet(path))
          seen.incrementAndGet()
        case "done" => expected = path.toLong
        case other => throw new IllegalArgumentException(
          s"unexpected shard event kind '$other'")
      }
    }
    // completion keys on the DONE event, then drains a REORDER window:
    // micro-batches process sequentially, but the file source's LISTING
    // can surface the done event file before an earlier data event file
    // (eventually-consistent stores — exactly the concurrent
    // trainer-tailing mode this follows in), so stopping on done alone
    // would silently skip those shards. After done, exit as soon as the
    // handled count covers `expected` (the announced universe is fully
    // handled — a reorder can only leave seen BELOW expected); a run
    // whose count undershoots (a crash-resume re-handling only
    // uncommitted batches — or a real loss) keeps consuming until the
    // count goes quiet for `reorderGraceMs` (a few trigger intervals).
    val deadline = System.currentTimeMillis() + timeoutMs
    while (q.isActive && expected < 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
    var lastSeen = seen.get()
    var lastMove = System.currentTimeMillis()
    while (q.isActive && System.currentTimeMillis() < deadline &&
        !(expected >= 0 && seen.get() >= expected) &&
        System.currentTimeMillis() - lastMove < reorderGraceMs) {
      Thread.sleep(25)
      val s = seen.get()
      if (s != lastSeen) { lastSeen = s; lastMove = System.currentTimeMillis() }
    }
    if (q.isActive) q.stop()
    q.awaitTermination()
    require(expected >= 0,
      s"no terminal done event within ${timeoutMs}ms — producer died?")
    require(!freshCheckpoint || seen.get() == expected,
      s"handled ${seen.get()} of $expected announced shards on a fresh " +
        "checkpoint — events lost or still unlisted past the grace period")
    seen.get()
  }
}
