package graft

import graft.streaming.LandingStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** A RawLocalFileSystem under a NON-`file:` scheme — the standard
  * Spark-test pattern for proving a code path speaks the Hadoop FS API
  * instead of java.io/java.nio (which would silently target the local
  * disk regardless of the path's scheme). Registered per-test via
  * `fs.graftfs.impl`. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Structured Streaming surface (SURVEY §2.10, §3.3): landing-dir
  * file handoff + event-time windows with watermark. */
class StreamingSpec extends SparkTestBase {

  test("landing-dir handoff: producer files -> consumer micro-batches") {
    val landing = Files.createTempDirectory("graft_landing_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_").toString
    val o = Tables.orders(spark, sf)
    // producer: two handoffs (the reference streams per-chunk files)
    LandingStream.produce(o.filter(col("o_orderkey") % 2 === 0), landing)
    LandingStream.produce(o.filter(col("o_orderkey") % 2 === 1), landing)
    var total = 0L
    var batches = 0
    val q = LandingStream.consume(spark, landing, o.schema, ckpt) { (batch, _) =>
      total += batch.count(); batches += 1
    }
    q.awaitTermination(120000)
    assert(total === o.count(), s"streamed $total of ${o.count()} rows")
    assert(batches >= 1)
  }

  test("streaming DSIR scoring matches the batch weights") {
    // the deployment shape for importance resampling: the ratio table
    // trains ONCE offline (target + raw snapshot), then crawl batches
    // stream in and score against the frozen broadcast table — weights
    // are per-doc with no cross-doc state, so the union of per-batch
    // scores must equal the one-shot batch recompute exactly
    val landing = Files.createTempDirectory("graft_dsir_landing_").toString
    val ckpt = Files.createTempDirectory("graft_dsir_ckpt_").toString
    val docs = Tables.documents(spark, sf)
    val ratios = operators.Dsir.logRatios(
      docs.where(col("source") === "src0"),
      docs.where(col("source") =!= "src0"), "text", "doc_id", 512)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 0), landing)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 1), landing)
    val got = scala.collection.mutable.Map[Long, (Long, Long)]()
    var batches = 0
    val q = LandingStream.consume(spark, landing, docs.schema, ckpt,
      maxFilesPerTrigger = 1) { (batch, _) =>
      got ++= operators.Dsir.importanceWeights(batch, "text", "doc_id",
          ratios, 512)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      batches += 1
    }
    q.awaitTermination(180000)
    assert(batches >= 2, s"want multiple micro-batches, got $batches")
    val full = operators.Dsir.importanceWeights(docs, "text", "doc_id",
        ratios, 512)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.toMap === full,
      s"streamed weights ${got.size} != batch weights ${full.size}")
    assert(full.values.exists(_._1 > 0), "test premise: docs have features")
  }

  test("streaming ANN index appends equal the one-shot index") {
    // the similarity analog of the incremental-dedup stream: embedding
    // batches arrive via the landing dir, each micro-batch blind-appends
    // its cell-partitioned slice (Similarity.appendIndex — no
    // read-modify-write, batches commit independently), and a probe
    // against the streamed index must return EXACTLY the one-shot
    // index's neighbors
    val landing = Files.createTempDirectory("graft_ann_landing_").toString
    val ckpt = Files.createTempDirectory("graft_ann_ckpt_").toString
    val idx = Files.createTempDirectory("graft_ann_idx_").toString
    val streamed = s"$idx/streamed"
    val oneshot = s"$idx/oneshot"
    val e = Tables.embeddings(spark, sf)
    val bits = 4
    LandingStream.produce(e.filter(col("vec_id") % 2 === 0), landing)
    LandingStream.produce(e.filter(col("vec_id") % 2 === 1), landing)
    var batches = 0
    val q = LandingStream.consume(spark, landing, e.schema, ckpt,
      maxFilesPerTrigger = 1) { (batch, _) =>
      operators.Similarity.appendIndex(batch, streamed, "embedding", bits)
      batches += 1
    }
    q.awaitTermination(180000)
    assert(batches >= 2, s"want multiple micro-batches, got $batches")
    operators.Similarity.appendIndex(e, oneshot, "embedding", bits)
    val probe = e.orderBy("vec_id").select("embedding").head()
      .getSeq[Float](0)
    def top(path: String) = operators.Similarity.queryIndex(spark, path,
      "embedding", "vec_id", probe, k = 10, bits = bits, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(top(streamed) === top(oneshot),
      "streamed-index neighbors diverge from the one-shot index")
  }

  test("streaming incremental dedup matches the batch pair set") {
    // the standing-corpus workflow end-to-end: documents arrive in
    // micro-batches; each batch sketches only itself, joins its bands
    // against the persisted store (blind-append parquet), and the union
    // of per-batch pair sets must equal the full-batch recompute —
    // streaming composition of Dedup.minhashIncrementalPairs.
    val landing = Files.createTempDirectory("graft_dd_landing_").toString
    val ckpt = Files.createTempDirectory("graft_dd_ckpt_").toString
    val storePath = Files.createTempDirectory("graft_dd_store_").toString + "/bands"
    val docs = Tables.documents(spark, sf)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 0), landing)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 1), landing)
    val pairs = scala.collection.mutable.Set[(Long, Long)]()
    var batches = 0
    val q = LandingStream.consume(spark, landing, docs.schema, ckpt,
      maxFilesPerTrigger = 1) { (batch, _) =>
      val store =
        if (new java.io.File(storePath).exists())
          spark.read.parquet(storePath)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new StructType().add("doc_id", "long").add("band", "int").add("bucket", "long"))
      operators.Dedup.minhashIncrementalPairs(batch, store, docs,
        "text", "doc_id", verifyJaccard = Some(0.5)) { incr =>
        pairs ++= incr.select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      operators.Dedup.minhashBands(batch, "text", "doc_id")
        .write.mode("append").parquet(storePath)
      batches += 1
    }
    q.awaitTermination(180000)
    assert(batches >= 2, s"want multiple micro-batches, got $batches")
    val full = operators.Dedup.minhashPairs(docs, "text", "doc_id",
      verifyJaccard = Some(0.5)).select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet === full,
      s"streaming pairs ${pairs.size} != batch pairs ${full.size}")
    assert(full.nonEmpty, "test premise: corpus must contain near-dups")
  }

  test("streaming quality-classifier scoring matches the batch verdicts") {
    // the classifier is per-doc stateless (hash model, no cross-doc
    // state), so crawl batches score as they land and the union equals
    // the one-shot — the streaming half of the curation front door
    val landing = Files.createTempDirectory("graft_qc_landing_").toString
    val ckpt = Files.createTempDirectory("graft_qc_ckpt_").toString
    val docs = Tables.documents(spark, sf)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 0), landing)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 1), landing)
    val got = scala.collection.mutable.Map[Long, (Long, Boolean)]()
    var batches = 0
    val q = LandingStream.consume(spark, landing, docs.schema, ckpt,
      maxFilesPerTrigger = 1) { (batch, _) =>
      got ++= operators.QualityClassifier
        .scoreInline(batch, "text", "doc_id", 512)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4)))
      batches += 1
    }
    q.awaitTermination(180000)
    assert(batches >= 2, s"want multiple micro-batches, got $batches")
    val full = operators.QualityClassifier
      .scoreInline(docs, "text", "doc_id", 512)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(got.toMap === full)
  }

  test("streamed sentence-count appends serve the one-shot dedup verdicts") {
    // cross-doc state lives in the blind-append count store, not in the
    // stream: each micro-batch appends its own counts (batch-id keyed,
    // replay-safe), and once the corpus has landed the store serves
    // verdicts identical to a full recompute — the streaming version of
    // q_sentence_dedup_store
    val landing = Files.createTempDirectory("graft_sc_landing_").toString
    val ckpt = Files.createTempDirectory("graft_sc_ckpt_").toString
    val store = Files.createTempDirectory("graft_sc_store_").toString + "/counts"
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 200)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(". Subscribe to our newsletter now.")))
          .otherwise(col("text")).as("text"))
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 0), landing)
    LandingStream.produce(docs.filter(col("doc_id") % 2 === 1), landing)
    var batches = 0
    val q = LandingStream.consume(spark, landing, docs.schema, ckpt,
      maxFilesPerTrigger = 1) { (batch, bid) =>
      operators.SentenceDedup.appendCounts(batch, "text", "doc_id",
        store, s"b$bid")
      batches += 1
    }
    q.awaitTermination(180000)
    assert(batches >= 2, s"want multiple micro-batches, got $batches")
    val served = operators.SentenceDedup
      .dedupSentencesFromStore(docs, "text", "doc_id", spark, store)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val oneShot = operators.SentenceDedup
      .dedupSentences(docs, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(served === oneShot)
  }

  test("streaming windowed aggregate matches the batch plan") {
    val landing = Files.createTempDirectory("graft_ev_").toString
    val ckpt = Files.createTempDirectory("graft_ev_ckpt_").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(
        spark.read.parquet(landing).schema)
      .parquet(landing)
    val agg = LandingStream.windowedEventCounts(stream)
    val q = agg.writeStream
      .format("memory").queryName("winagg")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM winagg")
    val batch = LandingStream.windowedEventCounts(ev)
    assert(streamed.count() === batch.count())
    val sTot = streamed.agg(sum("cnt")).head().getLong(0)
    val bTot = batch.agg(sum("cnt")).head().getLong(0)
    assert(sTot === bTot)
  }

  test("watermarked stream-stream join matches the batch join") {
    val landing = Files.createTempDirectory("graft_ssj_").toString
    val ckpt = Files.createTempDirectory("graft_ssj_ckpt_").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("append").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def src() = spark.readStream.schema(schema).parquet(landing)
    val joined = LandingStream.clickViewJoin(
      src().where(col("event_type") === "click"),
      src().where(col("event_type") === "view"))
    val q = joined.writeStream
      .format("memory").queryName("ssj")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT count(*) FROM ssj").head().getLong(0)
    val batch = LandingStream.clickViewJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "view")).count()
    assert(streamed === batch, s"streamed $streamed vs batch $batch")
    assert(batch > 0)
  }

  test("streaming dedup drops replayed keys across micro-batches") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt_").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val q = LandingStream.dedupedEvents(
      input.toDF().toDF("event_id", "ts", "value"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    input.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0))
    q.processAllAvailable()
    // replay of id 1 (the loader-resume case) + a genuinely new id 3
    input.addData((1L, ts(2), 1.0), (3L, ts(3), 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT event_id FROM dedup ORDER BY event_id")
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 2L, 3L), "replayed key must be dropped once")
  }

  test("streaming session windows match the batch session aggregate") {
    val landing = Files.createTempDirectory("graft_sess_").toString
    val ckpt = Files.createTempDirectory("graft_sess_ckpt_").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .parquet(landing)
    val q = LandingStream.sessionEventCounts(stream)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM sessions")
    val batch = LandingStream.sessionEventCounts(ev)
    assert(streamed.count() === batch.count())
    assert(streamed.agg(sum("cnt")).head().getLong(0) === ev.count())
  }

  test("windowed aggregation state runs on the RocksDB store (the 100 TB path)") {
    // SCALE.md claims streaming state scales off-heap via RocksDB; this
    // proves the provider actually loads and produces the same answers
    val landing = Files.createTempDirectory("graft_rocks_").toString
    val ckpt = Files.createTempDirectory("graft_rocks_ckpt_").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("append").parquet(landing)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema(spark.read.parquet(landing).schema).parquet(landing)
      val q = LandingStream.windowedEventCounts(stream)
        .writeStream.format("memory").queryName("rocksagg")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val streamed = spark.sql("SELECT sum(cnt) FROM rocksagg").head().getLong(0)
      assert(streamed === ev.count(), "RocksDB-backed aggregate lost rows")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("daemon mode rotates snapshot dirs and re-dumps each interval") {
    val base = Files.createTempDirectory("graft_daemon_").toString
    val o = Tables.orders(spark, sf).limit(100)
    var slept = Vector.empty[Long]
    val dirs = graft.streaming.Daemon.run(base, snapshotCount = 2,
      iterations = 3, intervalMs = 5L, sleep = ms => slept :+= ms) { dir =>
      o.write.mode("overwrite").parquet(dir)
    }
    assert(dirs === Seq(s"$base/0", s"$base/1", s"$base/0"))
    assert(slept === Vector(5L, 5L)) // no sleep after the last iteration
    // both snapshot dirs hold a complete dump
    assert(spark.read.parquet(s"$base/0").count() === 100)
    assert(spark.read.parquet(s"$base/1").count() === 100)
    // last_dump names the last COMPLETE snapshot (run 3 landed in 0)
    import graft.streaming.Daemon
    assert(Daemon.lastComplete(base).map(_.getFileName.toString) === Some("0"))
    // a restart resumes AFTER the symlink target (c:61-79 wrap rule)
    assert(Daemon.nextDumpNumber(base, 2) === 1)
    // an aborted dump leaves the symlink on the previous complete one
    intercept[RuntimeException] {
      Daemon.run(base, snapshotCount = 2, iterations = 1, intervalMs = 0) {
        _ => throw new RuntimeException("disk full")
      }
    }
    assert(Daemon.lastComplete(base).map(_.getFileName.toString) === Some("0"))
    // and the NEXT attempt still targets the slot after the symlink
    assert(Daemon.nextDumpNumber(base, 2) === 1)
  }

  test("mapGroupsWithState keyed totals match the batch aggregate") {
    import graft.streaming.UserEvent
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_state_ckpt_").toString
    val ev = Tables.events(spark, sf)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UserEvent](
      spark)
    val rows = ev.select(col("user_id"), col("value")).as[UserEvent].collect()
    // two micro-batches so state genuinely carries across batches
    val (first, second) = rows.splitAt(rows.length / 2)
    input.addData(first.toSeq)
    val q = LandingStream.statefulUserTotals(input.toDS())
      .writeStream.format("memory").queryName("usertotals")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    input.addData(second.toSeq)
    q.processAllAvailable()
    q.stop()
    // last update per user = final state
    val streamed = spark.sql(
      """SELECT user_id, max_by(events, events) AS events FROM usertotals
        |GROUP BY user_id""".stripMargin)
    val batch = ev.groupBy("user_id").agg(count(lit(1)).as("events"))
    assert(streamed.count() === batch.count())
    val joined = streamed.alias("s").join(batch.alias("b"), "user_id")
      .where(col("s.events") =!= col("b.events")).count()
    assert(joined === 0, "per-user streamed totals diverge from batch")
  }

  test("shard-follow handoff: announced shards stream to the trainer in " +
      "order; a crashed consumer resumes with at-least-once redelivery") {
    import graft.operators.Assembly
    val shardDir = Files.createTempDirectory("graft_fsh_out_").toString
    val evDir = Files.createTempDirectory("graft_fsh_ev_").toString
    val ckpt = Files.createTempDirectory("graft_fsh_ck_").toString
    // small deterministic chunk table -> 6 shards on disk
    import spark.implicits._
    val chunks = (for (d <- 1L to 40L; c <- 0L until 3L) yield
      (d, c, Seq.tabulate(5 + (d % 7).toInt)(i => s"w${(d + i) % 31}").mkString(" ")))
      .toDF("doc_id", "chunk_id", "chunk_text")
    val n = Assembly.writeShards(chunks, "chunk_text", "doc_id", "chunk_id",
      tokenBudget = 64, nShards = 6, outDir = shardDir)
    assert(n === 120L)
    val announced = Assembly.announceShards(shardDir, evDir)
    assert(announced === 6)
    // run 1: the consumer CRASHES on shard 3 (after handling 0..2) —
    // the failed micro-batch must not commit
    val run1 = scala.collection.mutable.ArrayBuffer.empty[Int]
    val crash = intercept[Exception] {
      Assembly.followShards(spark, evDir, ckpt, timeoutMs = 60000L) {
        (shard, df) =>
          if (shard == 3) throw new RuntimeException("trainer died")
          run1 += shard
          assert(df.count() > 0)
      }
    }
    assert(crash.getMessage != null)
    assert(run1.toSeq === run1.toSeq.sorted, s"out of order: $run1")
    assert(!run1.contains(3))
    // run 2: same checkpoint — the failed batch redelivers (at least
    // once); every shard not committed in run 1 arrives, still in order
    val run2 = scala.collection.mutable.ArrayBuffer.empty[Int]
    Assembly.followShards(spark, evDir, ckpt, timeoutMs = 60000L) {
      (shard, df) => run2 += shard; assert(df.count() > 0)
    }
    assert(run2.toSeq === run2.toSeq.sorted, s"run2 out of order: $run2")
    assert(run2.contains(3), "the crashed shard must redeliver")
    assert((run1 ++ run2).toSet === (0 until 6).toSet,
      s"all shards handled across runs: ${(run1 ++ run2).sorted}")
    // the handoff is row-lossless: re-reading what the trainer saw
    // equals the written shard table
    assert(Assembly.readShards(spark, shardDir).count() === 120L)
  }

  test("shard handoff speaks the Hadoop FS API end-to-end: write, list, " +
      "announce and follow all work on a non-file: scheme") {
    import graft.operators.Assembly
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val shardDir = "graftfs://" + Files.createTempDirectory("graft_gfs_out_")
    val evDir = "graftfs://" + Files.createTempDirectory("graft_gfs_ev_")
    val ckpt = Files.createTempDirectory("graft_gfs_ck_").toString
    import spark.implicits._
    val chunks = (for (d <- 1L to 20L; c <- 0L until 2L) yield
      (d, c, Seq.tabulate(4 + (d % 5).toInt)(i => s"w${(d + i) % 17}").mkString(" ")))
      .toDF("doc_id", "chunk_id", "chunk_text")
    val n = Assembly.writeShards(chunks, "chunk_text", "doc_id", "chunk_id",
      tokenBudget = 48, nShards = 3, outDir = shardDir)
    assert(n === 40L)
    // the r14 java.io listing found NOTHING on a non-local scheme and
    // announced an empty handoff; the Hadoop FS port must see all shards
    val announced = Assembly.announceShards(shardDir, evDir)
    assert(announced === 3, s"announced $announced of 3 shards")
    val handled = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val seen = Assembly.followShards(spark, evDir, ckpt, timeoutMs = 60000L) {
      (shard, df) => handled += ((shard, df.count()))
    }
    assert(seen === 3L)
    assert(handled.map(_._1).toSeq === Seq(0, 1, 2), s"order: $handled")
    assert(handled.map(_._2).sum === 40L, "rows lost through the scheme")
  }
}
