package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.functions._

/** Dev tool: writes the `.explain("formatted")` evidence for the
  * round-15 plan claims (plans/r15/<name>_{before,after}.txt).
  *
  * Two kinds of dumps:
  *  - catalog gates (`q_*`): the gate frame's formatted plan, untruncated
  *    (for gates whose construction materializes eagerly — the media
  *    checkpoints, the iterative loops — the pre-execution plan shows
  *    the post-materialization stub, which is itself the evidence that
  *    the expensive subtree now runs once);
  *  - `round_*` keys: the REPRESENTATIVE per-round join plan of the
  *    iterative operators, constructed exactly as the operator does —
  *    `before` uses a plain tracked localCheckpoint for the edge table
  *    (the pre-round-15 mechanics: no declared output partitioning, so
  *    the round join re-exchanges the edge side), `after` uses
  *    [[graft.operators.Dedup.partitionedCheckpointCut]] (declared
  *    size-derived hash layout: edge side scans its blocks with no
  *    Exchange and no Sort).
  *
  * Any catalog query name dumps that query's formatted plan (as
  * `<name>_after.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <name>[:before|:after] ...
  */
object PlanDump {
  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val outDir = args.head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // 8 cores: the committed plans/ dumps were taken at that width
    val spark = GraftSession(cores = 8)
    val d = "/root/testdata/sf0.01"
    import spark.implicits._

    // a small pair table standing in for the near-dup pair stream the
    // loop operators consume; shape, not size, is what the plan shows
    def pairs(): DataFrame =
      (1L to 2000L).map(i => (i, i + 1)).toDF("id1", "id2")

    // faithful to the operator code per variant: BEFORE = round-14
    // mechanics (unionAll symmetrization, plain tracked checkpoint with
    // the public Row re-wrap, unhinted round join); AFTER = round-15
    // (Generate symmetrization, declared size-derived layout,
    // SHUFFLE_HASH on the label/rank side)
    def plainCut(df: DataFrame): DataFrame =
      spark.createDataFrame(df.localCheckpoint().rdd, df.schema)

    def roundClusters(after: Boolean): DataFrame = {
      val p = pairs()
      val edges =
        if (after) {
          // final clusters form: Generate symmetrization + plain bridge
          // checkpoint (the declared layout was A/B-rejected for
          // clusters — 1-round corpora never amortize its setup)
          val sym = p.select(explode(array(
              struct(col("id1").as("src"), col("id2").as("dst")),
              struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
            .select(col("e.src").as("src"), col("e.dst").as("dst"))
            .distinct()
          val (cp, _) = operators.Dedup.checkpointTracked(sym)
          org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
            spark, cp.queryExecution.toRdd, sym.schema)
        } else {
          val fwd = p.select(col("id1").as("src"), col("id2").as("dst"))
          plainCut(fwd.unionAll(
            fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct())
        }
      val labels = {
        val init = edges.groupBy(col("src").as("id"))
          .agg(least(min(col("dst")), first(col("src"))).as("cluster"))
        if (after) {
          val (cp, _) = operators.Dedup.checkpointTracked(init)
          org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
            spark, cp.queryExecution.toRdd, init.schema)
        } else plainCut(init)
      }
      // ONE round's hop join + aggregate — the loop's repeated unit
      val lbl = labels.withColumnRenamed("id", "src")
      edges
        .join(if (after) lbl.hint("shuffle_hash") else lbl, "src")
        .select(col("dst").as("id"), col("cluster"))
        .unionAll(labels)
        .groupBy("id").agg(min("cluster").as("cluster"))
    }

    def roundPageRank(after: Boolean): DataFrame = {
      val e0 = pairs().select(col("id1").as("src"), col("id2").as("dst"))
        .distinct().withColumn("w", lit(1L))
      val ew = e0.join(e0.groupBy("src").agg(sum(col("w")).as("wsum")),
        Seq("src"))
      val edges =
        if (after) operators.Dedup.partitionedCheckpointCut(ew, Seq("src"))._1
        else plainCut(ew)
      val ranksInit = edges.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(1000000L))
      val ranks =
        if (after) {
          val (cp, _) = operators.Dedup.checkpointTracked(ranksInit)
          org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
            spark, cp.queryExecution.toRdd, ranksInit.schema)
        } else plainCut(ranksInit)
      // ONE round's contribution join + aggregate — the loop's repeated unit
      val rk = ranks.withColumnRenamed("node", "src")
      edges
        .join(if (after) rk.hint("shuffle_hash") else rk, Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank DIV wsum) * w + ((rank % wsum) * w) DIV wsum").as("m"))
        .groupBy("node").agg(sum(col("m")).as("m"))
    }

    // One round's SMALL-STAR + POINTER-DOUBLING unit of clusters()
    // (round 16): BEFORE = the SHIPPED form — SortMergeJoin for both
    // label-scale joins; AFTER = the SHUFFLE_HASH-pinned variant that
    // was tried and REJECTED with data (X=100 chain A/B: +16% summed
    // task time; radix-sorting long label keys beats per-round hash
    // builds — rejection note at the small-star join in Dedup.scala).
    // Both dumps are kept as the rejection's plan evidence.
    def starUnits(after: Boolean): (DataFrame, DataFrame) = {
      val p = pairs()
      def cut(df: DataFrame): DataFrame = {
        val (cp, _) = operators.Dedup.checkpointTracked(df)
        org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
          spark, cp.queryExecution.toRdd, df.schema)
      }
      val edges = cut(p.select(explode(array(
          struct(col("id1").as("src"), col("id2").as("dst")),
          struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct())
      val labels = cut(edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), first(col("src"))).as("cluster")))
      val hopped0 = cut(edges
        .join(labels.withColumnRenamed("id", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst").as("id"), col("cluster"))
        .unionAll(labels)
        .groupBy("id").agg(min("cluster").as("cluster")))
      def h(df: DataFrame): DataFrame =
        if (after) df.hint("shuffle_hash") else df
      // small-star unit: the centers⋈post-hop join UNCUT, so the dump
      // shows this round's join strategy
      val viaMembers = labels.where(col("id") =!= col("cluster"))
        .select(col("id").as("mid"), col("cluster").as("center"))
        .join(h(hopped0.withColumnRenamed("id", "mid")), "mid")
        .select(col("center").as("id"), col("cluster"))
      val smallStar = hopped0.unionAll(viaMembers)
        .groupBy("id").agg(min("cluster").as("cluster"))
      // doubling unit: over a cut post-star table, as the operator runs
      val hopped = cut(smallStar)
      val doubling = hopped.alias("a")
        .join(h(hopped.select(col("id").as("cluster"),
          col("cluster").as("c2")).alias("b")), Seq("cluster"), "left")
        .select(col("id"), coalesce(col("c2"), col("cluster")).as("cluster"))
      (smallStar, doubling)
    }
    def roundClustersStar(after: Boolean): DataFrame = starUnits(after)._1
    def roundClustersDouble(after: Boolean): DataFrame = starUnits(after)._2

    // The capped PAIRING KERNEL (Similarity.cellPairs — shared by
    // selfTopKLsh and NearDupStore.pairs, i.e. every kNN/semdedup/media
    // gate). BEFORE = the round-15 two-branch hot/cold form, inlined
    // faithfully: a count window above the shared exchange, read by the
    // cold all-pairs self-join as BOTH sides and by the hot windowed
    // branch once more (three evaluations, per-branch Sorts). AFTER =
    // the round-16 single-pass form in the operator: ONE window pass
    // (count + bounded sliding-frame collect_list), explode, no
    // self-join.
    def cellPairsPlan(after: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val maxCell = 48
      val hotWindow = 8
      val celled = (1L to 4000L).map(i => (i % 97, i)).toDF("cellkey", "id")
      if (after)
        operators.Similarity.cellPairs(celled, "id", maxCell, hotWindow)
      else {
        val wAll = Window.partitionBy(col("cellkey"))
          .orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val counted = celled.withColumn("cn", count(lit(1)).over(wAll))
        val cold = counted.where(col("cn") <= maxCell)
        val l = cold.select(col("cellkey"), col("id").as("id1"))
        val r = cold.select(col("cellkey"), col("id").as("id2"))
        val coldPairs = l.join(r.hint("merge"), Seq("cellkey"))
          .where(col("id1") < col("id2")).select("id1", "id2")
        val wOrd = Window.partitionBy(col("cellkey")).orderBy(col("id"))
        val hotPairs = counted.where(col("cn") > maxCell)
          .withColumn("nbrs",
            collect_list(col("id")).over(wOrd.rowsBetween(1, hotWindow)))
          .select(col("id").as("id1"), explode(col("nbrs")).as("id2"))
        coldPairs.unionAll(hotPairs)
      }
    }

    // NearDupStore.pairs over a small on-disk store (round 16): BEFORE =
    // the r15 read shape, inlined faithfully — snapshot read +
    // dropDuplicates(id, cellkey) (its own exchange) feeding the pairing
    // kernel (its own exchange on cellkey). AFTER = the operator: the
    // retry dedup rides the kernel's window pass as a lag filter — one
    // exchange, one sort.
    def storePairs(after: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val dir = Scratch.dir("graft_plandump_store") + "/s"
      val embs = (1L to 64L).map(i =>
          (i, Seq.tabulate(8)(j => ((i + j) % 5).toFloat)))
        .toDF("doc_id", "emb")
      operators.NearDupStore.write(embs, "emb", "doc_id", dir, "b1",
        bits = 4, tables = 4, dim = 8)
      if (after)
        operators.NearDupStore.pairs(spark, dir, tau = 0.5, maxCell = 8,
          hotWindow = 4)
      else {
        val scoped = operators.StoreCompaction
          .readVisible(spark, s"$dir/cells", pinLiveFiles = true)
          .select("id", "cellkey").dropDuplicates("id", "cellkey")
        val cand = operators.Similarity
          .cellPairs(scoped.select(col("cellkey"), col("id")), "id", 8, 4)
          .distinct()
        val v = operators.StoreCompaction
          .readVisible(spark, s"$dir/vecs", pinLiveFiles = true)
          .dropDuplicates("id")
        cand
          .join(v.select(col("id").as("id1"), col("vec").as("v1"))
            .hint("shuffle_hash"), "id1")
          .join(v.select(col("id").as("id2"), col("vec").as("v2"))
            .hint("shuffle_hash"), "id2")
          .select(col("id1"), col("id2"),
            graft.functions.VectorFunctions.cosine(col("v1"), col("v2"))
              .as("score"))
          .where(col("score") >= 0.5)
      }
    }

    // ONE round of the clusters hop join PAST the adaptive declare
    // threshold (round 16): BEFORE = the minimal-setup form every round
    // ran in r15 (plain bridge checkpoint, so the hop join exchanges
    // the edge side each round); AFTER = rounds ≥ 3 consume the edge
    // table through the declared layout — edge side is a bare Scan
    // ExistingRDD, no Exchange, no Sort.
    def roundClustersDeep(after: Boolean): DataFrame = {
      val p = pairs()
      val sym = p.select(explode(array(
          struct(col("id1").as("src"), col("id2").as("dst")),
          struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()
      val edges =
        if (after) operators.Dedup.partitionedCheckpointCut(sym, Seq("src"))._1
        else {
          val (cp, _) = operators.Dedup.checkpointTracked(sym)
          org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
            spark, cp.queryExecution.toRdd, sym.schema)
        }
      val labelsInit = edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), first(col("src"))).as("cluster"))
      val (cp, _) = operators.Dedup.checkpointTracked(labelsInit)
      val labels = org.apache.spark.sql.graftbridge.DatasetBridge
        .fromInternalRows(spark, cp.queryExecution.toRdd, labelsInit.schema)
      edges
        .join(labels.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
        .select(col("dst").as("id"), col("cluster"))
        .unionAll(labels)
        .groupBy("id").agg(min("cluster").as("cluster"))
    }

    // The PAIR-GENERATION stage of the audio near-dup gate
    // (representative of all six media gates: they share the same
    // decode → embed → selfTopKLsh shape). BEFORE: the embeddings frame
    // is lazy, so the decode+embed UDF subtree appears once per
    // selfTopKLsh read (cell explode + two vector re-attaches). AFTER:
    // one eager checkpoint — the three reads are Scan ExistingRDD.
    def mediaPairs(checkpointed: Boolean): DataFrame = {
      val groups = 40
      val mediaUdf = udf { (id: Long) =>
        operators.Multimodal.wavWindows(64,
          Queries.audioGateAmps((id % groups).toInt, (id / groups % 8).toInt))
      }
      val base = Tables.documents(spark, d).select(col("doc_id"))
      val nRows = base.count()
      val docs = base.withColumn("media", mediaUdf(col("doc_id")))
      val embRaw = operators.Multimodal.embedAudioWindows(docs, "media")
        .select(col("doc_id"), col("win_emb"))
      val emb =
        if (checkpointed) operators.Dedup.checkpointTracked(embRaw)._1
        else embRaw
      operators.Similarity.selfTopKLsh(emb, "win_emb", "doc_id",
        k = Int.MaxValue, bits = operators.Similarity.lshBitsFor(nRows),
        tables = 8, dim = 16, maxCell = 48, hotWindow = 8, nRowsHint = nRows)
        .where(col("score") >= 0.9)
        .select(col("id1"), col("id2"))
    }

    for (a <- args.drop(1)) {
      val (name, variant) = a.split(":") match {
        case Array(n, v) => (n, v)
        case Array(n)    => (n, "after")
      }
      val df = name match {
        case "round_clusters"      => roundClusters(variant == "after")
        case "round_pagerank"      => roundPageRank(variant == "after")
        case "round_clusters_deep" => roundClustersDeep(variant == "after")
        case "round_clusters_star" => roundClustersStar(variant == "after")
        case "round_clusters_double" => roundClustersDouble(variant == "after")
        case "media_pairs"         => mediaPairs(variant == "after")
        case "cell_pairs"          => cellPairsPlan(variant == "after")
        case "store_pairs"         => storePairs(variant == "after")
        case q                     => Queries.all(q)(spark, d)
      }
      val path = java.nio.file.Paths.get(outDir, s"${name}_$variant.txt")
      java.nio.file.Files.write(path,
        fmt(df).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $path")
    }
    spark.stop()
  }
}
