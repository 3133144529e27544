package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph operators for corpus curation: PageRank-style link authority.
  *
  * Why it belongs in a training-data engine: crawl-scale pipelines
  * (Common Crawl curation, OpenWebText-style filtering) weight document
  * quality by the link authority of the source domain — a PageRank over
  * the domain link graph computed once per snapshot, then joined onto
  * every document as a quality prior. The graph is edges-as-a-table; the
  * iteration is the standard Pregel shape (join ranks to edges on src,
  * aggregate contributions by dst), which Spark executes as two
  * exchanges per round with the edge table's partitioning reused.
  */
object Graphs {

  /** Fixed-point integer PageRank: `iters` damped power-iteration
    * rounds over an edge table, all arithmetic in scaled BIGINT
    * (`rank` starts at `scale`; damping is the exact ratio
    * `dampNum/dampDen`; every division is a floor). Exactness is the
    * point: integer sums are associative, so the result is independent
    * of partitioning/merge order and replayable bit-for-bit by any
    * engine — the same no-RNG determinism contract every sampling
    * operator in this repo follows, applied to an iterative numeric
    * kernel. (Float PageRank sums diverge in the last ulp across
    * reduction orders, which a value-hash gate cannot tolerate.)
    *
    * Semantics pinned by the gate:
    *  - edges are de-duplicated and self-loops dropped;
    *  - node set = sources ∪ destinations;
    *  - per-round: rank'(v) = scale·(dampDen−dampNum)/dampDen
    *      + (dampNum · Σ_{(u,v)∈E} (rank(u) div outdeg(u))) div dampDen;
    *  - dangling nodes (no out-edges) keep the teleport term and their
    *    mass is NOT redistributed — one aggregate cheaper per round,
    *    and the floor-truncated mass loss is irrelevant for RANKING,
    *    which is what curation uses (the classic redistribution variant
    *    changes scores, not order, on link graphs without huge sinks).
    *
    * Scale: edge table is checkpointed once with outdeg denormalized
    * onto it (the join to outdeg happens once, not per round); each
    * round is a shuffle of the rank table on node (to meet edges on
    * src) plus the contribution aggregation on dst. Lineage is cut per
    * round exactly like [[Dedup.clustersScoped]] (localCheckpoint +
    * stats re-wrap). Rounds are fixed-count, not convergence-probed:
    * curation wants a reproducible snapshot artifact, and fixed `iters`
    * keeps engine and oracle in lockstep.
    *
    * Output: (node, rank) — `rank` the scaled BIGINT after `iters`
    * rounds.
    */
  def pageRank(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 6, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    pageRankScoped(edgesIn, srcCol, dstCol, iters, scale, dampNum, dampDen).df

  /** [[pageRank]] with an explicit storage lifecycle: the returned
    * [[Dedup.Scoped]]'s `release()` frees the final rank table's
    * localCheckpoint blocks. The convenience overload leaks exactly one
    * final-table copy until JVM exit — fine for a one-shot job, NOT for
    * daemonized batch cadence (checkpointTracked's contract); callers
    * on a loop must use this variant, mirroring
    * [[Dedup.clustersScoped]]. */
  def pageRankScoped(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 6, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): Dedup.Scoped = {
    val e0 = edgesIn
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct().withColumn("w", lit(1L))
    pageRankCore(e0, iters, scale, dampNum, dampDen)
  }

  /** Weighted PageRank: multi-edges aggregate to an integer weight per
    * (src, dst) (e.g. handoff FREQUENCY, not mere existence) and each
    * source's rank splits proportionally — contribution
    * floor(rank·w / W) computed overflow-free as
    * (rank div W)·w + ((rank mod W)·w) div W (rank·w alone would
    * overflow BIGINT at corpus scale: rank ≤ N·scale ~ 1e16, w ~ 1e4).
    * Same exact-integer replayability contract as [[pageRank]]. */
  def pageRankWeighted(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 6, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    pageRankWeightedScoped(edgesIn, srcCol, dstCol, iters, scale,
      dampNum, dampDen).df

  /** [[pageRankWeighted]] with the release lifecycle of
    * [[pageRankScoped]]. */
  def pageRankWeightedScoped(edgesIn: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 6, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): Dedup.Scoped = {
    val e0 = edgesIn
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    pageRankCore(e0, iters, scale, dampNum, dampDen)
  }

  private def pageRankCore(e0: DataFrame, iters: Int, scale: Long,
      dampNum: Long, dampDen: Long): Dedup.Scoped = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen && scale > 0)
    // per-round checkpoint re-wrap through the internal-row bridge —
    // the public createDataFrame(cp.rdd, schema) form deserialized
    // every InternalRow to an external Row and serialized it straight
    // back on every downstream read (round 15, same fix as
    // Dedup.clustersScoped)
    def checkpointCut(df: DataFrame): (DataFrame, () => Unit) = {
      val (cp, rel) = Dedup.checkpointTracked(df)
      (org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
        df.sparkSession, cp.queryExecution.toRdd, df.schema), rel)
    }
    // The two LOOP-INVARIANT tables are laid out ONCE onto their loop
    // join key and that layout is DECLARED to the planner
    // (Dedup.partitionedCheckpointCut, size-derived width) — a plain
    // localCheckpoint loses outputPartitioning, so every round
    // re-exchanged the EDGE table (the big side: at graph scale edges ≫
    // nodes) just to join the round's rank table (round 15, guide §2.4:
    // iters×edge-shuffle → 1×). The out-weight rides on the edge table
    // so the per-round join is edges ⋈ ranks only.
    val (edges, releaseEdges) = Dedup.partitionedCheckpointCut(
      e0.join(e0.groupBy("src").agg(sum(col("w")).as("wsum")), Seq("src")),
      Seq("src"))
    val (nodes, releaseNodes) = Dedup.partitionedCheckpointCut(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct(),
      Seq("node"))
    val teleport = scale / dampDen * (dampDen - dampNum) +
      scale % dampDen * (dampDen - dampNum) / dampDen // exact floor of scale·(1−d)
    var (ranks, releaseRanks) = checkpointCut(
      nodes.withColumn("rank", lit(scale)))
    try {
      for (_ <- 1 to iters) {
        // SHUFFLE_HASH on the rank side: the hash build is the node
        // table; the default sort-merge SORTED THE EDGE SIDE every
        // round (the labelPropagation round-12 lesson, never applied
        // here until round 15). Edge side: declared layout, no
        // exchange, no sort — it streams from the checkpoint blocks.
        val contrib = edges
          .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
            Seq("src"))
          .select(col("dst").as("node"),
            // exact floor(rank·w / wsum), overflow-free (scaladoc above)
            expr("(rank DIV wsum) * w + ((rank % wsum) * w) DIV wsum").as("m"))
          .groupBy("node").agg(sum(col("m")).as("m"))
        val next = nodes
          .join(contrib.hint("shuffle_hash"), Seq("node"), "left")
          .select(col("node"),
            (lit(teleport) +
              expr(s"($dampNum * coalesce(m, 0L)) DIV $dampDen")).as("rank"))
        val (cp, rel) = checkpointCut(next)
        releaseRanks(); ranks = cp; releaseRanks = rel
      }
      Dedup.Scoped(ranks, releaseRanks)
    } finally {
      releaseEdges(); releaseNodes()
    }
  }

  /** Persisted link-graph store — the same blind-append / read-side-
    * dedup contract as every other corpus artifact store in this repo
    * (BM25 postings, LM counts, HLL registers, heavy-hitters:
    * [[FreqStore]] is the template). A crawl batch appends its edge
    * counts once; authority is then re-ranked from the store without
    * rescanning any corpus batch.
    *
    * Layout: one parquet table (src, dst, w, batch_id) where w is the
    * batch's exact multi-edge count for the (src, dst) pair — counts,
    * not raw edges, so a RETRIED batch (same batch_id written twice) is
    * neutralized by (src, dst, batch_id) dedup on read without
    * destroying genuine multi-edge weight, exactly the LM-store ruling.
    * Null endpoints and self-loops are dropped at write time (both rank
    * variants drop them anyway; storing them would only inflate the
    * store). Merge is an integer sum per (src, dst) — associative,
    * partition-order-free, replayable in SQL. */
  def appendEdges(edges: DataFrame, srcCol: String, dstCol: String,
      path: String, batchId: String): Unit =
    StoreCompaction.append(edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .withColumn("batch_id", lit(batchId)), path)

  /** Merged (src, dst, w) multi-edge counts from the store — identical
    * to what one aggregation over the concatenated raw batches would
    * produce, at the cost of (pairs × batches) rows instead of a corpus
    * rescan. */
  def readEdges(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    StoreCompaction.readVisible(spark, path)
      .dropDuplicates("src", "dst", "batch_id")
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))

  /** Compact the edge store into one generation of MERGED (src, dst, w)
    * rows — exactly [[readEdges]]' replay-collapse + sum, so reads are
    * value-identical — bounding listing and dedup cost at daemon-
    * cadence append counts ([[StoreCompaction]] protocol). */
  def compactEdges(spark: org.apache.spark.sql.SparkSession, path: String,
      targetPartitions: Int = 1): Long =
    StoreCompaction.compact(spark, path, (df, cmpId) =>
      df.dropDuplicates("src", "dst", "batch_id")
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = targetPartitions)

  /** PageRank served FROM the store: bit-identical to running
    * [[pageRank]] (`weighted = false`) or [[pageRankWeighted]] (`true`)
    * over the union of every appended batch's raw edges — the two-batch
    * = one-shot equivalence GraphStoreSpec pins — because the stored
    * per-batch counts sum to exactly the one-shot multi-edge counts and
    * both rank kernels are integer-exact. */
  def rankWithStore(spark: org.apache.spark.sql.SparkSession, path: String,
      weighted: Boolean = false, iters: Int = 6,
      scale: Long = 1000000000000L, dampNum: Long = 85,
      dampDen: Long = 100): DataFrame =
    rankWithStoreScoped(spark, path, weighted, iters, scale,
      dampNum, dampDen).df

  /** [[rankWithStore]] with the release lifecycle of
    * [[pageRankScoped]]. */
  def rankWithStoreScoped(spark: org.apache.spark.sql.SparkSession,
      path: String, weighted: Boolean = false, iters: Int = 6,
      scale: Long = 1000000000000L, dampNum: Long = 85,
      dampDen: Long = 100): Dedup.Scoped = {
    val e = readEdges(spark, path)
    val e0 = if (weighted) e else e.select(col("src"), col("dst"))
      .withColumn("w", lit(1L))
    pageRankCore(e0, iters, scale, dampNum, dampDen)
  }

  /** Synchronous label propagation (Raghavan et al. 2007), made fully
    * deterministic: labels start as node ids; each round every node
    * adopts the most frequent label among its neighbors with the tie
    * broken by smallest label (a TOTAL order — count DESC, label ASC —
    * so engines and re-runs agree bit-for-bit), for a FIXED round
    * count. Curation use: near-dup/link communities finer than
    * connected components ([[Dedup.clusters]] merges everything
    * reachable; LPA splits weakly-joined regions), reproducible because
    * the round count is part of the artifact's contract — the classic
    * async/random LPA is deliberately NOT what this is.
    *
    * Per round: one join of the label table onto the symmetrized edge
    * list + one (node, label) count + one per-node argmax window
    * (small groups — a node's distinct neighbor labels), lineage cut
    * per round like [[pageRankCore]]. Output: (node, community) after
    * `iters` rounds.
    */
  def labelPropagation(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 4): DataFrame =
    labelPropagationScoped(edgesIn, srcCol, dstCol, iters).df

  /** [[labelPropagation]] with the release lifecycle of
    * [[pageRankScoped]]: `release()` frees the final label table's
    * checkpoint blocks. */
  def labelPropagationScoped(edgesIn: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 4): Dedup.Scoped = {
    require(iters >= 1)
    // internal-row bridge re-wrap (round 15, see pageRankCore)
    def checkpointCut(df: DataFrame): (DataFrame, () => Unit) = {
      val (cp, rel) = Dedup.checkpointTracked(df)
      (org.apache.spark.sql.graftbridge.DatasetBridge.fromInternalRows(
        df.sparkSession, cp.queryExecution.toRdd, df.schema), rel)
    }
    val fwd = edgesIn
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // loop-invariant edge table laid out ONCE onto the round join key
    // (b) with the layout DECLARED (size-derived width) — a plain
    // checkpoint re-exchanged the edge table every round to meet the
    // join's distribution (round 15, guide §2.4; see pageRankCore).
    // Symmetrized via ONE Generate, not a self-union (round 15): the
    // union form read the caller's edge pipeline twice.
    val (edges, releaseEdges) = Dedup.partitionedCheckpointCut(
      fwd.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct(), Seq("b"))
    var (labels, releaseLabels) = checkpointCut(
      edges.select(col("a").as("node")).distinct()
        .withColumn("label", col("node")))
    try {
      for (_ <- 1 to iters) {
        // SHUFFLE_HASH on the label side: the hash build is the node
        // table (16 B/node per partition); Catalyst's default sort-merge
        // SORTED THE EDGE SIDE every round — at the 2·10⁸-edge skew
        // probe that was ~10 GiB re-sorted 4×, the entire 110 GiB spill
        // (SCALE.md round 12). The edge side now streams unsorted.
        val votes = edges
          .join(labels.select(col("node").as("b"), col("label"))
            .hint("shuffle_hash"), Seq("b"))
          .groupBy(col("a").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
        // per-node argmax (max count, tie → smallest label) as an
        // ASSOCIATIVE aggregate: max(struct(c, −label)) — partial-agg
        // combines map-side and no task ever holds a node's whole
        // neighborhood label set. The former row_number window sorted a
        // HUB's ~10⁷ distinct neighbor labels in ONE task — the X=1000
        // skew probe ran 13×/10× and OOM'd a 48 GiB heap before this
        // (SCALE.md round 12); same total order, value-identical
        // (q_label_prop oracles unchanged).
        val next = votes
          .groupBy("node")
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("label"))
        val (cp, rel) = checkpointCut(next)
        releaseLabels(); labels = cp; releaseLabels = rel
      }
      Dedup.Scoped(
        labels.select(col("node"), col("label").as("community")),
        releaseLabels)
    } finally releaseEdges()
  }

  /** Per-node triangle counts over an undirected graph — the local
    * clustering signal crawl curation uses to separate organic link
    * neighborhoods from link-farm cliques (and the classic bounded
    * multi-way self-join: the one query shape where naive composition
    * is O(m·n) and the right orientation makes it O(m^1.5)).
    *
    * Degree-ordered orientation (Cohen 2009; Suri & Vassilvitskii
    * 2011): each undirected edge points from its (degree, id)-smaller
    * endpoint to the larger, so every triangle is generated by exactly
    * ONE wedge at its smallest vertex and the wedge intermediate is
    * Σ_u outdeg(u)² = O(m^1.5) regardless of skew — a star's hub gets
    * outdegree ~0 because the orientation points INTO high-degree
    * nodes, which is the whole trick; orienting by id alone would give
    * the hub m wedges. Plan: degrees (one agg) ride onto the edge
    * table, wedges are an equi-join of the oriented adjacency with
    * itself on the source, and closure is one more equi-join of the
    * wedge's (v, w) against the oriented edge set. Counts are exact
    * integers; no orientation leaks into the RESULT (triangles are
    * orientation-invariant), which is what lets the DuckDB oracle use
    * the simpler id-canonical 3-way join.
    *
    * Output: (node, tri) — triangles each node participates in;
    * nodes with zero triangles are absent.
    */
  def triangleCounts(edgesIn: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edgesIn
      .select(least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // (deg, id)-lexicographic orientation: u -> v iff rank(u) < rank(v)
    val ranked = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = ranked.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv"))
    // wedge at u between its two larger-ranked neighbors, ends ordered
    // by the SAME rank so the closing edge's orientation is known
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = e1.join(e2, Seq("u"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val triangles = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    triangles
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
  }

  /** The gate's edge derivation: a "handoff" graph over the events
    * stream — within each (event_type, day) stream ordered by event_id,
    * an edge from each event's user to the next event's user. Windowed
    * per type-day (not a global sort): the partition count scales with
    * the time span, the standard way a 100 TB event log derives a
    * session graph without a single-task ORDER BY. */
  def eventHandoffEdges(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"), to_date(col("ts")))
      .orderBy(col("event_id"))
    events.select(col("user_id").as("src"),
        lead(col("user_id"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull && col("dst") =!= col("src"))
  }
}
