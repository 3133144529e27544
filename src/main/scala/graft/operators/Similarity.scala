package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (builder brief). Two paths:
  *
  *  - `bruteForceTopK`: exact cosine top-k — one codegen'd map over the
  *    table + `TakeOrderedAndProject` (no full sort, no wide shuffle).
  *    The baseline and the verifier for the approximate path.
  *  - `ivfTopK`: IVF-style two-phase search — k-means-free variant using
  *    deterministic hyperplane LSH cells: probe only the query's cell (and
  *    neighbors at `nprobe` hamming distance). At 100 TB the cell column
  *    is a partition/bucketing key, so a probe touches a small slice of
  *    the data.
  */
object Similarity {

  /** Exact top-k by cosine against a literal query vector. */
  def bruteForceTopK(embs: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = typedLit(query)
    embs.select(col(idCol),
        VectorFunctions.cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Int8 scalar-quantized corpus: adds `qvec` (unit-normalized, scaled
    * to ±127, stored as bytes). At 100 TB this is the column a serving
    * index materializes instead of the float embedding — 4× less scan
    * IO and shuffle, and the scan kernel becomes exact integer
    * arithmetic ([[quantizedTopK]]). Quantization is deterministic
    * (fixed IEEE op sequence), so like the LSH cells it is
    * batch-appendable: a re-quantized batch always matches the store. */
  def withQuantized(embs: DataFrame, vecCol: String,
      outCol: String = "qvec"): DataFrame =
    embs.withColumn(outCol, VectorFunctions.quantizeI8(col(vecCol)))

  /** Seeded ±1 random projection (sign-matrix Johnson–Lindenstrauss,
    * Achlioptas 2003): `dim`-d embeddings shrink to `outDim` components,
    * each the native-codegen double-fold dot of the vector with a
    * data-independent ±1 hyperplane, rounded to float. The 100 TB
    * PREPROCESSING move: a wide embedding column shrinks (e.g. 64→16:
    * 4× less shuffle/cache/scan weight for every downstream ANN, LSH
    * and clustering pass) while approximately preserving cosine order
    * (JL lemma). Planes are seeded splitmix64 — every executor, retry
    * and the SQL oracle regenerate the SAME matrix, so the projection
    * is a pure map: no exchange, no broadcast, nothing to persist. */
  def randomProject(embs: DataFrame, vecCol: String, dim: Int, outDim: Int,
      seed: Long = 7L, outCol: String = "proj"): DataFrame = {
    require(dim > 0 && outDim > 0 && outDim <= dim)
    val planes = graft.functions.Hashing.hyperplanes(outDim, dim, seed)
    val comps = planes.map { p =>
      VectorFunctions.dot(col(vecCol), typedLit(p.map(_.toFloat).toSeq))
        .cast("float")
    }
    embs.withColumn(outCol, array(comps: _*))
  }

  /** Driver-side twin of [[randomProject]] for probe vectors — the same
    * i-ascending double fold and float rounding, so a projected query
    * compares bit-identically against the projected column. */
  def projectOne(vec: Seq[Float], dim: Int, outDim: Int,
      seed: Long = 7L): Array[Float] = {
    val planes = graft.functions.Hashing.hyperplanes(outDim, dim, seed)
    planes.map { p =>
      var dot = 0.0
      var i = 0
      val n = math.min(vec.length, p.length)
      while (i < n) { dot += vec(i).toDouble * p(i); i += 1 }
      dot.toFloat
    }
  }

  /** Top-k by integer dot product over int8-quantized vectors — the
    * quantized twin of [[bruteForceTopK]]. Because corpus and query are
    * unit-normalized BEFORE quantization, every norm is ≈127 and the
    * integer dot is a monotone cosine estimate — ranking needs no float
    * division, ties break on id, and the whole scan stays in exact
    * integer arithmetic (deterministic across engines; the recall gate
    * pins what the ±1/254 coordinate error may cost vs exact cosine).
    * Same plan shape as the exact scan: one codegen map +
    * TakeOrderedAndProject, no wide shuffle. */
  def quantizedTopK(embs: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val qq = org.apache.spark.sql.graftnative.FloatVecQuantizeI8.quantize(query)
    val q = typedLit(qq.toSeq)
    embs.select(col(idCol),
        VectorFunctions.dotI8(VectorFunctions.quantizeI8(col(vecCol)), q)
          .as("score_q"))
      .orderBy(col("score_q").desc, col(idCol).asc)
      .limit(k)
  }

  /** Assign each row its LSH cell (precompute once, reuse across queries —
    * in a real pipeline this is written as a bucketed/partitioned column). */
  def withCell(embs: DataFrame, vecCol: String, bits: Int, dim: Int = 64): DataFrame = {
    val planes = graft.functions.Hashing.hyperplanes(bits, dim)
    // native codegen signature (≤32 planes ≡ lshCell); int cell keeps
    // the persisted-index partition column type stable
    embs.withColumn("cell",
      VectorFunctions.lshSig(col(vecCol), planes).cast("int"))
  }

  /** Approximate top-k: search only cells within `nprobe` hamming distance
    * of the query's cell. Partition-prunes to a fraction ~(choose(bits,
    * ≤nprobe))/2^bits of the data. */
  def ivfTopK(embsWithCell: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, bits: Int, nprobe: Int = 1, dim: Int = 64): DataFrame = {
    val planes = graft.functions.Hashing.hyperplanes(bits, dim)
    val queryCell = graft.functions.Hashing.lshCell(query, planes)
    val q = typedLit(query)
    embsWithCell
      .where(call_function("bit_count",
        col("cell").bitwiseXOR(lit(queryCell))) <= nprobe)
      .select(col(idCol), VectorFunctions.cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF with LEARNED cells — the classic k-means coarse quantizer
    * (trained via [[Clustering.trainI8]] in the exact-integer int8
    * domain), complementing the data-independent hyperplane cells of
    * [[ivfTopK]]: learned cells adapt to the corpus distribution
    * (tighter cells where vectors are dense → better recall at the same
    * probe fraction), at the cost of the LSH variant's blind-append
    * property — a retrained quantizer re-partitions the index, exactly
    * the trade a production IVF schedules as periodic reindexing. At
    * 100 TB the `cluster` column is written as the partition key (same
    * layout as [[appendIndex]]), so the nprobe cells prune at
    * file-listing time; probe routing is k·dim bytes of driver math. */
  def ivfKmeansTopK(embs: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, cells: Int, nprobe: Int,
      iters: Int = 2): DataFrame = {
    require(nprobe > 0 && nprobe <= cells, s"nprobe=$nprobe cells=$cells")
    val centroids = Clustering.trainSphericalI8(embs, vecCol, idCol,
      cells, iters, Clustering.SeedFarthest)
    val qq = org.apache.spark.sql.graftnative.FloatVecQuantizeI8.quantize(query)
    // route the probe by max dot — the same rule the index rows used
    val probeCells = centroids.zipWithIndex
      .map { case (c, cid) =>
        var dot = 0L; var i = 0
        val n = math.min(qq.length, c.length)
        while (i < n) { dot += qq(i).toLong * c(i).toLong; i += 1 }
        (-dot, cid)
      }
      .sorted.take(nprobe).map(_._2)
    val assigned = Clustering.assignSphericalI8(embs, vecCol, centroids)
    bruteForceTopK(
      assigned.where(col("cluster").isin(probeCells: _*))
        .drop("cluster", "score_q"),
      vecCol, idCol, query, k)
  }

  /** Persist an ANN index: cell assignments written as a PARTITIONED
    * lake table (`.../cell=N/...`), so a probe's cell predicate prunes
    * whole directories at file-listing time — the strongest form of
    * data skipping Spark has. Because cells are data-INDEPENDENT
    * (seeded hyperplanes, not k-means), the index is incrementally
    * appendable: a new batch gets identical cell assignments no matter
    * what is already stored — each batch is a blind append (no
    * read-modify-write; batches commit independently), the same
    * contract as the dedup band store. */
  def appendIndex(newEmbs: DataFrame, path: String, vecCol: String,
      bits: Int, dim: Int = 64): Unit =
    StoreCompaction.append(withCell(newEmbs, vecCol, bits, dim), path,
      partitionBy = Seq("cell"))

  /** Query a persisted index: the nprobe hamming ball over the `cell`
    * partition column prunes partitions during listing, so the scan
    * touches only ~(Σ_{i≤nprobe} C(bits,i))/2^bits of the files. Result
    * is identical to [[ivfTopK]] over the same rows (the gate pins it).
    * Ids are deduped first: [[appendIndex]] is a blind append, so a
    * RETRIED batch leaves duplicate rows — without the dedup each
    * duplicate would occupy a top-k slot and evict a real neighbor. The
    * dedup shuffles only the pruned hamming-ball slice, not the index. */
  def queryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String, idCol: String, query: Seq[Float], k: Int,
      bits: Int, nprobe: Int = 1, dim: Int = 64): DataFrame =
    ivfTopK(StoreCompaction.readVisible(spark, path).dropDuplicates(idCol),
      vecCol, idCol, query, k, bits, nprobe, dim)

  /** Compact the persisted ANN index: appended batches rewrite into
    * one generation, pre-collapsed with the read's retry dedup (one
    * row per id) and RE-PARTITIONED ON `cell` — the hamming-ball
    * partition pruning [[queryIndex]] lives on is preserved, while
    * file count and the read-side dropDuplicates input stop growing
    * with appends. Value-identical reads before/after; crash-safe at
    * every point ([[StoreCompaction]]). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, targetPartitions: Int = 1): Long =
    StoreCompaction.compact(spark, path, (df, _) => df.dropDuplicates(idCol),
      partitionColumns = Seq("cell"), targetPartitions = targetPartitions)

  /** All-pairs top-k per probe row against a (small, broadcastable) probe
    * set — broadcast-join + window rank; the bulk side never shuffles. */
  def batchTopK(embs: DataFrame, vecCol: String, idCol: String,
      probes: DataFrame, probeVecCol: String, probeIdCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = embs.crossJoin(broadcast(
        probes.select(col(probeIdCol).as("probe_id"), col(probeVecCol).as("probe_vec"))))
      .select(col("probe_id"), col(idCol),
        VectorFunctions.cosine(col(vecCol), col("probe_vec")).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    joined.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  /** EXACT kNN graph — every row's top-k neighbors by cosine. Inherently
    * all-pairs (O(n²)); the correctness baseline and the verifier for
    * [[selfTopKLsh]], viable to ~10⁵ rows. Output: (id1, id2, rank,
    * score). Ties break on id2 so results are total-order deterministic. */
  def selfTopK(embs: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = embs.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val r = embs.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    val w = Window.partitionBy(col("id1"))
      .orderBy(col("score").desc, col("id2").asc)
    l.crossJoin(r).where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        VectorFunctions.cosine(col("v1"), col("v2")).as("score"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("id1"), col("id2"), col("rank").cast("long").as("rank"),
        col("score"))
  }

  /** Corpus-size-aware LSH bit count: bits = clamp(bitlen(n) − 6, 3, 24),
    * i.e. the smallest b keeping expected cell density n/2ᵇ in [32, 64).
    * Constant density is what makes [[selfTopKLsh]] linear in n: candidate
    * pairs per table ≈ n·density/2, so doubling the corpus adds one bit
    * instead of doubling every cell. Pure integer arithmetic
    * (no float log2) so the inlined DuckDB oracle — `length(bin(n)) - 6`
    * — computes the identical value at every scale, keeping the gate
    * replayable without pinning bits to one corpus size. Floor 3 matches
    * the historical small-corpus setting; cap 24 keeps the cell id inside
    * the packed (table << 32 | cell) key with headroom (a 2²⁴-cell table
    * serves ~10⁹ rows at target density; beyond that raise `tables`).
    *
    * CALLER CONTRACT: `n` need only be order-of-magnitude right (a ±2×
    * error moves bits by one), so take it from the CHEAPEST available
    * source — the raw table's metadata count, a catalog estimate, or a
    * caller parameter — NEVER by counting a frame downstream of an
    * expensive map (media decode, embedding): that forces a full extra
    * pass over the corpus just to size a hash table. */
  def lshBitsFor(n: Long): Int =
    math.max(3, math.min(24, 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L)) - 6))

  /** The L packed LSH cell keys of a vector as ONE array column —
    * table t's key is (t << 32 | cell) over seeded hyperplanes
    * (seed 42+t), computed in a single native-codegen vector pass.
    * THE shared cell geometry: [[selfTopKLsh]] explodes it for
    * one-shot pairing and [[NearDupStore.write]] persists it, so a
    * stored batch co-cells with a one-shot run bit-for-bit — the
    * property that makes the store blind-appendable. */
  private[operators] def cellKeyArray(vec: Column, bits: Int, tables: Int,
      dim: Int): Column = {
    val allPlanes = Array.tabulate(tables)(t =>
      graft.functions.Hashing.hyperplanes(bits, dim, 42L + t))
    array((0 until tables).map(t =>
      lit(t.toLong << 32)
        .bitwiseOR(VectorFunctions.lshSig(vec, allPlanes(t)))): _*)
  }

  /** Undirected candidate pairs (id1 < id2, PRE-distinct) from an
    * exploded (cellkey, id) table — the pairing kernel shared by
    * [[selfTopKLsh]] (one-shot) and [[NearDupStore.pairs]]
    * (incremental), factored so the two can never diverge: store-served
    * candidates are defined as THIS function over the store's cell
    * view. maxCell ≤ 0 keeps exact all-pairs per cell; otherwise hot
    * cells (> maxCell members) switch to id-ordered sliding-window
    * pairing (see [[selfTopKLsh]]'s cap scaladoc). Join-strategy pins
    * (MERGE on the self-joins) are part of the kernel — see the inline
    * reasoning. */
  private[graft] def cellPairs(celled: DataFrame, idCol: String,
      maxCell: Int, hotWindow: Int,
      broadcastSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (maxCell <= 0) {
      // join strategy must NOT come from Catalyst's estimate: an
      // upstream scan of a small file (or a generator) makes it
      // garbage-tiny and one side of a multi-GiB exploded cell table
      // gets statically broadcast (a driver collect at probe scale).
      // The CALLER decides from its own corpus estimate: a genuinely
      // small cell table broadcasts (no exchange at all — the pre-pin
      // plan small corpora used to get); otherwise sort-merge, which
      // spills gracefully where a hash build cannot.
      val l = celled.select(col("cellkey"), col(idCol).as("id1"))
      val r = celled.select(col("cellkey"), col(idCol).as("id2"))
      l.join(if (broadcastSelf) broadcast(r) else r.hint("merge"),
          Seq("cellkey"))
        .where(col("id1") < col("id2"))
        .select("id1", "id2")
    } else {
      // SINGLE-PASS hot/cold form (round 16, guide §2.4): one exchange,
      // one sort, ONE window evaluation emits both regimes. The former
      // two-branch shape re-evaluated the count-window subtree three
      // times above the shared exchange (the cold self-join read it as
      // BOTH join sides, the hot branch once more) and paid the cold
      // SMJ's per-branch re-sorts; here every row carries its next
      // max(maxCell−1, hotWindow) in-cell ids as ONE bounded sliding-
      // frame collect_list — a cold row (cell size cn ≤ maxCell)
      // explodes the whole array (= its cn−rn followers, exactly the
      // all-pairs set, emitted once from the smaller side), a hot row
      // its first hotWindow entries — so the self-join disappears
      // outright. ONE aggregate over a ≤capN-row frame, NOT capN
      // separate lead() expressions: Spark 4 builds one
      // OffsetWindowFunctionFrame (with a codegen'd projection) PER
      // lead PER partition group, and a 47-lead variant measured
      // minutes of pure frame-construction CPU on thousands of cells.
      // Per-row cost is O(maxCell) buffer appends, a constant; hot
      // cells stay O(m·hotWindow) rows out, same as before. Candidate
      // SET is pinned identical to the two-branch form
      // (CellPairsParitySpec; both consumers distinct() the output, so
      // set semantics are the unit). The `id2 > id1` guard applies to
      // cold rows only — mirroring the old strict `<` join predicate on
      // tie ids — while hot rows keep the old windowed semantics.
      val capN = math.max(maxCell - 1, hotWindow)
      val wOrd = Window.partitionBy(col("cellkey")).orderBy(col(idCol))
      val wAll = Window.partitionBy(col("cellkey"))
        .orderBy(col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      celled
        .withColumn("cn", count(lit(1)).over(wAll))
        .withColumn("nbrs", collect_list(col(idCol))
          .over(wOrd.rowsBetween(1, capN)))
        .select(col(idCol).as("id1"), col("cn"),
          explode(when(col("cn") <= maxCell, col("nbrs"))
            .otherwise(slice(col("nbrs"), 1, hotWindow))).as("id2"))
        .where(col("cn") > maxCell || col("id2") > col("id1"))
        .select("id1", "id2")
    }
  }

  /** kNN graph at scale: multi-table LSH — `tables` independent cell
    * hashings (seeded hyperplane sets); a pair is a candidate if it
    * co-cells in ANY table (single-table recall ≈ (1-θ/π)^bits per
    * neighbor, so L tables lift it to 1-(1-p)^L). Every join is an
    * equi-join on (table's) cell key — shuffle bounded by cell
    * cardinality, never all-pairs; candidates carry only (id1, id2)
    * until the dedup, and vectors re-attach for one fused-cosine pass.
    * Recall/cost knobs: fewer bits = bigger cells = more candidates =
    * higher recall; SimilaritySpec pins the floor vs [[selfTopK]].
    * Rows sharing no cell with anyone emit nothing.
    *
    * Hot-cell candidate bound (the `maxCell`/`hotWindow` knobs):
    * [[lshBitsFor]] holds the EXPECTED cell density constant, but a
    * near-duplicate cluster (X replicas of one document's vector)
    * co-cells in EVERY table at any bit count — its candidate
    * contribution is O(m²) per table, which is what turned the 100×
    * probe super-linear (replica clusters of m=100 → 10⁴ pairs each).
    * With `maxCell > 0`, cells at or below the threshold keep the exact
    * all-pairs join; a hot cell (> maxCell members) switches to
    * id-ordered sliding-window pairing — each member pairs with the
    * next `hotWindow` members — so its contribution is O(m·hotWindow),
    * linear, while the cluster stays CONNECTED (a chain of near-dup
    * edges; with the post-score mirror each hot row still sees
    * 2·hotWindow candidates ≥ 2k for the default k=5). Deterministic
    * (ordered by id) and SQL-replayable (count/row_number/lead over the
    * cell partition), so the capped shape is value-gateable.
    * `maxCell = 0` (default) keeps the historical exact-union
    * semantics. Set maxCell ≥ ~4× the [32,64) target density so only
    * genuine dup clusters take the windowed path. */
  def selfTopKLsh(embs: DataFrame, vecCol: String, idCol: String, k: Int,
      bits: Int, tables: Int = 6, dim: Int = 64,
      maxCell: Int = 0, hotWindow: Int = 8, nRowsHint: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = embs.select(col(idCol), col(vecCol))
    // candidates as UNDIRECTED pairs (id1 < id2): halves the dedup
    // shuffle and the cosine passes; directions are restored by a cheap
    // mirror AFTER scoring (cosine is symmetric).
    // All L cell keys are computed in ONE vector pass ([[cellKeyArray]])
    // and exploded to a packed (table, cell) key, so the L tables cost
    // a single equi-join — the per-table-join form shuffles the corpus
    // L times and strings L+1 stages where one suffices (same candidate
    // set either way: a pair co-cells in table t iff it shares key
    // (t, cell))
    val celled = base.select(col(idCol),
      explode(cellKeyArray(col(vecCol), bits, tables, dim)).as("cellkey"))
    // (Pair-dedup WIDTH was experimented at X=1000 and REJECTED with
    // data — SCALE.md round-14 table: an explicit repartition under the
    // dropDuplicates cut the dedup's hash-map spill 99→63 GiB but sits
    // below the partial-aggregate, so the wire carries RAW pairs, +41%
    // shuffle, and wall never improved. The distinct's residual
    // one-host spill is the LPA adjudication: the working set divides
    // across a real cluster's executors.)
    // BROADCAST GATE: a static broadcast here is only safe when the
    // operator KNOWS the corpus is small, and the only trustworthy
    // source of that is the caller's own count (`nRowsHint`). The
    // no-hint fallback n ≤ 2^(bits+6) is an upper bound ONLY under the
    // [[lshBitsFor]] contract; the API admits caller-chosen small bits
    // (qKnnLshExact passes bits = 0), where the "bound" is fiction and
    // a static broadcast would driver-collect an arbitrarily large
    // corpus. So: no hint → the conservative pinned strategies
    // (shuffle_hash / merge — never broadcast), exactly the pre-r14
    // behavior; the fallback estimate is used for SIZING decisions
    // only, never for broadcast eligibility. Spec-pinned
    // (SimilaritySpec "no-hint floor-bits fallback never broadcasts").
    val nEst = if (nRowsHint > 0) nRowsHint else 1L << math.min(bits + 6, 62)
    val knownSmall = nRowsHint > 0
    val pairs = cellPairs(celled, idCol, maxCell, hotWindow,
      broadcastSelf = maxCell <= 0 && knownSmall &&
        nEst * tables * 24L <= (32L << 20))
      .distinct()
    // vector re-attach, SIZE-AWARE: Catalyst's own estimate is garbage
    // here (the vector side usually sits downstream of a decode/embed
    // UDF over a small file scan — the X=1000 video probe statically
    // "broadcast" a 3.6 GiB side into driver.maxResultSize), so the
    // strategy derives from the operator's OWN corpus estimate —
    // `nRowsHint` when the caller passed its count (the gates all have
    // one); no hint → pinned shuffle_hash (see the broadcast gate
    // above). A KNOWN-small vector table broadcasts — the r13 unconditional
    // SHUFFLE_HASH pin shuffled 2.3M candidate pairs TWICE to join a
    // 20k-row / ~6 MB vector table, a measured 3.3× on q_knn_graph at
    // sf1 — and anything past the 32 MB budget hash-builds per
    // partition, never on the driver.
    val smallVecs = knownSmall && nEst <= (32L << 20) / (4L * dim + 48)
    def vside(d: DataFrame): DataFrame =
      if (smallVecs) broadcast(d) else d.hint("shuffle_hash")
    val scored = pairs
      .join(vside(base.select(col(idCol).as("id1"), col(vecCol).as("v1"))), "id1")
      .join(vside(base.select(col(idCol).as("id2"), col(vecCol).as("v2"))), "id2")
      .select(col("id1"), col("id2"),
        VectorFunctions.cosine(col("v1"), col("v2")).as("score"))
    // post-score mirror via ONE Generate, not a self-union: the union
    // form repeats the scored subtree (pair join + cosine) as two plan
    // branches that exchange differently, so the dominant re-attach +
    // score work ran TWICE (round 15; exchange reuse cannot fuse the
    // swapped projection). explode(array(pair, swapped)) evaluates
    // scored once and emits both directions from the same row.
    val both = scored.select(explode(array(
        struct(col("id1"), col("id2"), col("score")),
        struct(col("id2").as("id1"), col("id1").as("id2"), col("score"))))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        col("p.score").as("score"))
    // THRESHOLD-GRAPH mode (k = MaxValue — every dedup caller: media/
    // audio/video gates filter on score and discard rank): ranking is
    // a full sort of 2·|scored pairs| inside every id1 partition that
    // the consumer throws away — at the X=1000 audio probe that window
    // sort was a leading spill source. Skip it; rank=0 keeps the
    // output schema (no caller reads rank at unbounded k — finite-k
    // kNN callers keep the exact ranked semantics below).
    if (k == Int.MaxValue)
      both.select(col("id1"), col("id2"), lit(0L).as("rank"), col("score"))
    else {
      val w = Window.partitionBy(col("id1"))
        .orderBy(col("score").desc, col("id2").asc)
      both
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("id1"), col("id2"), col("rank").cast("long").as("rank"),
          col("score"))
    }
  }
}
