package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental embedding near-dup STORE — the media analog of the text
  * pipeline's incremental state (the minhash band store of
  * [[Dedup.minhashIncrementalPairs]], reference analog: the loader's
  * resume contract, mydumper `src/myloader/myloader.c:549-557` — never
  * redo work a prior run recorded). Without it, a new video/audio/image
  * crawl batch must re-decode and re-pair the ENTIRE corpus; with it, a
  * new batch decodes and embeds ONLY ITSELF, and pairing against all of
  * history is (id, cellkey) index algebra plus cosine over stored
  * vectors — no old payload byte is ever touched again.
  *
  * Layout under `path` (all parquet, all partitioned by `batch_id`, all
  * BLIND-append — batches commit independently, no read-modify-write):
  *   - `cells/` — (id, cellkey) per table, the exact packed keys
  *     [[Similarity.cellKeyArray]] computes (deterministic seeded
  *     hyperplanes, so a re-embedded batch always reproduces its cells);
  *   - `vecs/`  — (id, vec) once per row (cells duplicate the id
  *     `tables`× at 16 bytes/row; duplicating the VECTOR that much is
  *     the reason for the split);
  *   - `_params` — the `(bits,tables,dim)` record, pinned by the first
  *     write ([[StoreCompaction.pin]]) and REQUIRED to match on every
  *     later write: cells hashed under different params silently never
  *     co-key, so a mixed store would "work" with zero recall — fail
  *     loudly instead.
  *
  * Retried batches (same batch_id written twice) are neutralized on the
  * READ side — `dropDuplicates` over (id, cellkey) / (id) — the same
  * blind-append-plus-read-dedup contract as [[Similarity.appendIndex]]
  * and [[Curation.curateFromStore]].
  *
  * EQUIVALENCE contract (NearDupStoreSpec + the
  * q_media_dedup_incremental gate): candidates are defined by the SAME
  * kernel one-shot uses ([[Similarity.cellPairs]]) over the store's
  * cell view, so
  *   - with no hot-cell cap, `pairs(old) ∪ pairs(new vs store)` equals
  *     the one-shot pair set over the union EXACTLY;
  *   - with a cap, the union of the two runs is a SUPERSET of the
  *     one-shot union run's pairs (an inserted batch can push an old
  *     pair outside the union run's hot window, but the old run already
  *     emitted it), and every emitted pair is score-verified ≥ tau — so
  *     the threshold GRAPH the consumer clusters is at least as
  *     connected as one-shot, never less. Incremental recall ≥ one-shot
  *     recall, which is the direction dedup wants.
  */
object NearDupStore {

  /** Embed-once, append-forever: persist `embs`' (id, vec) and its LSH
    * cell index under `path` as batch `batchId`. The caller pays the
    * decode/embed of THIS batch only; every later [[pairs]] call serves
    * from parquet. `bits`/`tables`/`dim` are fixed at store creation
    * (appends under different params are rejected via `_params`) — size
    * `bits` with [[Similarity.lshBitsFor]] for the ANTICIPATED corpus,
    * not the first batch: cells only get denser as batches land, and a
    * re-bit is a full reindex (same trade as [[Similarity.appendIndex]]). */
  def write(embs: DataFrame, vecCol: String, idCol: String, path: String,
      batchId: String, bits: Int, tables: Int = 8, dim: Int = 64): Unit = {
    require(bits > 0 && tables > 0 && dim > 0 && batchId.nonEmpty)
    // batch ids become hive partition directory names; keeping them in
    // the unescaped charset means `$path/vecs/batch_id=$batchId` is a
    // literal directory we can address directly
    require(batchId.matches("[A-Za-z0-9_.-]+"),
      s"batch_id '$batchId' must be [A-Za-z0-9_.-]+")
    val spark = embs.sparkSession
    val requested = s"($bits,$tables,$dim)"
    val m = StoreCompaction.pin(spark, s"$path/_params", requested)
    require(m == requested,
      s"store at $path was created with (bits,tables,dim)=$m, " +
        s"write requested $requested: cells would never co-key; " +
        "reindex into a fresh store instead")
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("batch_id", lit(batchId))
    StoreCompaction.append(base, s"$path/vecs", partitionBy = Seq("batch_id"))
    // cell index derives from the JUST-WRITTEN vectors, not from `embs`:
    // the vecs write above already ran the caller's decode+embed
    // pipeline once, and running it a second time for the index pass
    // doubles the batch's dominant cost (media decode UDFs). Reading
    // the batch's own partition DIRECTORY touches exactly this batch's
    // files — earlier batches are never listed, let alone read. (A
    // replayed batch_id sees the replay's rows twice here and appends
    // duplicate cells; the read side dedups, same as vecs.) The
    // read-back schema is the one we just wrote (batch_id is the
    // partition dir, not in the files), pinned so no inference job runs.
    val cells = spark.read
      .schema(org.apache.spark.sql.types.StructType(
        base.schema.filter(_.name != "batch_id")))
      .parquet(s"$path/vecs/batch_id=$batchId")
      .select(lit(batchId).as("batch_id"), col("id"),
        explode(Similarity.cellKeyArray(col("vec"), bits, tables, dim))
          .as("cellkey"))
    StoreCompaction.append(cells, s"$path/cells", partitionBy = Seq("batch_id"))
  }

  /** Snapshot read: the store's visible view pinned to the EXPLICIT
    * file list present at construction time (now served by the shared
    * [[StoreCompaction.readVisible]], which also arbitrates compacted
    * generations). A plain `spark.read.parquet(dir)`
    * is a trap for append-style stores: two frames created before and
    * after an append canonicalize EQUAL (same root path), so when both
    * appear in one query — exactly the incremental shape, `pairs(old
    * view) ∪ pairs(new batch)` — exchange reuse silently serves the new
    * frame from the old frame's stale listing (observed: the incremental
    * leg returned 0 rows inside the union while counting 1,212 alone;
    * `spark.sql.exchange.reuse=false` confirmed the mechanism). Listing
    * concrete files makes differing snapshots differ in the PLAN, which
    * both restores correctness and gives every store read a clean
    * contract: "the store as of this DataFrame's construction". */
  private def snapshotRead(spark: SparkSession, dir: String): DataFrame =
    StoreCompaction.readVisible(spark, dir, pinLiveFiles = true)

  /** Compact both store tables (cells, vecs): accrued batch partitions
    * rewrite into one generation each, pre-collapsed with exactly the
    * read side's retry dedup — (id, cellkey) / (id) — so [[cells]],
    * [[vecs]] and therefore [[pairs]] are value-identical before and
    * after, while listing cost and the read-side dropDuplicates input
    * stop growing with batch count. batch_id survives as a data column
    * (batch-scoped [[pairs]] replays still work); new batches keep
    * appending as root partitions until the next compaction. The two
    * tables compact independently (each step is crash-safe on its own,
    * [[StoreCompaction]]); `_params` is a single record and never
    * compacts. */
  def compact(spark: SparkSession, path: String,
      targetPartitions: Int = 1): Unit = {
    StoreCompaction.compact(spark, s"$path/cells", (df, _) =>
      df.dropDuplicates("id", "cellkey"),
      targetPartitions = targetPartitions)
    StoreCompaction.compact(spark, s"$path/vecs", (df, _) =>
      df.dropDuplicates("id"),
      targetPartitions = targetPartitions)
  }

  /** The store's cell index, read-side deduped (retried batches).
    * Columns: (batch_id, id, cellkey). */
  def cells(spark: SparkSession, path: String): DataFrame =
    snapshotRead(spark, s"$path/cells")
      .dropDuplicates("id", "cellkey")

  /** The store's vectors, read-side deduped. Columns: (batch_id, id,
    * vec). Same-id rows across batches are a caller contract violation
    * (an id embeds once); the dedup exists for RETRIED batches, where
    * every duplicate carries the identical vector. */
  def vecs(spark: SparkSession, path: String): DataFrame =
    snapshotRead(spark, s"$path/vecs").dropDuplicates("id")

  /** Near-dup pairs served entirely FROM the store — no decode, no
    * embedding, no payload access: candidate generation is
    * [[Similarity.cellPairs]] (the one-shot kernel) over the stored
    * cell index, scoring is cosine over stored vectors.
    *
    *  - `newBatchId = None`: pairs over the whole store view — the
    *    one-shot shape, replayed from parquet.
    *  - `newBatchId = Some(b)`: INCREMENTAL — only cells containing a
    *    batch-`b` row participate (a left-semi prune of the index: cost
    *    scales with the new batch's cell footprint, not the corpus),
    *    window counts/neighbor order are computed over those cells'
    *    FULL membership (so capped candidates match what a one-shot
    *    over the union would generate for those cells), and only pairs
    *    touching a batch-`b` id are returned (old-old pairs were the
    *    PREVIOUS runs' job — emitting them again would double work
    *    batch after batch).
    *  - `batches = Some(bs)`: restrict the store view to those batches
    *    (replay "the store as of batch k" for audits/backfills).
    *
    * Output: undirected (id1 < id2) — (id1, id2, score) with score ≥
    * `tau`. Downstream is the same as one-shot media dedup: threshold
    * graph → [[Dedup.clusters]]. */
  def pairs(spark: SparkSession, path: String, tau: Double,
      maxCell: Int = 48, hotWindow: Int = 8,
      newBatchId: Option[String] = None,
      batches: Option[Seq[String]] = None): DataFrame = {
    // ONE snapshot serves every read in this call (raw scoping probes
    // and the pairing view must agree on the file set); batch_id
    // predicates partition-prune it; the retry-neutralizing
    // dropDuplicates runs once, on the SCOPED slice, and must sit
    // BEFORE the pairing kernel (duplicate (id, cellkey) rows would
    // corrupt the hot-cell window counts)
    val raw = snapshotRead(spark, s"$path/cells")
    val view = batches match {
      case Some(bs) => raw.where(col("batch_id").isin(bs: _*))
      case None     => raw
    }
    val scopedRaw = newBatchId match {
      case None => view.select("id", "cellkey")
      case Some(b) =>
        // touched cells: every member (any batch) of any cell the new
        // batch occupies — full membership is what keeps the capped
        // window/count semantics identical to a one-shot over the union
        val newKeys = raw.where(col("batch_id") === b)
          .select("cellkey").distinct()
        view.select("id", "cellkey")
          .join(newKeys, Seq("cellkey"), "left_semi")
    }
    // retry-neutralizing dedup FUSED into the pairing kernel's own
    // window pass (round 16, guide §2.4): rows are (id, cellkey) only,
    // so a replayed batch's duplicates are exact-row duplicates, and in
    // the kernel's (partition cellkey, order id) frame equal ids are
    // ADJACENT — `lag(id) != id` keeps exactly one of each, the same
    // set dropDuplicates("id","cellkey") kept, with NO exchange of its
    // own (the former dropDuplicates exchanged the full cell table on
    // (id, cellkey) and the kernel re-exchanged the survivors on
    // cellkey: two wire crossings where one suffices). Must still sit
    // BEFORE the kernel's count/collect windows — duplicate rows would
    // corrupt the hot-cell window counts — which a same-spec window
    // chain guarantees (one exchange, one sort, filter between frames).
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cellkey")).orderBy(col("id"))
    val scoped = scopedRaw
      .withColumn("_prev", lag(col("id"), 1).over(wDedup))
      .where(col("_prev").isNull || col("_prev") =!= col("id"))
      .drop("_prev")
    val cand = Similarity
      .cellPairs(scoped.select(col("cellkey"), col("id")), "id",
        maxCell, hotWindow)
      .distinct()
    val newOnly = newBatchId match {
      case None => cand
      case Some(b) =>
        val newIds = raw.where(col("batch_id") === b)
          .select("id").distinct()
        cand
          .join(newIds.select(col("id").as("id1"), lit(1).as("_n1")),
            Seq("id1"), "left")
          .join(newIds.select(col("id").as("id2"), lit(1).as("_n2")),
            Seq("id2"), "left")
          .where(col("_n1").isNotNull || col("_n2").isNotNull)
          .select("id1", "id2")
    }
    // vector re-attach: SHUFFLE_HASH pinned exactly like selfTopKLsh's
    // re-attach — the vector side hash-builds per partition, never
    // broadcast off a garbage-small size estimate
    val v = vecs(spark, path)
    newOnly
      .join(v.select(col("id").as("id1"), col("vec").as("v1"))
        .hint("shuffle_hash"), "id1")
      .join(v.select(col("id").as("id2"), col("vec").as("v2"))
        .hint("shuffle_hash"), "id2")
      .select(col("id1"), col("id2"),
        VectorFunctions.cosine(col("v1"), col("v2")).as("score"))
      .where(col("score") >= tau)
  }
}
