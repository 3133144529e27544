package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.charset.StandardCharsets

/** Append, compaction and bounded-listing kernel for the engine's ten
  * BLIND-APPEND stores (sentence counts, link edges, curation stage
  * rows, ANN cells, BM25 postings/stats, LM counts, heavy-hitter
  * intervals, HLL sketches, domain counts, the media near-dup store).
  * Reference analog: the daemon's periodic-snapshot housekeeping
  * (`src/mydumper/mydumper_daemon_thread.c:33-140` rotates dump dirs so
  * state stays bounded across runs).
  *
  * APPEND ([[append]]) is the only way rows reach a store root. Each
  * store table pins its schema in a `_`-hidden record (`_schema.ddl`)
  * through [[pin]], the pin-or-verify primitive: the first append
  * creates the record, every later append verifies the incoming schema
  * against it before writing, and a mismatch throws [[SchemaMismatch]]
  * — a rejected append writes nothing. [[NearDupStore]] pins its LSH
  * params through the same primitive.
  *
  * WHY: blind-append-forever is correct but unbounded — at daemon
  * cadence a store accrues one file set per batch, every read lists
  * every file driver-side, and the read-side replay-dedup re-pays the
  * same collapse on every query. Compaction rewrites the accumulated
  * batches into ONE canonicalized generation whose read is IDENTICAL
  * (the store gates' output-identity standard), after which listing
  * cost and dedup input are both O(current rows), not O(batches).
  *
  * PROTOCOL (crash-safe at EVERY point — the store reads identically
  * whether a compaction finished, died mid-write, or died mid-GC):
  *   1. SNAPSHOT the visible file set (see below) — these are the
  *      files this compaction consumes; appends landing after the
  *      snapshot stay visible untouched.
  *   2. Canonicalize the snapshot's rows (per-store: the same
  *      replay-collapse + merge its read side applies — semantics-
  *      preserving by construction because read-side neutralization is
  *      idempotent) and write them to a HIDDEN temp dir
  *      (`_graft_tmp_<seq>` — `_`-prefixed, invisible to any listing).
  *   3. Rename temp → `_graft_cmp_<seq>`. Still invisible to READERS:
  *      a compacted generation only exists once its manifest does.
  *   4. COMMIT: write a terminated manifest (`_graft_manifest`) into
  *      the generation dir listing every consumed file (root-relative).
  *      Single-file create — atomic on HDFS close / object-store PUT;
  *      a truncated manifest (missing END terminator) reads as
  *      uncommitted.
  *   5. GC: delete consumed files, emptied batch dirs and older
  *      generations. Pure garbage collection — readers already exclude
  *      everything it deletes, so any prefix of the deletes is safe.
  *
  * READERS ([[readVisible]]): newest COMMITTED generation's data files
  * + every root data file not named in its manifest. Uncommitted
  * generations (crash between 3 and 4) are ignored; their consumed
  * files are still live, so the view is the pre-compaction one — a
  * retried [[compact]] starts over under a fresh seq and deletes the
  * orphan. Reads list explicit files (never a bare directory), which
  * also gives every store the construction-time-snapshot contract that
  * fixes the exchange-reuse stale-listing trap
  * ([[NearDupStore]]'s r14 adjudication, now shared by all stores).
  *
  * CONCURRENCY: appends are safe at any time (snapshot-consumed or
  * post-snapshot-visible, never half). Readers constructed BEFORE a
  * compaction may hit deleted files if they execute after its GC —
  * re-snapshot and retry, the same contract as any table-format
  * compaction without snapshot retention. One compactor at a time.
  *
  * WHAT COMPACTION PRESERVES: `batch_id` survives as a regular COLUMN
  * in the generation (stores whose read math is per-batch — curation
  * multiplicity, heavy-hitter thresholds — canonicalize without
  * re-keying), so batch-scoped audits still work; only directory-level
  * pruning on batch_id is lost for compacted history (new batches
  * still land as root appends and keep their pruning until the next
  * compaction). Query-side partition pruning (ANN `cell`, BM25
  * `bucket`) is preserved by re-partitioning the generation on those
  * columns (`partitionColumns`). */
private[graft] object StoreCompaction {

  private val CmpPrefix = "_graft_cmp_"
  private val TmpPrefix = "_graft_tmp_"
  private val ManifestName = "_graft_manifest"
  private val ManifestHeader = "GRAFT-MANIFEST v1"
  private val SchemaHintName = "_schema.ddl"

  /** Thrown by [[append]] when the incoming rows' schema is not the
    * one the store pinned at creation. Nothing was written. */
  final class SchemaMismatch(val dir: String, val stored: String,
      val incoming: String) extends IllegalStateException(
    s"store at $dir is pinned to schema [$stored] but the append " +
      s"brings [$incoming]; cast the batch or reindex into a fresh store")

  /** Append `rows` to the store at `dir` (hive-partitioned on
    * `partitionBy` when given) — the only way rows reach a store root.
    * Before any row is written the store's schema record
    * (`_schema.ddl`) is pinned: the first append creates it, every
    * later one verifies the incoming schema against it (names and
    * types in order; nullability ignored) and throws [[SchemaMismatch]]
    * on a difference, so a rejected append writes nothing. The record
    * lets every [[readVisible]] skip the footer-inference job, so a
    * partition column must carry the type a read infers from its
    * directory names (an INT for small integers). */
  def append(rows: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val incoming = rows.schema.toDDL
    val stored = pin(rows.sparkSession, s"$dir/$SchemaHintName", incoming)
    if (!sameShape(StructType.fromDDL(stored), rows.schema))
      throw new SchemaMismatch(dir, stored, incoming)
    val w = rows.write.mode("append")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(dir)
  }

  /** Pin-or-verify: the `_`-hidden record `file` holds the `content`
    * of its first writer from then on; returns what it holds, for the
    * caller to verify. The record is written under a temporary
    * sibling name and renamed into place, so no reader sees a partial
    * one. Driver-side filesystem calls, no Spark job. */
  private[operators] def pin(spark: SparkSession, file: String,
      content: String): String = {
    val (fs, p) = fsFor(spark, file)
    if (!fs.exists(p)) {
      val tmp = new Path(p.getParent,
        s"${p.getName}.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false) // lost a create race
    }
    readText(fs, p)
  }

  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.zip(y).forall { case (f, g) =>
        f.name == g.name && sameShape(f.dataType, g.dataType) }
    case (ArrayType(x, _), ArrayType(y, _)) => sameShape(x, y)
    case (MapType(k1, v1, _), MapType(k2, v2, _)) =>
      sameShape(k1, k2) && sameShape(v1, v2)
    case _ => a == b
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The pinned schema record at `dir`, when present and parsable;
    * readers of stores older than the record infer instead. */
  private def readSchemaHint(spark: SparkSession, dir: String)
      : Option[StructType] = {
    val (fs, root) = fsFor(spark, dir)
    val p = new Path(root, SchemaHintName)
    try if (fs.exists(p)) Some(StructType.fromDDL(readText(fs, p))) else None
    catch { case _: Throwable => None }
  }

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def relative(root: Path, f: Path): String = {
    val r = root.toUri.getPath.stripSuffix("/")
    val fp = f.toUri.getPath
    require(fp.startsWith(r + "/"), s"$f is not under $root")
    fp.substring(r.length + 1)
  }

  /** All parquet data files under `dir`, recursive (FS-level listing —
    * deliberately sees `_`/`.`-prefixed children too; classification
    * is ours, not Spark's). listStatus recursion, NOT
    * `fs.listFiles(dir, true)`: the latter returns LocatedFileStatus
    * and pays a per-file block-location lookup (~2 ms/file on the
    * checksummed local fs — measured 4.2 s for a 2k-file index, the
    * whole q_ann_index sf1 regression; plain statuses list the same
    * 2k files in milliseconds). */
  private def parquetFilesUnder(fs: FileSystem, dir: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) out += st.getPath
    }
    walk(dir)
    out.toSeq
  }

  private def cmpSeqOf(name: String): Option[Long] =
    if (name.startsWith(CmpPrefix)) name.stripPrefix(CmpPrefix).toLongOption
    else None

  /** The generation's consumed-file manifest, or None when absent or
    * unterminated (= the generation never committed). */
  private def readManifest(fs: FileSystem, cmpDir: Path): Option[Set[String]] = {
    val mf = new Path(cmpDir, ManifestName)
    if (!fs.exists(mf)) return None
    val text = readText(fs, mf)
    val lines = text.split("\n", -1).toSeq.dropRight(1) // trailing \n
    if (lines.length < 3 || lines.head != ManifestHeader ||
        lines.last != "END") return None
    val n = lines(1).toIntOption.getOrElse(-1)
    val paths = lines.slice(2, lines.length - 1)
    if (paths.length != n) None else Some(paths.toSet)
  }

  /** One store dir's visible state at a point in time. */
  private[graft] case class Snapshot(
      root: Path,
      // (seq, dir, data files, manifest) of the newest COMMITTED generation
      gen: Option[(Long, Path, Seq[Path], Set[String])],
      // root data files outside every generation/temp dir and not
      // consumed by `gen`
      live: Seq[Path],
      // root data files `gen`'s manifest consumed but a crashed GC left
      // behind — invisible to readers, but the NEXT compaction must
      // re-consume them or they would reappear once its newer manifest
      // (which cannot name them) becomes the exclusion set
      garbage: Seq[Path],
      // every generation seq present on disk, committed or not
      allSeqs: Seq[Long])

  private[graft] def snapshot(spark: SparkSession, dir: String): Snapshot = {
    val (fs, root) = fsFor(spark, dir)
    if (!fs.exists(root))
      return Snapshot(root, None, Seq.empty, Seq.empty, Seq.empty)
    val children = fs.listStatus(root).toSeq
    val genDirs = children
      .filter(_.isDirectory)
      .flatMap(s => cmpSeqOf(s.getPath.getName).map(q => (q, s.getPath)))
    val committed = genDirs
      .flatMap { case (q, p) => readManifest(fs, p).map(m => (q, p, m)) }
      .sortBy(-_._1)
    val chosen = committed.headOption
      .map { case (q, p, m) => (q, p, parquetFilesUnder(fs, p), m) }
    val rootFiles = children.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith(CmpPrefix) || n.startsWith(TmpPrefix)) Seq.empty
      else if (s.isDirectory) parquetFilesUnder(fs, s.getPath)
      else if (s.isFile && n.endsWith(".parquet")) Seq(s.getPath)
      else Seq.empty
    }
    val (garbage, live) = chosen match {
      case None => (Seq.empty[Path], rootFiles)
      case Some((_, _, _, manifest)) =>
        rootFiles.partition(f => manifest.contains(relative(root, f)))
    }
    Snapshot(root, chosen, live, garbage, genDirs.map(_._1))
  }

  private def readOf(spark: SparkSession, base: Path, files: Seq[Path],
      schema: Option[StructType]): DataFrame = {
    val r0 = spark.read.option("basePath", base.toString)
    schema.fold(r0)(r0.schema).parquet(files.map(_.toString): _*)
  }

  /** The store's visible rows: newest committed generation + live root
    * appends.
    *
    * `pinLiveFiles` decides how the LIVE (root) side reads:
    *   - `true` — explicit construction-time file list: two frames
    *     built before/after an append differ in the PLAN, so exchange
    *     reuse can never serve one from the other's stale listing (the
    *     [[NearDupStore]] interleaved-union contract). Costs a
    *     driver-side path-resolution per file — fine for the handful
    *     of recent appends a compacted store carries, expensive for a
    *     never-compacted store with thousands of files.
    *   - `false` — plain directory read (the pre-compaction stores'
    *     historical shape; `_graft_cmp_*`/`_graft_tmp_*` are
    *     `_`-prefixed and invisible to Spark's listing, so generations
    *     never double-read). Falls back to the explicit list exactly
    *     when manifest-consumed GARBAGE is present (crash window —
    *     a directory read would resurrect it).
    * The GENERATION side always reads as a directory: committed
    * generations are immutable, so a stale cached listing cannot
    * disagree with a fresh one. */
  def readVisible(spark: SparkSession, dir: String,
      pinLiveFiles: Boolean = false): DataFrame =
    readSnapshot(spark, snapshot(spark, dir), dir, pinLiveFiles,
      readSchemaHint(spark, dir))

  private def readSnapshot(spark: SparkSession, s: Snapshot, dir: String,
      pinLiveFiles: Boolean,
      schema: Option[StructType] = None)
      : DataFrame = {
    def dirRead(path: String): DataFrame =
      schema.fold(spark.read)(spark.read.schema).parquet(path)
    val genRead = s.gen.filter(_._3.nonEmpty)
      .map { case (_, p, _, _) => dirRead(p.toString) }
    val liveRead =
      if (s.live.isEmpty) None
      else if (pinLiveFiles || s.garbage.nonEmpty)
        Some(readOf(spark, s.root, s.live, schema))
      // root dir read = live exactly: generations/temps are `_`-hidden
      // and garbage is empty here
      else Some(dirRead(s.root.toString))
    val reads = genRead.toSeq ++ liveRead.toSeq
    require(reads.nonEmpty, s"store at $dir has no data files")
    reads.reduce(_.unionByName(_))
  }

  /** Compact the store at `dir`: rewrite the visible view,
    * canonicalized, as one new committed generation, then GC the
    * consumed batches. `canonicalize(view, cmpBatchId)` must preserve
    * the store's read-side output exactly (apply the read's own
    * replay-collapse / merge; use `cmpBatchId` wherever a merged row
    * needs a batch id). Returns the generation seq. */
  def compact(spark: SparkSession, dir: String,
      canonicalize: (DataFrame, String) => DataFrame,
      partitionColumns: Seq[String] = Seq.empty,
      targetPartitions: Int = 1): Long = {
    require(targetPartitions > 0)
    val (fs, root) = fsFor(spark, dir)
    val s0 = snapshot(spark, dir)
    require(s0.gen.nonEmpty || s0.live.nonEmpty,
      s"nothing to compact at $dir")
    val seq = (s0.allSeqs :+ 0L).max + 1
    // consume everything this snapshot can see on disk outside the new
    // generation: the visible view's files AND any prior GC's leftover
    // garbage (already manifest-excluded, must not outlive the old
    // manifest)
    val consumed = (s0.gen.map(_._3).getOrElse(Seq.empty) ++ s0.live ++
      s0.garbage).map(f => relative(root, f))
    // compaction reads its OWN snapshot pinned: the consumed-file list
    // and the rewritten rows must be the same set even if appends land
    // mid-compaction
    val canon = canonicalize(
      readSnapshot(spark, s0, dir, pinLiveFiles = true), s"cmp.$seq")
    val tmp = new Path(root, f"$TmpPrefix$seq%016d")
    fs.delete(tmp, true)
    val sized =
      if (partitionColumns.nonEmpty)
        canon.repartition(targetPartitions, partitionColumns.map(col): _*)
      else canon.repartition(targetPartitions)
    val writer = sized.write.mode("overwrite")
    (if (partitionColumns.nonEmpty) writer.partitionBy(partitionColumns: _*)
     else writer).parquet(tmp.toString)
    val fin = new Path(root, f"$CmpPrefix$seq%016d")
    fs.delete(fin, true) // a crashed, never-committed twin
    require(fs.rename(tmp, fin), s"compaction rename failed at $fin")
    // COMMIT — the manifest's existence (with terminator) is the
    // visibility switch; everything after this line is pure GC
    val mfBody = (Seq(ManifestHeader, consumed.length.toString) ++
      consumed :+ "END").mkString("", "\n", "\n")
    val out = fs.create(new Path(fin, ManifestName), true)
    try out.write(mfBody.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // GC: consumed files, their emptied parent dirs (non-recursive
    // delete no-ops on non-empty), and every other generation/temp dir
    consumed.foreach(rel => fs.delete(new Path(root, rel), false))
    consumed.map(rel => new Path(root, rel).getParent).distinct
      .filter(p => p != null && p != root && !p.getName.startsWith(CmpPrefix))
      .foreach(p => try fs.delete(p, false) catch { case _: java.io.IOException => () })
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val stale = n.startsWith(TmpPrefix) ||
        cmpSeqOf(n).exists(_ != seq)
      if (stale) fs.delete(st.getPath, true)
    }
    seq
  }

  /** Listing/bookkeeping stats for probes and specs: (visible data
    * files, generation seq if any, live root files). */
  def stats(spark: SparkSession, dir: String): (Long, Option[Long], Long) = {
    val s = snapshot(spark, dir)
    (s.gen.map(_._3.length.toLong).getOrElse(0L) + s.live.length,
      s.gen.map(_._1), s.live.length.toLong)
  }
}
