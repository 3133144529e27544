package graft

import graft.core.TableManifest
import graft.functions.Checksum
import graft.load.StreamingLoader
import graft.sources.{CsvDump, LoadDataReader, LoadDataStatement, LoadDataWriter, Manifest, SqlInsertReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The load pipeline (SURVEY §3.2): discovery → file-type routing (S11)
  * → dependency-ordered restore (L1) → checksum verification (L5).
  *
  * The restore target is pluggable: a lake write (parquet), or a JDBC
  * sink (`df.write.jdbc`, S12 semantics) — the scheduler and verification
  * are identical. Discovery classifies files by the dump naming scheme
  * (`db.table.NNNNN[.NNNNN].sql[.gz]`). Lake-format dumps (`--format
  * parquet|orc|jsonl|csv`) are sources too: a table directory read in its
  * own format under the manifest's recorded dump-time schema (csv: its
  * `-schema.sql` DDL), restored and verified on the same write as
  * chunk-file tables. A directory restore finds its tables by listing
  * the dump dir, a streamed one from a `dump --stream`'s events; both
  * restore each table with the same job ([[run]]).
  */
object Load {

  sealed trait FileType
  case object Data extends FileType            // db.table[.NNNNN[.NNNNN]].sql
  case object LoadData extends FileType        // db.table.NNNNN.dat (LOAD DATA text)
  case object Schema extends FileType          // db.table-schema.sql
  case object SchemaCreate extends FileType    // db-schema-create.sql
  case object SchemaTablespace extends FileType // all-schema-create-tablespace.sql
  case object SchemaView extends FileType      // db.table-schema-view.sql
  case object SchemaSequence extends FileType  // db.table-schema-sequence.sql
  case object SchemaTriggers extends FileType  // db.table-schema-triggers.sql
  case object SchemaPost extends FileType      // db-schema-post.sql (routines/events)
  case object SchemaClickHouse extends FileType // db.table-schema-clickhouse.sql (S7)
  case object LoaderScript extends FileType    // db.table-load.sql (S7 INSERT..FROM INFILE)
  case object Metadata extends FileType        // metadata / metadata.header (global)
  case object MetadataPartial extends FileType // metadata.partial*, or bare metadata in stream mode
  case object Resume extends FileType          // resume (only with resume enabled)
  case object Unknown extends FileType         // reference IGNORED

  /** Strip the trailing compression / exec-filter extension the way the
    * reference's suffix probe does (myloader_common.c:491-517
    * m_filename_has_suffix: exec extension first, then .gz, then .zst —
    * exactly one layer, and only a KNOWN extension; `db.t.sql.lz4` does
    * NOT classify). */
  private def stripCodecExt(name: String, execExt: Option[String]): String =
    execExt.filter(e => e.nonEmpty && name.endsWith(e) && name.length > e.length)
      .map(e => name.dropRight(e.length))
      .getOrElse {
        if (name.endsWith(".gz")) name.dropRight(3)
        else if (name.endsWith(".zst")) name.dropRight(4)
        else name
      }

  /** S11 router: classify a dump file name — the reference's
    * get_file_type taxonomy and PROBE ORDER
    * (myloader_process_filename.c:119-199): metadata names first
    * (`metadata.header` global; bare `metadata` partial in stream mode,
    * global otherwise; `metadata.partial*` prefix partial — none of them
    * when the name carries `.sql` or the exec-filter extension), then the
    * `--source-db` prefix gate, then `-schema.sql`, the tablespace file,
    * `resume`/`resume.partial` (fatal unless resume mode, ditto the
    * partial), the object-schema suffixes, and only then bare `.sql` →
    * DATA and `.dat` → LOAD_DATA; anything else is ignored. Every suffix
    * probe accepts one compression/exec extension layer
    * (myloader_common.c:491 m_filename_has_suffix).
    *
    * Engine extensions beyond the reference: `-schema-clickhouse.sql` /
    * `-load.sql` (S7 artifacts), `metadata.json` (manifest), and `.csv`/
    * `.jsonl` chunk files from our own lake dumps. */
  def classify(name: String, stream: Boolean = false,
      resumeEnabled: Boolean = false, sourceDb: Option[String] = None,
      execExt: Option[String] = None): FileType = {
    val n = stripCodecExt(name, execExt)
    // reference guard: a *.sql / exec-filtered name is never metadata
    val metadataEligible =
      !(name.endsWith(".sql") || execExt.exists(e => e.nonEmpty && name.endsWith(e)))
    if (metadataEligible && name == "metadata.header") Metadata
    else if (metadataEligible && name == "metadata")
      (if (stream) MetadataPartial else Metadata)
    else if (metadataEligible && name == "metadata.json") Metadata
    else if (metadataEligible && name.startsWith("metadata.partial")) MetadataPartial
    else if (sourceDb.exists(db => !sourceDbAdmits(name, db))) Unknown
    else if (n.endsWith("-schema.sql")) Schema
    else if (name == "all-schema-create-tablespace.sql") SchemaTablespace
    else if (name == "resume") {
      if (!resumeEnabled) throw new IllegalStateException(
        "resume file found, but resume mode not enabled — remove it or restart with resume")
      Resume
    }
    else if (name == "resume.partial") throw new IllegalStateException(
      "resume.partial file found — remove it and restart if you consider it safe")
    else if (n.endsWith("-schema-view.sql")) SchemaView
    else if (n.endsWith("-schema-sequence.sql")) SchemaSequence
    else if (n.endsWith("-schema-triggers.sql")) SchemaTriggers
    else if (n.endsWith("-schema-post.sql")) SchemaPost
    else if (n.endsWith("-schema-create.sql")) SchemaCreate
    else if (n.endsWith("-schema-clickhouse.sql")) SchemaClickHouse
    else if (n.endsWith("-load.sql")) LoaderScript
    else if (n.endsWith(".sql")) Data
    else if (n.endsWith(".dat")) LoadData
    else if (n.matches(""".+\.\d{5}(\.\d{5})?\.(csv|jsonl)""")) Data
    else Unknown
  }

  /** `--source-db` admission (myloader_process_filename.c:155): the name
    * must start with the source db followed by `.` (table files) or `-`
    * (the db's schema-create), or carry the `mydumper_` surrogate-stem
    * prefix — everything else is ignored. */
  def sourceDbAdmits(filename: String, sourceDb: String): Boolean =
    (filename.startsWith(sourceDb) && filename.length > sourceDb.length &&
      (filename.charAt(sourceDb.length) == '.' ||
       filename.charAt(sourceDb.length) == '-')) ||
      filename.startsWith("mydumper_")

  /** (database, table) from a dump file name, the loader's filter hook
    * (myloader_common.c:532-560 get_database_table_from_filename_for_
    * filter): object-schema suffixes strip their marker then split on
    * `.`; data files split on `.` and take the first two tokens. None
    * when the name yields no pair (reference returns FALSE → the file
    * passes filters unexamined). */
  def databaseTableOf(name: String, execExt: Option[String] = None): Option[(String, String)] = {
    val n = stripCodecExt(name, execExt)
    val markers = Seq("-schema-view", "-schema-sequence", "-schema-triggers",
      "-schema-post", "-schema")
    markers.find(m => n.endsWith(m + ".sql")) match {
      case Some(m) =>
        val stem = n.dropRight(m.length + 4)
        val parts = stem.split("\\.")
        // >2 dots: the reference punts ("get the db and table from the
        // create table statement", myloader_common.c:660-663)
        if (parts.length == 2) Some((parts(0), parts(1))) else None
      case None if n.endsWith(".sql") || n.endsWith(".dat") =>
        val parts = n.split("\\.", 4)
        if (parts.length >= 2) Some((parts(0), parts(1))) else None
      case None => None
    }
  }

  /** Filename-level table filtering, the loader's should_queue_filename
    * (myloader_common.c:578-600): bare `metadata` is never queued, the
    * tablespace file always is, no-filters short-circuits true, and
    * otherwise the (db, table) parsed from the name runs the tables-list
    * → skiplist → regex chain (eval_table, myloader_common.c:562-576);
    * names that parse to no pair pass. */
  def shouldQueueFilename(name: String,
      spec: graft.extract.TableFilter.Spec,
      execExt: Option[String] = None): Boolean = {
    if (name == "metadata") false
    else if (name == "all-schema-create-tablespace.sql") true
    else if (spec.tablesList.isEmpty && spec.skiplist.isEmpty &&
      spec.regex.isEmpty && spec.regexes.isEmpty) true
    else databaseTableOf(name, execExt).forall { case (db, table) =>
      graft.extract.TableFilter.evalNameOnly(spec, db, table)
    }
  }

  /** Phase rank for [[classify]] output, mirroring the reference restore
    * order (tablespaces → databases → table schemas → data →
    * triggers-after-their-table → views/sequences → post): the order a
    * live-server replay follows. The lake restore ([[run]]) runs only
    * the schema and data phases, per table on
    * [[graft.load.StreamingLoader]]. */
  def phaseOf(t: FileType): Int = t match {
    case SchemaTablespace              => 0 // CREATE TABLESPACE precedes any table
    case SchemaCreate                  => 1
    case Schema                        => 2
    case Data | LoadData               => 3
    case SchemaTriggers                => 4 // per-table, after its data
    case SchemaView | SchemaSequence   => 5 // after ALL tables
    case SchemaPost                    => 6
    // ClickHouse artifacts are consumed by clickhouse-client, not the
    // lake restore path — routed but never auto-executed here
    case SchemaClickHouse | LoaderScript | Metadata | MetadataPartial |
         Resume | Unknown => 7
  }

  /** Discover (db.table → data files) groups under a dump dir.
    * `extraDataExt` admits exec-per-thread dumps whose filter chose its
    * own extension (classified as if the custom suffix were `.sql`). */
  def discover(dir: String, extraDataExt: Option[String] = None,
      resumeEnabled: Boolean = false): Map[String, Seq[String]] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("."))
    def effectiveName(n: String): String =
      extraDataExt.filter(n.endsWith)
        .map(e => n.dropRight(e.length) + ".sql").getOrElse(n)
    files.filter(f =>
        classify(effectiveName(f.getName), resumeEnabled = resumeEnabled) == Data)
      .groupBy { f =>
        // db.table.NNNNN... → db.table
        f.getName.split("\\.").take(2).mkString(".")
      }
      .map { case (k, v) => k -> v.map(_.getPath).toSeq }
  }

  final case class TableSource(
      table: String, // file stem (db.stem) — globs data files
      schema: StructType,
      expectedChecksum: Option[Long] = None,
      // real table name when the dump used a surrogate stem for a
      // filename-unsafe name (manifest `filename` key; Dump.StemRegistry)
      realTable: Option[String] = None,
      // --resume (myloader_directory.c:83-113): restrict the restore to
      // exactly these dump file NAMES — the files a crashed prior run
      // left unprocessed. None = every file matching the stem's glob.
      onlyFiles: Option[Seq[String]] = None,
      // Spark format of a lake table directory (parquet, orc or json);
      // None for chunk files. Set by [[sourcesFromDir]]
      lakeFormat: Option[String] = None)

  final case class Result(table: String, rows: Long, checksumOk: Option[Boolean])

  /** Every table a dump directory restores, with the expected checksum
    * its manifest records — the restore needs NOTHING but the directory,
    * exactly the reference's contract (myloader consumes only dump
    * files). Each stem resolves as [[sourceFor]] says: the stems with a
    * `db.table-schema.sql` file (or, with `schemaOf`, with data chunks;
    * `dataExt` as in [[discover]]) and the lake table directories. */
  def sourcesFromDir(dir: String, resumeEnabled: Boolean = false,
      schemaOf: Option[String => StructType] = None,
      dataExt: Option[String] = None): Seq[TableSource] = {
    val names = listNames(dir)
    val entryOf = manifestEntry(dir)
    val chunked = schemaOf match {
      case Some(_) => discover(dir, dataExt, resumeEnabled).keys.toSeq
      case None => names.filter(classify(_, resumeEnabled = resumeEnabled) == Schema).toSeq
        .map(_.replaceFirst("-schema\\.sql(\\.gz|\\.zst)?$", ""))
    }
    val lake = names.filter(isLakeDir(dir, names, _))
    (chunked ++ lake).distinct.sorted
      .flatMap(stem => sourceFor(dir, names, stem, entryOf(stem), schemaOf, dataExt))
  }

  private def listNames(dir: String): Array[String] =
    Option(new java.io.File(dir).list).getOrElse(Array.empty[String])

  /** A directory named after a stem with no chunk files: a lake table. */
  private def isLakeDir(dir: String, names: Array[String], stem: String): Boolean =
    stem.contains(".") && new java.io.File(dir, stem).isDirectory &&
      !names.exists(n => n.startsWith(stem + ".") && new java.io.File(dir, n).isFile)

  /** The table one stem of `dir` (whose file names are `names`)
    * restores, with `entry` its manifest entry; None when the stem has
    * nothing to restore.
    *  - A lake table is read in the format sniffed from its leaf data
    *    files, under the manifest's recorded dump-time `sparkSchema`; a
    *    Spark csv table, under its `-schema.sql` DDL.
    *  - A chunk-file table takes its schema from its
    *    `db.table-schema.sql` file ([[graft.sources.DdlEmitter]]
    *    inverse), unless the stem is a view; `schemaOf` replaces the
    *    schema files with a catalog keyed by bare table name, for a stem
    *    with data chunks. */
  private def sourceFor(dir: String, names: Array[String], stem: String,
      entry: Option[TableManifest], schemaOf: Option[String => StructType],
      dataExt: Option[String]): Option[TableSource] = {
    def source(schema: StructType) = TableSource(stem, schema,
      entry.flatMap(_.dataChecksum).map(_.toLong),
      realTable = entry.filter(_.filename.isDefined).map(_.table))
    def named(suffix: String): Option[String] =
      Seq("", ".gz", ".zst").map(stem + suffix + _).find(names.contains)
    def ddl(file: String): StructType = {
      val schema = graft.sources.DdlEmitter.toStructType(
        readSmallText(java.nio.file.Paths.get(dir, file)))
      // an unparseable schema file must stop the restore, not feed an
      // empty StructType downstream (zero columns reads zero data and
      // "succeeds")
      if (schema.isEmpty) throw new IllegalStateException(
        s"schema file $file parsed to zero columns — corrupt or not DDL")
      schema
    }
    if (isLakeDir(dir, names, stem)) {
      val d = new java.io.File(dir, stem)
      val format = lakeFormatOf(d)
      val schema = format match {
        case Some("csv") => named("-schema.sql").map(ddl)
        case Some(_) => Some(entry.flatMap(_.sparkSchema)
          .map(DataType.fromJson(_).asInstanceOf[StructType]).getOrElse(new StructType()))
        case None => None
      }
      if (schema.isEmpty) System.err.println(s"[graft] WARN $stem holds no " +
        "parquet, orc or json data files, nor csv files with a -schema.sql; not restored")
      schema.map { sch =>
        // JSON and partitioned layouts read back in another shape than
        // they dumped, which only the recorded schema restores: without
        // it (an older dump) their checksum cannot verify
        val trusted = entry.exists(_.sparkSchema.isDefined) || (!format.contains("json") &&
          !d.listFiles.exists(k => k.isDirectory && k.getName.contains("=")))
        val s = source(sch)
        s.copy(expectedChecksum = s.expectedChecksum.filter(_ => trusted), lakeFormat = format)
      }
    } else schemaOf match {
      case Some(schemaOfTable) =>
        val dataName: String => String = n =>
          dataExt.filter(n.endsWith).fold(n)(e => n.dropRight(e.length) + ".sql")
        if (names.exists(n => n.startsWith(stem + ".") && classify(dataName(n)) == Data))
          Some(source(schemaOfTable(stem.split("\\.", 2).last)))
        else None
      // a stem with a -schema-view.sql sibling is a VIEW: its -schema.sql
      // is the dependency placeholder table (mydumper_jobs.c:472-556) and
      // carries no data chunks — the view phase restores it, not the data
      // phase (views-as-tables dumps have no sibling and DO load here)
      case None if named("-schema-view.sql").isDefined => None
      case None => named("-schema.sql").map(f => source(ddl(f)))
    }
  }

  /** The manifest entry a file stem (`db.stem`) restores against, keyed
    * by the surrogate stem the dump recorded under `filename`
    * (Dump.StemRegistry), else by the table name, qualified or bare. */
  private def manifestEntry(dir: String): String => Option[TableManifest] = {
    val byKey = graft.sources.Manifest.read(dir).map(_.tables).getOrElse(Nil)
      .map(t => t.filename.getOrElse(t.table) -> t).toMap
    stem => byKey.get(stem).orElse(byKey.get(stem.split("\\.", 2).last))
  }

  /** Spark format of a lake table directory, sniffed from its leaf data
    * files: a `--partition-by` dump's top level holds only `col=value`
    * directories, so walk into those (depth-bounded) until a data file
    * appears. */
  private def lakeFormatOf(d: java.io.File, depth: Int = 8): Option[String] = {
    val kids = Option(d.listFiles).getOrElse(Array.empty[java.io.File])
    kids.collectFirst {
      case k if k.isFile && k.getName.matches(".*\\.json(\\.[a-z0-9]+)?$") => "json"
      case k if k.isFile && k.getName.matches(".*\\.csv(\\.[a-z0-9]+)?$") => "csv"
      case k if k.isFile && k.getName.endsWith(".parquet") => "parquet"
      case k if k.isFile && k.getName.endsWith(".orc") => "orc"
    }.orElse(if (depth <= 0) None
      else kids.filter(k => k.isDirectory && k.getName.contains("="))
        .sortBy(_.getName).iterator.flatMap(lakeFormatOf(_, depth - 1)).nextOption())
  }

  /** Read a small control file (schema DDL, metadata), decompressing by
    * extension — [[classify]] accepts `.gz`/`.zst` names (the reference
    * compresses schema files alongside data, myloader_process.c:120), so
    * the parse side must decode them too: feeding gzip bytes to the DDL
    * parser would silently yield an empty schema. Codecs match the dump
    * side (JVM gzip; zstd-jni, already on the Spark classpath). */
  def readSmallText(p: java.nio.file.Path): String = {
    val in = SqlInsertReader.decoded(p.getFileName.toString,
      new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(p)))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The loader's checksum treatment (myloader_arguments.c:78-92):
    * `fail` aborts on mismatch, `warn` (the reference default) logs and
    * continues, `skip` doesn't verify at all. */
  sealed trait ChecksumMode
  case object ChecksumFail extends ChecksumMode
  case object ChecksumWarn extends ChecksumMode
  case object ChecksumSkip extends ChecksumMode

  /** `--checksum` value parse — unknown values reject with the
    * reference's message (myloader_arguments.c:92). */
  def checksumModeOf(v: Option[String]): ChecksumMode = v.map(_.toLowerCase) match {
    case None | Some("warn") => ChecksumWarn
    case Some("fail")        => ChecksumFail
    case Some("skip")        => ChecksumSkip
    case Some(other) => throw new IllegalArgumentException(
      s"--checksum accepts: fail, warn (default), skip — got '$other'")
  }

  /** The frame one table's restore writes. A lake directory reads in its
    * own format; chunk files read one task per file through
    * [[SqlInsertReader]], [[LoadDataReader]] or, with `decode`, the
    * exec filter's inverse child. `src.onlyFiles` restricts the chunk
    * files read. */
  def read(spark: SparkSession, dumpDir: String, src: TableSource,
      decode: Option[(Seq[String], String)] = None): DataFrame = src.lakeFormat match {
    case Some("csv") =>
      CsvDump.reader(spark).schema(src.schema).csv(s"$dumpDir/${src.table}")
    case Some(fmt) if src.schema.isEmpty =>
      spark.read.format(fmt).load(s"$dumpDir/${src.table}")
    case Some(fmt) =>
      // the recorded dump-time schema is the read schema, so JSON's
      // widened types, base64 binaries and dropped all-null fields come
      // back as dumped; the select moves the partition columns, which
      // the reader appends, back into dump order
      spark.read.schema(src.schema).format(fmt).load(s"$dumpDir/${src.table}")
        .select(src.schema.fieldNames.map(n => col(s"`${n.replace("`", "``")}`")): _*)
    case None =>
      // --resume: a file whitelist replaces the stem glob — Hadoop
      // brace alternation reads exactly the listed chunks. Each
      // reader keeps only ITS extension: a LOAD_DATA resume list
      // names .dat chunks alongside their .sql companion
      // statements, which must not reach the row reader.
      def globOr(default: String, keepExt: String): String =
        src.onlyFiles.map(_.filter(_.contains(keepExt))) match {
          case Some(fs) if fs.isEmpty =>
            throw new IllegalStateException(
              s"--resume lists no $keepExt files for ${src.table}")
          case Some(fs) if fs.size == 1 => fs.head
          case Some(fs) => s"{${fs.mkString(",")}}"
          case None => default
        }
      // data chunks all start with `stem.` (schema siblings use the
      // `stem-` dash forms); a stem with ZERO chunks is a --no-data /
      // schema-only dump — the reference CREATES those tables empty
      // (myloader restores the DDL with no data jobs), so the lake
      // analog is an empty frame with the dump's schema, not a
      // zero-files glob crash
      val stemFiles = Option(new java.io.File(dumpDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith(s"${src.table}."))
      if (stemFiles.isEmpty && src.onlyFiles.isEmpty) {
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          src.schema)
      } else decode match {
        case Some((cmd, ext)) => SqlInsertReader.readFiltered(spark,
          dumpDir, src.schema, cmd, glob = globOr(s"${src.table}.*$ext", ext))
        case None =>
          // LOAD_DATA/CSV dumps restore through the .dat reader with
          // the delimiters recovered FROM the companion statement —
          // myloader likewise rewrites the statement it finds
          // (myloader_process.c) instead of assuming defaults
          val dirFiles = stemFiles
            .filter(f => src.onlyFiles.forall(fs =>
              fs.contains(f.getName) || f.getName.endsWith(".sql")))
          if (dirFiles.exists(f => classify(f.getName) == LoadData)) {
            val opts = dirFiles
              .filter(_.getName.endsWith(".sql")).sortBy(_.getName)
              .iterator
              .flatMap(f => LoadDataStatement.parse(
                java.nio.file.Files.readString(f.toPath)))
              .nextOption()
              .map(p => LoadDataWriter.Options(format = p.format,
                header = p.header, hexBlob = p.hexCols.nonEmpty))
              .getOrElse(LoadDataWriter.Options())
            LoadDataReader.read(spark, dumpDir, src.schema, opts,
              glob = globOr(s"${src.table}.*.dat*", ".dat"))
          } else SqlInsertReader.read(spark, dumpDir, src.schema,
            glob = globOr(s"${src.table}.*.sql*", ".sql"))
      }
  }

  /** Where a streamed restore (`load --stream`) reads a `dump --stream`'s
    * events. `follow` runs beside the dump: the events dir must be fresh,
    * and the restore ends once the producer's `done` event and every
    * `end` it counted are in, or fails after `followTimeoutMs` (0 =
    * never) without an event. Without it the restore catches up on the
    * events already there. `database` gets each announced database
    * schema-create file. */
  final case class Events(dir: String, follow: Boolean = false,
      followTimeoutMs: Long = 600000L,
      database: java.nio.file.Path => Unit = _ => ())

  /** Restore dumped tables, verifying checksums against the manifest per
    * [[ChecksumMode]]. Each table is one pass, one task per chunk file;
    * its row count and CRC32-XOR are observed on the restore's own write,
    * so verification happens AFTER the write, as in myloader.
    * `decode = Some((cmd, ext))` restores exec-per-thread dumps: data
    * files carrying `ext` stream through the inverse child command
    * ([[graft.sources.SqlInsertReader.readFiltered]]).
    *
    * Without `events` the tables are `sources`, all offered at once.
    * With `events` (myloader's stream mode) the tables are the ones the
    * dump announces, each restored when its `end` event arrives: the dump
    * announces a table only after its last file closed, and the event
    * carries the manifest entry, so the table restores exactly as
    * [[sourcesFromDir]] would find it (schemas from the dump's own
    * files). Table N's restore overlaps table N+1's dump. `admit` narrows
    * or drops each table before it restores (`--source-db`,
    * `--omit-from-file`, `--resume`). Both modes run on
    * [[graft.load.StreamingLoader]].
    *
    * Manifest guard: a table the manifest lists (streamed: that the dump
    * announced) but no source restores — a format the loader cannot
    * read — fails the restore by name under [[ChecksumFail]] and is
    * logged under [[ChecksumWarn]].
    *
    * `writeTarget` is the restore sink, e.g. `df.write.parquet(...)`.
    * Contract: it runs exactly ONE action, which writes the frame it is
    * given with no exchange (repartition, global sort, join) before the
    * write. That keeps the observation in the write's result stage,
    * where Spark applies a task's update once (a retried map-stage task
    * would apply it again). One that runs no action fails the restore. */
  def run(spark: SparkSession, dumpDir: String, sources: Seq[TableSource],
      checksumMode: ChecksumMode = ChecksumWarn,
      decode: Option[(Seq[String], String)] = None,
      events: Option[Events] = None,
      admit: TableSource => Option[TableSource] = Some(_))(
      writeTarget: (String, DataFrame) => Unit): Seq[Result] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    // one job per table: lake targets take their schema from the written
    // files, so CREATE is a no-op
    val loader = new StreamingLoader(maxThreadsPerTable = 1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Result]()
    val restores = scala.collection.mutable.Buffer.empty[(String, Future[Unit])]
    def restore(src: TableSource): Unit = admit(src).foreach { s =>
      loader.offerSchema(s.table, () => ())
      loader.offerData(s.table, () => {
        val df = read(spark, dumpDir, s, decode)
        // rows and checksum ride the write (skip mode observes rows
        // only): a mismatch surfaces after it, as in myloader.c:684-715
        val verify = checksumMode != ChecksumSkip
        val (rows, got) = Checksum.observed(df, verify,
          s"restore of ${s.table}")(writeTarget(s.table, _))
        val ok = if (!verify) None else {
          val matches = s.expectedChecksum.map(_ == got)
          if (matches.contains(false)) {
            val msg = s"checksum mismatch for ${s.table}: " +
              s"expected ${s.expectedChecksum.get}, got $got"
            if (checksumMode == ChecksumFail) throw new IllegalStateException(msg)
            else System.err.println(s"[graft] WARN $msg")
          }
          matches
        }
        results.put(s.table, Result(s.table, rows, ok))
      })
      restores.synchronized { restores += s.table -> loader.finish(s.table) }
    }
    val unrestored: Seq[String] = events match {
      case None =>
        sources.foreach(restore)
        val entryOf = manifestEntry(dumpDir)
        val found = sources.flatMap(s => entryOf(s.table)).toSet
        Manifest.read(dumpDir).toSeq.flatMap(_.tables).filterNot(found).map(_.table)
      case Some(ev) =>
        val missed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        consume(spark, dumpDir, ev,
          () => restores.synchronized(restores.exists(_._2.value.exists(_.isFailure)))) {
          (stem, entry) =>
            val e = Manifest.decodeEntry(entry).orElse(manifestEntry(dumpDir)(stem))
            sourceFor(dumpDir, listNames(dumpDir), stem, e, None, decode.map(_._2))
              .fold[Unit](missed.add(stem))(restore)
        }
        missed.asScala.toSeq
    }
    val restored = restores.synchronized(restores.toSeq).map { case (t, f) =>
      Await.result(f, Duration.Inf)
      results.get(t)
    }
    if (checksumMode == ChecksumFail && unrestored.nonEmpty) throw new IllegalStateException(
      s"no source restored manifest table(s) ${unrestored.mkString(", ")}")
    if (checksumMode == ChecksumWarn) unrestored.foreach(t =>
      System.err.println(s"[graft] WARN no source restored manifest table $t"))
    restored
  }

  /** Consume `ev.dir`'s file events (a `dump --stream`'s announcements),
    * calling `onEnd(stem, entry)` for each table's `end` event. Catch-up
    * mode drains the events already there; follow mode polls until the
    * producer's `done` count of `end`s is in, `failed()` turns true, or
    * the idle timeout fails it. The checkpoint dir is deleted once the
    * query stops. */
  private def consume(spark: SparkSession, dumpDir: String, ev: Events,
      failed: () => Boolean)(onEnd: (String, String) => Unit): Unit = {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    // in --follow mode the loader may start BEFORE the dump created the
    // events dir; readStream.text refuses a missing path
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ev.dir))
    // --follow replays EVERY pre-existing event through the fresh
    // checkpoint: a dir left by a completed run would satisfy the stop
    // condition before the new dump announces anything, and a dir left
    // by a CRASHED run (data/end events, no done) would re-apply old
    // tables and inflate the end count — so follow mode requires a dir
    // with no ev_* files at all and fails loudly otherwise
    if (ev.follow) require(!listNames(ev.dir).exists(n => n.startsWith("ev_") &&
        new java.io.File(ev.dir, n).isFile),
      s"--follow needs a FRESH events dir: ${ev.dir} already " +
        "contains ev_* events from a previous run (their replay would " +
        "re-apply stale data or stop this load before the new dump " +
        "announces its tables)")
    val ends = new AtomicInteger(0)
    val expected = new AtomicInteger(-1)
    val lastEventAt = new AtomicLong(System.currentTimeMillis())
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt_").toFile
    try {
      val q = graft.streaming.LandingStream.consumeFileEvents(spark, ev.dir,
        ckpt.toString, follow = ev.follow) { (kind, stem, path) =>
        lastEventAt.set(System.currentTimeMillis())
        kind match {
          case "end" => onEnd(stem, path); ends.incrementAndGet(); ()
          case "dbschema" => ev.database(java.nio.file.Paths.get(dumpDir, path))
          // terminal producer event: path carries the table count; a
          // malformed line must not kill the stream mid-restore
          case "done" => path.trim.toIntOption match {
            case Some(n) => expected.set(n)
            case None => System.err.println(s"[graft] malformed done event payload: '$path'")
          }
          case "data" | "schema" => () // the table restores at its `end`
          case other => System.err.println(s"[graft] unknown stream event kind: $other")
        }
      }
      if (ev.follow) {
        // the stream never runs dry on its own: stop once the producer
        // said how many tables there are AND that many `end` events are
        // handled (handlers run inside the batch), or a restore failed.
        // A producer that dies before `done` would spin forever, so an
        // idle timeout since the last event turns it into a failure.
        def allIn = expected.get() >= 0 && ends.get() >= expected.get()
        def idle = ev.followTimeoutMs > 0 &&
          System.currentTimeMillis() - lastEventAt.get() > ev.followTimeoutMs
        while (q.isActive && !allIn && !idle && !failed()) Thread.sleep(200)
        if (q.isActive) q.stop()
        require(allIn || failed() || !idle,
          s"--follow saw no events for ${ev.followTimeoutMs / 1000}s and no " +
            "terminal done event — the producer likely died mid-dump; " +
            "restored tables may be partial (tune with --follow-timeout SECONDS)")
      }
      q.awaitTermination()
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(ckpt)
  }

  /** Row-level merge of an incremental dump into a base snapshot (the
    * row-granularity analog of the loader's table-level overwrite modes;
    * pairs with an `--updated-since`-filtered dump): latest version per
    * key wins, delta rows beat base rows at equal versions. One shuffle
    * on the key; at 100 TB the delta is small next to base, so AQE picks
    * a broadcast/skew-aware plan on its own. Deterministic: ties inside
    * a side resolve by the largest version, and `__is_delta` breaks
    * base-vs-delta ties. */
  def mergeSnapshot(base: DataFrame, delta: DataFrame, keyCol: String,
      versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = base.withColumn("__is_delta", lit(0))
      .unionByName(delta.withColumn("__is_delta", lit(1)))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__is_delta").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__is_delta")
  }
}
