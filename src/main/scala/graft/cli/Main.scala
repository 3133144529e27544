package graft.cli

import graft.{Dump, Load, Tables}
import graft.core.TableConfig
import graft.extract.TableFilter
import graft.functions.Masquerade
import org.apache.spark.sql.SparkSession

/** mydumper/myloader-flag-compatible front-end (SURVEY §7 module 8).
  *
  * Maps the reference's option surface onto the Spark engine. The data
  * *source* here is a parquet table directory (`--source-dir`, the
  * driver-testdata dev slice); on a real deployment the same pipeline
  * hangs off `spark.read.jdbc` with the Snapshot plans (extract/Snapshot).
  * MySQL-operational flags (pmm, ftwrl watchdog, daemon signals) are
  * accepted and ignored with a warning, per SURVEY §7 non-goals.
  *
  * Usage:
  *   graft.cli.Main dump --source-dir /data/sf0.01 -o /tmp/out \
  *     [--format sql|LOAD_DATA|CSV|csv|parquet|orc|jsonl] [--compress]
  *     [--rows N|min:start:max] [--rows-hard ...] [--regex R]
  *     [--tables-list a,b] [--where COND] [--threads N] [--exec "cmd FILENAME"]
  *     [--table-threads N]   (tables dumped at once; default: --threads)
  *     [--exec-per-thread "cmd"] [--exec-per-thread-extension .sql.zst]
  *     [--fields-terminated-by S] [--fields-enclosed-by C]
  *     [--fields-escaped-by C] [--lines-starting-by S]
  *     [--lines-terminated-by S] [--statement-terminated-by S]
  *     [--include-header]
  *     [-F/--chunk-filesize MB] [-e/--build-empty-files] [--compact]
  *     [--insert-ignore | --replace] [--complete-insert]
  *     [--set-names CS] [--skip-tz-utc] [--clear | --dirty]
  *     [--partition-by col[,col...]]   (parquet/orc/jsonl: hive-style layout)
  *     [--checksum-all | --data-checksums]
  *     [--max-threads-per-table N] [--masquerade-filename F.cnf]
  *     [-O/--omit-from-file F] [-U/--updated-since DAYS]
  *     [--defaults-file F.cnf | --defaults-extra-file F.cnf]
  *      ([mydumper]/[myloader] groups become flag defaults; CLI wins)
  *     [-L/--logfile F]
  *     [-D/--daemon -I/--snapshot-interval MIN -X/--snapshot-count K
  *      --snapshot-iterations N]
  *     [--stream EVENTSDIR]   (announce each table's files the moment it
  *      closes; tables still dump --table-threads at once)
  *   graft.cli.Main load -d /tmp/out --target /tmp/restored [--checksum fail]
  *     [-s/--source-db DB] [-B/--database NEWDB]
  *     [--stream EVENTSDIR [--follow] [--follow-timeout SECONDS]]
  *      (restore each table a `dump --stream` announces when its `end`
  *      event arrives, with the same per-table job, checksum check and
  *      `restored` line as a directory restore; --checksum, -s, -B, -O,
  *      --purge-mode and --exec-per-thread apply unchanged, schemas come
  *      from the dump's own files. --follow = run concurrently with
  *      `dump --stream`, requires a fresh events dir; without it the
  *      restore is a catch-up over the already-announced events.
  *      --follow-timeout: fail if no event arrives for this long before
  *      the producer's done event — default 600, 0 disables)
  *     [--exec-per-thread "gzip -dc" --exec-per-thread-extension .sql.gzx]
  *     [--resume]   (process only the files the dump dir's resume file
  *      lists, appending to the prior partial restore; refused with
  *      --stream)
  *     [-O/--omit-from-file F] [--purge-mode FAIL|NONE|DROP|TRUNCATE|DELETE]
  */
object Main {

  /** --threads default, as in the reference (common_options.c:41). */
  private val DefaultThreads = 4

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    // --defaults-file / --defaults-extra-file [mydumper]/[myloader]
    // group injection, the reference's exact mechanism (common.c:
    // 746-776 → parse_key_file_group:141-165): the command's group
    // turns into synthetic `--key value` argv PREPENDED to the real
    // argv, so explicit CLI flags override file config last-value-wins.
    // A reference mydumper.cnf/myloader.cnf therefore drives this CLI
    // with zero hand translation. (The per-table `` `db`.`table` ``
    // sections of the same file keep their own runDump consumer.)
    def cnfPathsOf(name: String): Seq[String] = {
      val pair = args.tail.sliding(2)
        .collect { case Array(f, v) if f == s"--$name" => v }.toSeq
      val eq = args.tail
        .collect { case a if a.startsWith(s"--$name=") =>
          a.drop(name.length + 3) }.toSeq
      pair ++ eq
    }
    // defaults-file groups load first, extra-file groups after — later
    // synthetic argv wins under last-value-wins, the reference's
    // override order (common.c:746 then :768)
    val cfgArgs: Array[String] =
      (cnfPathsOf("defaults-file") ++ cnfPathsOf("defaults-extra-file"))
        .toArray.flatMap { path =>
      val ini = graft.core.DefaultsFile.read(java.nio.file.Paths.get(path))
      val groupName = if (cmd == "load") "myloader" else "mydumper"
      ini.groupIgnoreCase(groupName).getOrElse(Vector.empty).flatMap {
        // a BARE key line is a boolean switch (the reference's loader
        // injects "= 1" and GOption's ARG_NONE discards the value,
        // load_config_file common.c:107-118) — emit the flag alone so
        // an unknown-but-boolean key can't swallow the next token.
        // A VALUED boolean key (`compress=0`) keeps its value through
        // the `=` spelling so explicit-disable survives to the parser.
        case (k, v) if v.isEmpty => Seq(s"--$k")
        case (k, v) if BoolFlags.contains(k) => Seq(s"--$k=$v")
        case (k, v) => Seq(s"--$k", v)
      }
    }
    val multi = parseFlagsMulti(cfgArgs ++ args.tail, cmd)
    val opts = multi.map { case (k, vs) => k -> vs.last }
    val threads = opts.getOrElse("threads", DefaultThreads.toString)
    // embeddable: when a host (test, notebook) already owns a session,
    // reuse it and leave its lifecycle alone
    val hosted = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = graft.GraftSession(threads.toInt, sys.env.get("SPARK_MASTER"))
    try cmd match {
      case "dump" => runDump(spark, opts, multi.getOrElse("regex", Nil))
      case "load" => runLoad(spark, opts)
      case _      => usage(); sys.exit(2)
    } finally if (!hosted) spark.stop()
  }

  /** Live-MySQL operational flags with no parquet-source analog —
    * accepted so reference command lines run unmodified, warned about,
    * and ignored. Their JDBC-side engine homes (extract/Snapshot,
    * extract/Throttle, extract/SessionVariables, JdbcExtract partition
    * pruning) take these through their own APIs. */
  private val Ignored = Set("pmm-path", "pmm-resolution", "ftwrl-max-wait-time",
    "kill-long-queries", "long-query-guard",
    "ftwrl-timeout-retries", "long-query-retries", "long-query-retry-interval",
    "tidb-snapshot", "no-backup-locks", "skip-ddl-locks", "use-savepoints",
    // myloader --skip-create-database (specific_38): the lake target
    // has no CREATE DATABASE phase to skip — directories appear on write
    "skip-create-database",
    "sync-thread-lock-mode", "trx-tables", "no-trx-tables",
    "disk-limits", "exit-if-broken-table-found",
    // worker-pool sizing the Spark scheduler subsumes (our schema/data/
    // post phases parallelize by task, not by a fixed thread count)
    "max-threads-for-schema-creation", "max-threads-for-index-creation",
    "max-threads-for-post-actions", "fifodir",
    "max-time-per-select", "split-partitions", "partition-regex",
    "default-character-set", "load-data-character-set",
    "all-tablespaces", "ignore-engines", "no-views", "views-as-tables",
    "triggers", "events", "routines", "use-defer", "use-single-column",
    "check-row-count", "skip-constraints", "skip-indexes",
    // definer rewrite applies when REPLAYING DDL on a live server
    // (load/RestoreStatements.prepare); the CLI's directory restore
    // materializes parquet and never executes CREATEs
    "skip-definer", "replace-definer")

  /** The subset of [[Ignored]] that takes a VALUE in the reference
    * (mydumper_arguments.c / myloader_arguments.c): only these consume
    * the next token. Everything else ignored is a no-argument flag —
    * `-G -E --rows 100` must leave `--rows 100` intact (an ignored
    * boolean swallowing the next token silently ate real flags). */
  private val IgnoredWithValue = Set("pmm-path", "pmm-resolution",
    "ftwrl-max-wait-time", "long-query-guard", "ftwrl-timeout-retries",
    "long-query-retries", "long-query-retry-interval", "tidb-snapshot",
    "sync-thread-lock-mode", "disk-limits",
    "max-threads-for-schema-creation", "max-threads-for-index-creation",
    "max-threads-for-post-actions", "fifodir",
    "max-time-per-select", "partition-regex", "default-character-set",
    "load-data-character-set", "ignore-engines", "replace-definer")

  /** Flags that never take a value — everything else consumes the next
    * token as its value even when it starts with '-' (a dash-lookahead
    * heuristic mis-parsed `--regex '-internal$'` as two flags, and let
    * `--compress foo` swallow `foo`). */
  private val BoolFlags = Set("compress", "order-by-primary", "no-data",
    "no-schemas", "help", "resume",
    // -o/--overwrite-tables and its bare-cnf spelling: the lake
    // target's default overwrite IS the drop-and-recreate analog
    // (purge-mode governs the exact behavior; JdbcLoad.purge is the
    // live-server form)
    "drop-table", "overwrite-tables",
    "insert-ignore", "replace", "hex-blob", "compact", "complete-insert",
    "no-complete-insert", "build-empty-files", "clear", "dirty", "daemon",
    "follow",
    "skip-tz-utc", "tz-utc", "checksum-all", "data-checksums",
    "no-data-checksums", "schema-checksums", "routine-checksums",
    "no-schema-checksums")

  /** Last-value-wins view of [[parseFlagsMulti]] — the shape almost every
    * flag wants. Repeatable flags (--regex, reference regex.c:35) read
    * the full list from parseFlagsMulti instead. */
  def parseFlags(args: Array[String], cmd: String = "dump"): Map[String, String] =
    parseFlagsMulti(args, cmd).map { case (k, vs) => k -> vs.last }

  def parseFlagsMulti(args: Array[String],
      cmd: String = "dump"): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    def add(k: String, v: String): Unit = out(k) = out.getOrElse(k, Vector.empty) :+ v
    var i = 0
    // reference short spellings (mydumper_arguments.c); `-d` stays
    // myloader's --directory (the dump side requires long --no-data,
    // documented at runDump). `-s` is command-aware like the
    // reference's separate binaries: mydumper -s = --statement-size
    // (mydumper_arguments.c), myloader -s = --source-db
    // (myloader_arguments.c) — one shared alias silently skipped the
    // load side's source-db admission filter.
    val aliases = Map("-o" -> "outputdir", "-d" -> "directory", "-B" -> "database",
      "-x" -> "regex", "-r" -> "rows", "-c" -> "compress", "-t" -> "threads",
      "-T" -> "tables-list",
      "-F" -> "chunk-filesize", "-e" -> "build-empty-files",
      "-D" -> "daemon", "-I" -> "snapshot-interval", "-X" -> "snapshot-count",
      "-L" -> "logfile", "-m" -> "no-schemas",
      "-s" -> (if (cmd == "load") "source-db" else "statement-size"),
      "-N" -> "insert-ignore", "-M" -> "checksum-all",
      "-K" -> "kill-long-queries", "-z" -> "tidb-snapshot",
      "-i" -> "ignore-engines", "-U" -> "updated-since",
      "-O" -> "omit-from-file",
      "-Y" -> "all-tablespaces", "-G" -> "triggers", "-E" -> "events",
      "-R" -> "routines", "-W" -> "no-views")
    while (i < args.length) {
      val a = args(i)
      // GOption accepts both `--key value` and `--key=value` (the
      // reference's own test harness passes --defaults-extra-file=FILE)
      val (key, inline) =
        if (a.startsWith("--")) {
          val body = a.drop(2)
          val eq = body.indexOf('=')
          if (eq >= 0) (body.take(eq), Some(body.drop(eq + 1)))
          else (body, None)
        } else (aliases.getOrElse(a, a.stripPrefix("-")),
          None: Option[String])
      if (Ignored.contains(key)) {
        System.err.println(s"[graft] option --$key accepted but inapplicable on Spark; ignored")
        if (inline.isEmpty && IgnoredWithValue.contains(key) &&
          i + 1 < args.length && !args(i + 1).startsWith("-")) i += 1
      } else if (BoolFlags.contains(key)) {
        // explicit-disable spellings (`--compress=false`, cnf
        // `compress=0`) must actually disable — GOption's own
        // last-value-wins lets a CLI `=0` override a cnf `=1`. Any
        // other inline value is KEPT: some booleans carry an optional
        // argument in the reference (`--compress ZSTD`,
        // mydumper_arguments.c compress_method)
        add(key,
          if (inline.exists(isFalsy)) "false" else inline.getOrElse("true"))
      } else if (inline.isDefined) {
        add(key, inline.get)
      } else if (i + 1 < args.length && (args(i + 1).startsWith("--") ||
          aliases.contains(args(i + 1)))) {
        // an unknown switch must not swallow the next OPTION as its
        // value (the reference ignores unknown keys,
        // g_option_context_set_ignore_unknown_options; a cnf-injected
        // bare key eating `--threads 8` silently reverted threads).
        // Known SHORT spellings count as options too (`--unknownkey -T
        // tbl` must still parse -T); any other single-dash token stays
        // a value — `--regex '-internal$'` is the case that forbids a
        // blanket dash lookahead. A genuine value that looks like an
        // option still has the `=` form.
        System.err.println(s"[graft] option --$key has no value " +
          s"(next token ${args(i + 1)} is an option); treating as boolean")
        add(key, "true")
      } else if (i + 1 < args.length) {
        add(key, args(i + 1)); i += 1
      } else add(key, "true")
      i += 1
    }
    // a boolean whose LAST spelling was a disable must read as absent —
    // every consumer gates on presence (`o.contains(flag)`), so a
    // surviving "false" entry would still enable it
    out.filterInPlace { case (k, vs) =>
      !(BoolFlags.contains(k) && vs.last == "false") }
    out.toMap
  }

  /** Disable spellings a boolean flag honors: GOption itself only sees
    * 0/1 through cnf injection (load_config_file common.c:107-118);
    * false/off/no are engine tolerance for hand-written flags. */
  private def isFalsy(v: String): Boolean =
    Set("false", "0", "off", "no").contains(v.toLowerCase)

  /** --rows / --rows-hard sizing: both take the N / min:start:max
    * grammar; when both are present the HARD bounds clamp the --rows
    * value (the reference always honors the hard min/max on top of
    * --rows, mydumper_table.c:436 — rows-hard never just replaces it).
    * hard.max == 0 keeps the reference's uncapped convention. */
  private[graft] def rowsPerChunkOf(o: Map[String, String]): Option[Long] = {
    val soft = o.get("rows").flatMap(graft.core.ChunkRows.parse)
    val hard = o.get("rows-hard").flatMap(graft.core.ChunkRows.parse)
    (soft, hard) match {
      case (Some(s), Some(h)) =>
        val cap = if (h.max > 0) h.max else Long.MaxValue
        Some(math.min(math.max(s.start, h.min), cap))
      case (s, h) => s.orElse(h).map(_.start)
    }
  }

  private def runDump(spark: SparkSession, o: Map[String, String],
      regexes: Seq[String] = Nil): Unit = {
    val src = o.getOrElse("source-dir", sys.error("--source-dir required"))
    val outDir = o.getOrElse("outputdir", sys.error("-o/--outputdir required"))
    val db = o.getOrElse("database", "graft")
    // --format matches the reference case-insensitively
    // (INSERT/LOAD_DATA/CSV/CLICKHOUSE, mydumper_arguments.c:99-123);
    // LOAD_DATA and CSV route to the byte-contract .dat writer. Our
    // spark-native extras keep their lowercase spellings; bare `csv`
    // stays the spark-native csv writer for compatibility.
    val fmt = o.getOrElse("format", "sql").toUpperCase match {
      case "CSV" if o("format") == "csv" => Dump.CsvFormat
      case "LOAD_DATA" => Dump.LoadDataFormat()
      case "CSV" => Dump.LoadDataFormat(csvVariant = true)
      case "PARQUET" => Dump.ParquetFormat
      case "ORC" => Dump.OrcFormat
      case "JSONL" => Dump.JsonlFormat
      case "CLICKHOUSE" => Dump.ClickHouseFormat
      case _ => Dump.SqlFormat
    }
    // --partition-by is a lake-layout knob; only the parquet/jsonl
    // writers apply it. Accepting it silently under --format sql reads
    // as a successful partitioned dump, so fail fast instead.
    require(!o.contains("partition-by") ||
        fmt == Dump.ParquetFormat || fmt == Dump.OrcFormat ||
        fmt == Dump.JsonlFormat,
      s"--partition-by applies only to lake formats (parquet/orc/jsonl); " +
        s"--format ${o.getOrElse("format", "sql")} writes row files and " +
        "would ignore it")
    // --omit-from-file / -O (common_options.c:222-224): a file of
    // db.table lines to skip, applied before the regex — a bare db line
    // skips the whole database (tables_skiplist.c:72-75)
    val skiplist: Set[String] = o.get("omit-from-file").map(readListFile)
      .getOrElse(Set.empty)
    val spec = TableFilter.Spec(
      regexes = regexes,
      skiplist = skiplist,
      tablesList = o.get("tables-list").map(_.split(",").toSeq).getOrElse(Nil))
    // --updated-since / -U (mydumper_arguments.c:332, get_not_updated
    // mydumper_start_dump.c:525-545): dump only tables updated in the
    // last U days. The file source's UPDATE_TIME analog is the table's
    // newest parquet mtime (the JDBC path feeds TableFilter.accepts an
    // information_schema probe instead); tables that miss the window are
    // listed one-per-line in the dump dir's not_updated_tables file,
    // exactly like the reference's nufile.
    val updatedSinceCut: Option[Long] =
      o.get("updated-since").map(_.toLong).filter(_ > 0)
        .map(days => System.currentTimeMillis() - days * 86400000L)
    def newestMtime(t: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty).map(walk)
            .foldLeft(f.lastModified)(math.max)
        else f.lastModified
      val p = new java.io.File(s"$src/$t.parquet")
      if (p.exists) walk(p) else Long.MaxValue // unknown age: never skip
    }
    // table discovery = the source DIRECTORY's *.parquet entries (the
    // file-source analog of SHOW TABLES), not a hardcoded catalog — a
    // user table outside the TPC-H set must dump too. Tables.all keeps
    // the canonical order for the known names; extras append sorted.
    val discovered: Seq[String] = {
      val listed = Option(new java.io.File(src).listFiles)
        .getOrElse(Array.empty)
        .map(_.getName).filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).toSet
      Tables.all.filter(listed) ++ (listed -- Tables.all).toSeq.sorted
    }
    val admittedAll = discovered.filter { t =>
      val qualified = s"$db.$t"
      val patterns = spec.regex.toSeq ++ spec.regexes
      (patterns.isEmpty || patterns.exists(_.r.findFirstIn(qualified).isDefined)) &&
        (spec.tablesList.isEmpty ||
          // reference semantics (case-insensitive, %/_ wildcards) on the
          // qualified name, plus bare-table convenience the reference
          // rejects (it errors on entries without a dot)
          spec.tablesList.exists(TableFilter.tableListMatch(_, qualified)) ||
          spec.tablesList.contains(t)) &&
        !spec.skiplist.contains(db) && !spec.skiplist.contains(qualified) &&
        !spec.skiplist.contains(t)
    }
    val (all, notUpdated) = updatedSinceCut match {
      case Some(cut) => admittedAll.partition(t => newestMtime(t) >= cut)
      case None => (admittedAll, Nil)
    }
    // --defaults-file: per-table `` `db`.`table` `` sections (where/rows/
    // masks/skip-checksums, common.c:199-341) merge under any --where
    // (the CLI flag is more specific than file config).
    // --masquerade-filename: a second INI read AFTER the defaults file
    // (reference loads it on top, mydumper.c main), same section format
    // — later file wins per attribute via TableConfig.merge
    val fromFile: Map[String, TableConfig] =
      Seq("defaults-file", "defaults-extra-file", "masquerade-filename")
        .flatMap(o.get)
        .map(p => TableConfig.fromIni(graft.core.DefaultsFile.read(
          java.nio.file.Paths.get(p))))
        .foldLeft(Map.empty[String, TableConfig]) { (acc, m) =>
          (acc.keySet ++ m.keySet).map { k =>
            k -> ((acc.get(k), m.get(k)) match {
              case (Some(a), Some(b)) => TableConfig.merge(b, a)
              case (a, b) => b.orElse(a).get
            })
          }.toMap
        }
    val cliWide: TableConfig => TableConfig = tc => {
      val t1 = o.get("where").map(w => tc.copy(where = Some(w))).getOrElse(tc)
      // --max-threads-per-table N: cap each table's write parallelism
      o.get("max-threads-per-table").map(n =>
        t1.copy(numThreads = Some(n.toInt))).getOrElse(t1)
    }
    val perTable =
      if (o.contains("where") || o.contains("max-threads-per-table")) {
        val k = s"$db.*"
        fromFile.updated(k, cliWide(fromFile.getOrElse(k, TableConfig())))
      } else fromFile
    // --clear: empty the output dir first (reference clear_dumpdir);
    // --dirty / --merge overwrite without clearing (the default here —
    // merge additionally keeps prior metadata, which Manifest.write
    // rewrites anyway on a file source)
    if (o.contains("clear")) {
      // the reference's clear_dumpdir EMPTIES the dir — directory-shaped
      // artifacts (parquet/jsonl table dirs) must go too, not just
      // top-level plain files. Symlinks are unlinked, never followed:
      // File.isDirectory is true for a link TO a directory, and
      // recursing through one (e.g. a `latest ->` rotation link, or the
      // daemon's `last_dump`) would delete data OUTSIDE the dump dir.
      def rm(f: java.io.File): Unit = {
        val isLink = java.nio.file.Files.isSymbolicLink(f.toPath)
        if (!isLink && f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      Option(new java.io.File(outDir).listFiles).foreach(_.foreach(rm))
    }
    val cfg = Dump.Config(
      outDir = outDir, format = fmt, db = db,
      // --rows N = rows per chunk (the reference's -r): dumpTable sizes
      // targetChunks from the row estimate; without the flag the static
      // default applies
      // accepts the reference's N / min:start / min:start:max forms;
      // the start step drives static sizing (ChunkRows.parse scaladoc)
      rowsPerChunk = rowsPerChunkOf(o),
      statementSize = o.get("statement-size").map(_.toInt).getOrElse(1000000),
      compress = o.contains("compress"),
      // --compress's optional codec argument (GZIP default, ZSTD the
      // alternative, mydumper_arguments.c compress_method); the loader
      // reads .gz and .zst symmetrically
      compressCodec = o.get("compress").map(_.toLowerCase) match {
        case Some("zstd") => "zstd"
        case Some("gzip") | Some("true") | Some("1") | None => "gzip"
        case Some(other) => throw new IllegalArgumentException(
          s"--compress accepts GZIP or ZSTD — got '$other'")
      },
      // --chunk-filesize / -F: MB at the flag (mydumper_write.c:993
      // compares ceil(filesize/1024/1024)), bytes in the engine
      fileSizeBytes = o.get("chunk-filesize")
        .map(_.toLong * 1024 * 1024).getOrElse(0L),
      insertIgnore = o.contains("insert-ignore"),
      replace = o.contains("replace"),
      completeInsert = o.contains("complete-insert") ||
        !o.contains("no-complete-insert"), // engine default stays ON
      buildEmptyFiles = o.contains("build-empty-files"),
      // --compact: headerless SQL files (mydumper_common.c:406-433)
      sqlFileHeaders = !o.contains("compact"),
      setNamesCharset = o.getOrElse("set-names", "binary"),
      skipTzUtc = o.contains("skip-tz-utc"),
      // --partition-by col[,col...]: hive-style layout for lake formats
      partitionBy = o.get("partition-by")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      // --checksum-all / --data-checksums turn the dump checksum ON
      // (our engine default is already on; the flags are the reference
      // spellings for explicitness)
      checksum = o.contains("checksum-all") || o.contains("data-checksums") ||
        !o.contains("no-data-checksums"),
      orderByPrimary = o.contains("order-by-primary"),
      // long-form only: `-d` stays myloader's --directory alias here,
      // while mydumper's -d means --no-data — the shared parser can't
      // disambiguate, so the dump side requires the long flag
      noData = o.contains("no-data"),
      noSchemas = o.contains("no-schemas"),
      perTable = perTable,
      // ANSI_QUOTES detection from the defaults-file session group —
      // detect_quote_character's config half (mydumper_start_dump.c:
      // 403-427; the server-probe half needs a live connection). A
      // `[mydumper_session_variables] sql_mode='...ANSI_QUOTES...'`
      // flips identifier quoting to `"` in DDL, INSERT headers, the
      // database schema-create, and the manifest's symbolic
      // quote-character (reference specific_6).
      ansiQuotes = Seq("defaults-file", "defaults-extra-file")
        .flatMap(o.get)
        .map(p => graft.core.DefaultsFile.read(java.nio.file.Paths.get(p)))
        .exists(_.groupIgnoreCase("mydumper_session_variables")
          .exists(_.exists { case (k, v) =>
            k.equalsIgnoreCase("sql_mode") &&
              v.toUpperCase.contains("ANSI_QUOTES") })),
      // --exec-per-thread "zstd -c" --exec-per-thread-extension .sql.zst:
      // the reference's per-writer stream filter (mydumper.c:275-298).
      // The extension is MANDATORY, as in the reference (:270-271) — a
      // default of ".sql" would publish filter-encoded bytes under the
      // plain SQL extension, which a later flag-less load would read as
      // text and silently restore zero rows from
      execFilter = o.get("exec-per-thread").map { cmd =>
        graft.sources.ExecFilter(cmd.trim.split("\\s+").toSeq,
          o.getOrElse("exec-per-thread-extension", sys.error(
            "--exec-per-thread-extension must be set with --exec-per-thread")))
      },
      masks = Masquerade.Registry(parseMasks(o.get("mask"))),
      primaryKeys = Tables.primaryKeys,
      // the --fields-terminated-by knob family: raw spellings, decoded
      // per format by RowFormat.resolve (replace_escaped_strings)
      rowFormatKnobs = graft.sources.RowFormat.Knobs(
        fieldsTerminatedBy = o.get("fields-terminated-by"),
        fieldsEnclosedBy = o.get("fields-enclosed-by"),
        fieldsEscapedBy = o.get("fields-escaped-by"),
        linesStartingBy = o.get("lines-starting-by"),
        linesTerminatedBy = o.get("lines-terminated-by"),
        statementTerminatedBy = o.get("statement-terminated-by")),
      includeHeader = o.contains("include-header"))
    // --table-threads N: tables dumped at once, default --threads (the
    // reference's -t workers pull table jobs off one queue)
    val tableThreads = o.get("table-threads").orElse(o.get("threads"))
      .fold(DefaultThreads)(_.toInt)
    // each parquet source costs one schema-inference job: same pool
    val tables = Dump.parMap(all, tableThreads)(t => (t, Tables.t(spark, src, t), true))
    def oneDump(dir: String): Unit = {
      // --updated-since skips land in the dump dir's not_updated_tables
      // file, one db.table per line (the reference's nufile,
      // mydumper_start_dump.c:1138-1146) — a consumer can tell the dump
      // is deliberately partial and exactly what it omitted
      if (updatedSinceCut.isDefined) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "not_updated_tables"),
          notUpdated.map(t => s"$db.$t\n").mkString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        notUpdated.foreach(t =>
          log(o, s"[graft] skipping $db.$t: not updated since window"))
      }
      // --stream EVENTSDIR: Dump.run announces each table's artifacts
      // the moment that table closes, for a concurrent `load --stream`
      val manifest = Dump.run(spark, tables, cfg.copy(outDir = dir), tableThreads,
        events = o.get("stream"))
      manifest.tables.foreach(t =>
        log(o, s"[graft] dumped ${t.table}: ${t.rows} rows, checksum ${t.dataChecksum.getOrElse("-")}"))
      // --exec "cmd FILENAME": reference S10 per-file hook, driver-side.
      // Table files only — the reference's exec queue receives each
      // closed WRITER file (mydumper_exec_command.c); the run's control
      // files (metadata/manifest, resume lists, not_updated_tables) are
      // main-thread artifacts the hook must not touch (a gzipped
      // `metadata` loses the manifest, so restores come back unverified)
      o.get("exec").foreach { tpl =>
        val control = Set("metadata", "resume", "not_updated_tables")
        val res = graft.sources.ExecHook.run(dir, "*", tpl,
          exclude = control.contains)
        res.filter(_._2 != 0).foreach { case (f, rc) =>
          System.err.println(s"[graft] exec failed ($rc) for $f") }
      }
    }
    if (o.contains("daemon")) {
      // --daemon / -D with -I snapshot-interval (minutes) and -X
      // snapshot-count: rotating re-dumps with the reference's
      // `last_dump` symlink protocol (streaming/Daemon). The reference
      // loops until killed; --snapshot-iterations (engine extra) bounds
      // the loop for scripted runs.
      val iters = o.get("snapshot-iterations").map(_.toInt)
        .getOrElse(Int.MaxValue)
      graft.streaming.Daemon.run(outDir,
        snapshotCount = o.get("snapshot-count").map(_.toInt).getOrElse(2),
        iterations = iters,
        intervalMs = o.get("snapshot-interval").map(_.toLong * 60000)
          .getOrElse(3600000L))(oneDump)
    } else oneDump(outDir)
  }

  /** One-entry-per-line list file (--omit-from-file skiplists,
    * tables_skiplist.c:35-60; --resume file lists,
    * myloader_directory.c:95-113): trimmed verbatim lines, blanks and
    * #-comments dropped (the comment tolerance is an engine
    * convenience; the reference reads lines verbatim). */
  private def readListFile(path: String): Set[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)))
      .asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet

  /** --logfile / -L: mirror engine log lines into the named file
    * (reference set_verbose's logoutfile); stdout keeps them too. */
  private def log(o: Map[String, String], line: String): Unit = {
    println(line)
    o.get("logfile").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        line + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** `--mask db.table.column='constant X;regex a b'` style directives. */
  private def parseMasks(spec: Option[String]): Map[String, Seq[Masquerade.MaskFn]] =
    spec.map { s =>
      s.split(",").map { rule =>
        val Array(key, directives) = rule.split("=", 2)
        key -> directives.split(";").toSeq.map(Masquerade.parse)
      }.toMap
    }.getOrElse(Map.empty)

  private def runLoad(spark: SparkSession, o: Map[String, String]): Unit = {
    val dir = o.getOrElse("directory", sys.error("-d/--directory required"))
    val target = o.getOrElse("target", sys.error("--target required"))
    val checksumMode = Load.checksumModeOf(o.get("checksum"))
    // --exec-per-thread "gzip -dc" [--exec-per-thread-extension .sql.gzx]:
    // restore dumps whose bytes were filtered through an external
    // command at dump time (myloader's flag pair)
    val decode = o.get("exec-per-thread").map { cmd =>
      (cmd.trim.split("\\s+").toSeq,
        o.getOrElse("exec-per-thread-extension", sys.error(
          "--exec-per-thread-extension must be set with --exec-per-thread")))
    }
    // --resume (myloader.c:549-557): the dump dir's `resume` file lists
    // the files a crashed prior run left unprocessed; with the flag we
    // process ONLY those (myloader_directory.c:83-113), appending to
    // whatever the prior run already restored. A resume file without the
    // flag is fatal in Load.classify, and the flag without the file is
    // fatal here — both exactly the reference's m_critical pair.
    val resumeEnabled = o.contains("resume")
    // --stream EVENTSDIR: restore each table a `dump --stream` announces
    // when its `end` event arrives; the database schema-create files it
    // announces are carried beside the restored tables
    val events = o.get("stream").map { ev =>
      require(!resumeEnabled, "--resume does not apply to load --stream: " +
        "a streamed restore restores each announced table whole")
      val e = Load.Events(ev, follow = o.contains("follow"), database = { f =>
        if (java.nio.file.Files.exists(f)) {
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target))
          java.nio.file.Files.copy(f, java.nio.file.Paths.get(target, f.getFileName.toString),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      })
      o.get("follow-timeout").fold(e)(t => e.copy(followTimeoutMs = t.toLong * 1000L))
    }
    val resumeList: Option[Set[String]] =
      if (!resumeEnabled) None
      else {
        val rf = new java.io.File(dir, "resume")
        require(rf.exists, "Resume file not found") // myloader.c:555
        Some(readListFile(rf.getPath).filter(_.length > 2)) // :107 len guard
      }
    // a directory restore lists its tables up front: schemas come from
    // the dump's own db.table-schema.sql files (the documented default
    // usage) or, with --source-dir, from the source tables; lake-format
    // tables carry theirs in the manifest
    val sources = if (events.isDefined) Nil else {
      val groups = Load.discover(dir, decode.map(_._2), resumeEnabled)
      val found = Load.sourcesFromDir(dir, resumeEnabled,
        schemaOf = o.get("source-dir").map(sd => t => Tables.t(spark, sd, t).schema),
        dataExt = decode.map(_._2))
      // silently restoring ZERO tables here was a bug, so data without a
      // schema fails loudly instead of exiting 0
      require(found.nonEmpty || groups.isEmpty,
        s"dump dir $dir has data files but no schema source — " +
          "add --source-dir or ensure *-schema.sql files are present")
      // a lake dump has no chunk files for a resume list to name —
      // honoring the flag would silently re-restore every table in
      // full (append mode) against the listed-files-only contract, so
      // refuse loudly like the reference's m_critical on a bad resume
      require(!resumeEnabled || found.forall(_.lakeFormat.isEmpty),
        "--resume is not applicable to lake-format (parquet/orc/jsonl) dumps" +
          " — their restores are whole-directory, not chunk-file, units")
      found
    }
    // --source-db / -s (myloader_process_filename.c:155): restore only
    // tables whose dump db matches. --omit-from-file applies to the load
    // side too (the reference's common_filter_entries is shared by both
    // binaries, common_options.c:221-228): skip by db.table, bare db, or
    // bare table, at the filename level like myloader's eval_table.
    // --resume: only stems with at least one LISTED data chunk restore,
    // and each restores exactly its listed subset
    val loadSkip: Set[String] = o.get("omit-from-file").map(readListFile)
      .getOrElse(Set.empty)
    val admit: Load.TableSource => Option[Load.TableSource] = { s =>
      val (sdb, bare) = (s.table.split("\\.", 2).head, s.table.split("\\.", 2).last)
      val admitted = o.get("source-db").forall(_ == sdb) &&
        !(loadSkip.contains(sdb) || loadSkip.contains(s.table) || loadSkip.contains(bare))
      if (!admitted) None
      else resumeList.fold(Option(s)) { listed =>
        val mine = listed.filter(_.startsWith(s.table + ".")).toSeq.sorted
        if (mine.isEmpty) None else Some(s.copy(onlyFiles = Some(mine)))
      }
    }
    // --database / -B on load: restore INTO this db name (the
    // reference's db-remap) — target paths swap the stem's db prefix
    val remap: String => String = o.get("database") match {
      case Some(db) => stem => db + stem.dropWhile(_ != '.')
      case None => identity
    }
    // --purge-mode FAIL|NONE|DROP|TRUNCATE|DELETE (myloader.h:35) on the
    // lake target: DROP/TRUNCATE/DELETE all reduce to a directory
    // overwrite (the default — what --drop-table/-o selects), NONE
    // appends to an existing table, FAIL refuses to replace one.
    // JdbcLoad.purge is the live-server form with the distinct DDL
    // behaviors the file target can't express.
    val writeMode: String =
      if (resumeEnabled) "append"
      else o.get("purge-mode").map(_.toUpperCase) match {
        case Some("NONE") => "append"
        case Some("FAIL") => "errorifexists"
        case Some("DROP") | Some("TRUNCATE") | Some("DELETE") | None => "overwrite"
        case Some(other) => throw new IllegalArgumentException(
          s"--purge-mode accepts FAIL, NONE, DROP, TRUNCATE, DELETE — got '$other'")
      }
    val results = Load.run(spark, dir, sources,
      if (resumeEnabled) Load.ChecksumSkip else checksumMode, decode, events, admit) {
      (stem, df) =>
        df.write.mode(writeMode).parquet(s"$target/${remap(stem)}")
    }
    // resume APPENDS to the prior run's partial restore, so the in-run
    // checksum (which only sees this run's chunks) is meaningless —
    // verify the read-back TARGET against the manifest instead, the
    // same shape as the reference's post-load server-side CHECKSUM
    val postVerified: Map[String, Boolean] =
      if (!resumeEnabled || checksumMode == Load.ChecksumSkip) Map.empty
      else sources.flatMap(admit).flatMap { s =>
        s.expectedChecksum.map { c =>
          val back = spark.read.parquet(s"$target/${remap(s.table)}")
          val ok = graft.functions.Checksum.rowsAndChecksum(back)._2 == c
          require(ok || checksumMode != Load.ChecksumFail,
            s"resume restore of ${s.table} failed checksum verification")
          s.table -> ok
        }
      }.toMap
    results.foreach { r =>
      val ok = postVerified.get(r.table).orElse(r.checksumOk)
      log(o, s"[graft] restored ${r.table}: ${r.rows} rows, checksum ${ok.map(if (_) "ok" else "MISMATCH").getOrElse("unverified")}")
    }
  }

  private def usage(): Unit =
    System.err.println("usage: graft.cli.Main dump|load [options] (see scaladoc)")
}
