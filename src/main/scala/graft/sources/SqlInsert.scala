package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.{CollectionAccumulator, SerializableConfiguration}

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** mydumper-compatible SQL-INSERT dump format (SURVEY §2.1 S5).
  *
  * One file per (table, Spark partition): `db.table.<part 05d>.sql[.gz]`,
  * INSERT statements packed to ≤ `statementSize` bytes (reference default
  * 1 MB, mydumper_write.c:50), rotation to `.<subpart 05d>` when a file
  * exceeds `fileSizeBytes` (C7, mydumper_write.c:992-1001). Escaping
  * follows mysql_real_escape_string (\0 \n \r \ ' " ^Z); binary renders
  * as 0x… hex (mydumper_write.c:684-689) or, with hexBlob off, the
  * reference's default `_binary '…'` escaped-bytes literal (:694-703);
  * NULL as the bare keyword. (The reference's JSON-column
  * `CONVERT('…' USING UTF8MB4)` wrapper has no analog: Spark has no
  * JSON column type — JSON text dumps as a plain string literal.)
  *
  * Scale design: a pure `foreachPartition` over the Hadoop FileSystem of
  * the target path — no driver collect, no shuffle; each task streams one
  * file. Spark's own writers aren't used because the format fixes file
  * *names* (`db.table.NNNNN.sql`), which FileFormat writers don't expose.
  */
object SqlInsertWriter {

  final case class Options(
      statementSize: Int = 1000000,     // --statement-size
      fileSizeBytes: Long = 0L,         // --chunk-filesize (0 = no rotation)
      compress: Boolean = false,        // --compress
      compressCodec: String = "gzip",   // --compress GZIP|ZSTD
      completeInsert: Boolean = true,   // column list in INSERT header
      // --insert-ignore / --replace: the INSERT verb
      // (mydumper_write.c:366-376) — mutually exclusive there
      // ("You can't use --insert-ignore and --replace at the same time")
      insertIgnore: Boolean = false,
      // identifier quote char in the INSERT header (backtick, or `"`
      // under ANSI_QUOTES — detect_quote_character's pick)
      identQuote: String = "`",
      replace: Boolean = false,
      // --hex-blob (mydumper_write.c:73,684-689): binary as 0x… hex.
      // The reference defaults this OFF and emits `_binary '<raw bytes,
      // mysql_real_escape_string-escaped>'`; we default it ON because in
      // a UTF-8 text pipeline the hex form is the one encoding that is
      // byte-exact across tools (raw bytes ≥ 0x80 inside a quoted
      // literal get transcoded by any text reader). hexBlob=false gives
      // the reference's default form; our own loader round-trips it
      // losslessly via ISO-8859-1 char↔byte mapping.
      hexBlob: Boolean = true,
      // per-table `columns_on_insert` (common.h:67, mydumper_write.c:
      // 466-470): verbatim column list overriding the header's
      // schema-derived one — used when the restore target's columns
      // differ from the dumped SELECT (masked/generated columns)
      columnsOnInsert: Option[String] = None,
      // --exec-per-thread: pipe each file's bytes through an external
      // filter process ([[ExecFilter]]); takes precedence over
      // `compress` and supplies its own file extension
      execFilter: Option[ExecFilter] = None,
      // file header block written at the top of every physical data
      // file (initialize_sql_statement, mydumper_common.c:406-433: SET
      // NAMES / FOREIGN_KEY_CHECKS / TIME_ZONE) — every rotated file
      // gets its own copy, like the reference's per-file statement
      // initialization; None = headerless (engine-internal dumps)
      fileHeader: Option[String] = None,
      // when set, every data file NAME the writer opens is recorded
      // (driver-side, via accumulator) — consumers that must pair a
      // statement with each produced file (the ClickHouse loader script)
      // read THIS instead of re-listing the output dir, which would pick
      // up stale files from earlier runs and returns nothing on
      // non-local filesystems
      fileLog: Option[org.apache.spark.util.CollectionAccumulator[String]] = None,
      // when set, `df`'s LAST column is Checksum.rowChecksum's per-row
      // term, never rendered: every task adds the XOR of its rows' terms
      checksum: Option[CollectionAccumulator[Long]] = None,
      // the --fields-terminated-by knob family, resolved through the
      // reference's per-format default matrix ([[RowFormat.resolve]],
      // mydumper_write.c:252-281): rows render as
      // `lines_starting_by v1 fields_terminated_by v2 … lines_terminated_by`
      // with the `,` row delimiter PREPENDED to each follow-on row and
      // string values enclosed by detect_quote_character's pick (`"`
      // under backtick identifier quoting, `'` under ANSI_QUOTES)
      format: RowFormat.Resolved = RowFormat.SqlDefaults) {
    require(!(insertIgnore && replace),
      "--insert-ignore and --replace are mutually exclusive (mydumper_write.c:368)")
    /** The statement verb (INSERT / INSERT IGNORE / REPLACE,
      * mydumper_working_thread.h:22-24). */
    def verb: String =
      if (insertIgnore) "INSERT IGNORE" else if (replace) "REPLACE" else "INSERT"
  }

  /** Dump `df` as SQL-INSERT files under `outDir`. Returns the row count
    * (via accumulator — no data rows cross to the driver).
    *
    * Runs on `InternalRow` (`queryExecution.toRdd`): values are read with
    * primitive accessors and rendered by per-field closures compiled once
    * per partition — no Catalyst→external-Row conversion (which boxes
    * every field and materializes java.sql.Timestamp objects), no
    * per-value type dispatch in the row loop. */
  def write(df: DataFrame, db: String, table: String, outDir: String,
      opts: Options = Options()): Long = {
    val schema = StructType(df.schema.dropRight(opts.checksum.size)) // minus the checksum term
    val conf = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val counts = df.sparkSession.sparkContext.longAccumulator(s"rows_dumped_$db.$table")
    val header = insertHeader(table, schema, opts)
    val headerBytes = RowFormat.utf8Length(header)
    df.queryExecution.toRdd.foreachPartition { rows =>
      val part = TaskContext.getPartitionId()
      var written = 0L
      if (rows.hasNext) {
        val fmt = opts.format
        val render = internalRenderers(schema, opts.hexBlob, fmt.fieldsEnclosedBy)
        val n = render.length
        val delimBytes = RowFormat.utf8Length(fmt.rowDelimiter)
        val w = new PartitionWriter(conf.value, outDir, db, table, part,
          ".sql", opts.fileSizeBytes, opts.compress, opts.execFilter,
          opts.fileHeader, opts.fileLog, opts.compressCodec)
        try {
          written = packRows(rows, render, n, fmt, header, headerBytes,
            delimBytes, opts.statementSize, w, checksum = opts.checksum)
          w.close() // SUCCESS path: commit (rename temp → final name)
        } catch {
          case e: Throwable =>
            w.abort() // failure: discard the temp, never commit partials
            throw e
        }
      }
      counts.add(written)
    }
    counts.value
  }

  /** Statement packing shared by the SQL and LOAD-DATA/CSV writers,
    * mirroring the reference's write loop (mydumper_write.c:946-1021):
    * the size check runs BEFORE the row is appended (`statement->len +
    * row->len + 1 > statement_size`) so no statement ever exceeds the
    * cap — except a single row bigger than the cap, which ships as its
    * own oversized statement (:956-963); lengths are UTF-8 BYTES. For
    * LOAD-DATA shapes `statementHeader` is empty and the terminator /
    * row delimiter resolve to "" — the same loop degrades to plain
    * buffered row streaming, like the reference's shared code path.
    * With `checksum`, column `n` of each row is its checksum term, and
    * the XOR of the terms is added once. Writers call this from a
    * result-stage task, whose accumulator update Spark applies once per
    * partition however many attempts ran, so no partition is XOR-ed
    * twice. */
  private[sources] def packRows(
      rows: Iterator[InternalRow],
      render: Array[FieldRenderer], n: Int, fmt: RowFormat.Resolved,
      header: String, headerBytes: Long, delimBytes: Long,
      statementSize: Int, w: PartitionWriter,
      nullText: String = "NULL",
      checksum: Option[CollectionAccumulator[Long]] = None): Long = {
    var written = 0L
    var xor = 0L
    val sb = new java.lang.StringBuilder(statementSize + 4096)
    val rowSb = new java.lang.StringBuilder(256)
    var stmtBytes = 0L
    var rowsInStmt = 0
    sb.append(header); stmtBytes = headerBytes
    while (rows.hasNext) {
      val r = rows.next()
      rowSb.setLength(0)
      rowSb.append(fmt.linesStartingBy)
      var i = 0
      while (i < n) {
        if (i > 0) rowSb.append(fmt.fieldsTerminatedBy)
        if (r.isNullAt(i)) rowSb.append(nullText) else render(i)(rowSb, r)
        i += 1
      }
      rowSb.append(fmt.linesTerminatedBy)
      if (checksum.isDefined) xor ^= r.getLong(n)
      var rowBytes = RowFormat.utf8Length(rowSb)
      if (stmtBytes + rowBytes + 1 > statementSize) {
        if (rowsInStmt == 0) { // oversized single row, ships alone
          sb.append(rowSb); stmtBytes += rowBytes
          rowSb.setLength(0); rowBytes = 0L
        }
        sb.append(fmt.statementTerminatedBy)
        w.emit(sb.toString)
        sb.setLength(0); sb.append(header)
        stmtBytes = headerBytes; rowsInStmt = 0
      }
      if (rowSb.length() > 0) {
        if (rowsInStmt > 0) { sb.append(fmt.rowDelimiter); stmtBytes += delimBytes }
        sb.append(rowSb); stmtBytes += rowBytes
        rowsInStmt += 1
      }
      written += 1
    }
    // a trailing header-only buffer (last row shipped oversized)
    // is discarded, like the reference's num_rows_st>0 gate (:1016)
    if (rowsInStmt > 0) { sb.append(fmt.statementTerminatedBy); w.emit(sb.toString) }
    checksum.foreach(_.add(xor))
    written
  }

  private[sources] type FieldRenderer =
    (java.lang.StringBuilder, InternalRow) => Unit

  /** One renderer closure per column, dispatched on type exactly once.
    *
    * Non-numeric values are enclosed by `encl` — the write-side analog
    * of write_sql_column_into_string (mydumper_write.c:676-707), whose
    * NUM_FLAG branch leaves every numeric bare and whose string branch
    * wraps `*fields_enclosed_by` around the escaped bytes (`"` under
    * backtick identifier quoting; mysql_real_escape_string escapes both
    * quote kinds, so either enclosure yields a valid literal). */
  private def internalRenderers(schema: StructType, hexBlob: Boolean,
      encl: String): Array[FieldRenderer] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    schema.fields.zipWithIndex.map { case (f, i) =>
      val r: FieldRenderer = f.dataType match {
        case ByteType    => (sb, row) => sb.append(row.getByte(i).toInt)
        case ShortType   => (sb, row) => sb.append(row.getShort(i).toInt)
        case IntegerType => (sb, row) => sb.append(row.getInt(i))
        case LongType    => (sb, row) => sb.append(row.getLong(i))
        case FloatType   => (sb, row) => sb.append(row.getFloat(i))
        case DoubleType  => (sb, row) => sb.append(row.getDouble(i))
        case d: DecimalType =>
          (sb, row) => sb.append(row.getDecimal(i, d.precision, d.scale).toString)
        case BooleanType =>
          (sb, row) => sb.append(if (row.getBoolean(i)) '1' else '0')
        case BinaryType =>
          // empty → two enclosure chars in BOTH modes (the reference's
          // length==0 branch precedes the hex check, write.c:682-684)
          if (hexBlob)
            (sb, row) => {
              val b = row.getBinary(i)
              if (b.isEmpty) sb.append(encl).append(encl)
              else { sb.append("0x"); appendHex(sb, b) }
            }
          else
            (sb, row) => {
              val b = row.getBinary(i)
              if (b.isEmpty) sb.append(encl).append(encl)
              else {
                sb.append("_binary ").append(encl)
                escapeBinaryInto(sb, b)
                sb.append(encl)
              }
            }
        case TimestampType =>
          // same rendering as the external path: java.sql.Timestamp.toString
          // in the JVM zone (reader round-trips with Timestamp.valueOf)
          (sb, row) => sb.append(encl)
            .append(DateTimeUtils.toJavaTimestamp(row.getLong(i)).toString)
            .append(encl)
        case TimestampNTZType =>
          (sb, row) => sb.append(encl)
            .append(sqlTimestamp(DateTimeUtils.microsToLocalDateTime(row.getLong(i))))
            .append(encl)
        case DateType =>
          (sb, row) => sb.append(encl)
            .append(DateTimeUtils.daysToLocalDate(row.getInt(i)).toString)
            .append(encl)
        case StringType =>
          (sb, row) => {
            sb.append(encl)
            escapeInto(sb, row.getUTF8String(i).toString)
            sb.append(encl)
          }
        case dt => // arrays/maps/structs have no SQL-dump form; quoted text
          (sb, row) => {
            sb.append(encl)
            escapeInto(sb, String.valueOf(row.get(i, dt)))
            sb.append(encl)
          }
      }
      r
    }
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def appendHex(sb: java.lang.StringBuilder, b: Array[Byte]): Unit = {
    var i = 0
    while (i < b.length) {
      sb.append(HexDigits((b(i) >> 4) & 0xf)).append(HexDigits(b(i) & 0xf))
      i += 1
    }
  }

  /** The reference's build_insert_statement (mydumper_write.c:458-478):
    * `<verb> INTO \`table\` [(cols)] VALUES` — table NOT db-qualified
    * (myloader selects/remaps the schema on the connection; the db rides
    * in the file NAME), columns_on_insert verbatim when configured, else
    * the schema list under complete-insert. */
  private def insertHeader(table: String, schema: StructType,
      opts: Options): String = {
    val cols = opts.columnsOnInsert match {
      case Some(c) => s" ($c)"
      case None if opts.completeInsert =>
        schema.fieldNames.map(c => s"${opts.identQuote}$c${opts.identQuote}")
          .mkString(" (", ",", ")")
      case None => ""
    }
    // NO trailing newline: the first row's lines_starting_by follows
    // " VALUES" directly (build_insert_statement ends the GString there;
    // rows begin with "(" — write.c:477,775)
    s"${opts.verb} INTO ${opts.identQuote}$table${opts.identQuote}$cols VALUES"
  }

  /** One output file with size-based rotation (sub_part counter) —
    * shared by the SQL and LOAD-DATA/CSV dump writers (`baseExt` is
    * `.sql` or `.dat`, the reference's rows_file_extension,
    * mydumper_arguments.c:39,108-120). */
  private[sources] final class PartitionWriter(conf: Configuration, outDir: String,
      db: String, table: String, part: Int, baseExt: String,
      fileSizeBytes: Long, compress: Boolean, execFilter: Option[ExecFilter],
      fileHeader: Option[String],
      fileLog: Option[org.apache.spark.util.CollectionAccumulator[String]],
      // --compress GZIP|ZSTD (mydumper_arguments.c compress_method):
      // codec only applies when `compress` is set; zstd via zstd-jni
      // (already a Spark dependency), matching the loader's .zst reader
      codec: String = "gzip") {
    private val fs = new Path(outDir).getFileSystem(conf)
    private var subPart = -1
    private var out: OutputStream = _
    private var bytes = 0L
    private var tmpPath: Path = _
    private var finalPath: Path = _
    // task-attempt id makes each attempt's temp file unique: a
    // speculative/zombie duplicate attempt writing the SAME final path
    // directly would interleave bytes into one corrupt file
    private val attempt =
      Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId())
        .getOrElse(Thread.currentThread().getId)

    private def open(): Unit = {
      subPart += 1
      val sub = if (fileSizeBytes > 0) f".$subPart%05d" else ""
      val ext = execFilter.map(_.ext)
        .getOrElse(if (!compress) baseExt
          else if (codec == "zstd") s"$baseExt.zst" else s"$baseExt.gz")
      val name = f"$db.$table.$part%05d$sub$ext"
      fileLog.foreach(_.add(name))
      finalPath = new Path(outDir, name)
      // hidden temp (leading dot): ignored by Hadoop input formats, the
      // loader's discover(), and the reader globs, so a failed attempt
      // leaves no half-written file under a data name
      tmpPath = new Path(outDir, s".$name.$attempt.tmp")
      val raw = fs.create(tmpPath, true)
      out = execFilter match {
        case Some(f) => f.wrap(new BufferedOutputStream(raw, 1 << 16))
        case None if compress && codec == "zstd" =>
          new com.github.luben.zstd.ZstdOutputStream(
            new BufferedOutputStream(raw, 1 << 16))
        case None if compress =>
          new GZIPOutputStream(new BufferedOutputStream(raw, 1 << 16))
        case None => new BufferedOutputStream(raw, 1 << 16)
      }
      bytes = 0L
      fileHeader.foreach { h =>
        val b = h.getBytes(StandardCharsets.UTF_8)
        out.write(b); bytes += b.length
      }
    }

    def emit(statement: String): Unit = {
      if (out == null) open()
      val b = statement.getBytes(StandardCharsets.UTF_8)
      out.write(b)
      bytes += b.length
      if (fileSizeBytes > 0 && bytes >= fileSizeBytes) { close(); open() }
    }

    /** Commit-on-close: the completed temp file moves to the final name.
      * Concurrent attempts each complete their OWN temp; whichever
      * renames last wins with a whole file — never interleaved bytes.
      * Call ONLY on success — [[abort]] is the failure path (committing
      * from a finally would publish a partial file under a data name). */
    def close(): Unit = if (out != null) {
      out.close(); out = null
      fs.delete(finalPath, false) // rename needs a free destination
      if (!fs.rename(tmpPath, finalPath))
        throw new java.io.IOException(s"commit failed: $tmpPath -> $finalPath")
    }

    /** Failure path: close and delete the in-progress temp; the final
      * name is left untouched for the retry attempt to commit. */
    def abort(): Unit = {
      if (out != null) { try out.close() catch { case _: Throwable => () }; out = null }
      if (tmpPath != null) try fs.delete(tmpPath, false) catch { case _: Throwable => () }
    }
  }

  private[sources] def sqlTimestamp(ldt: java.time.LocalDateTime): String = {
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    if (ldt.getNano == 0) base else f"$base.${ldt.getNano}%09d"
  }

  /** mysql_real_escape_string over raw BYTES for `_binary '…'` literals
    * (the reference's non-hex-blob default, mydumper_write.c:694-699):
    * the escape set is byte-wise; unescaped bytes ride as chars 0-255
    * (ISO-8859-1 mapping — the reader's exact inverse). */
  def escapeBinaryInto(sb: java.lang.StringBuilder, b: Array[Byte]): Unit = {
    var i = 0
    while (i < b.length) {
      (b(i) & 0xff) match {
        case 0x00 => sb.append("\\0")
        case 0x0a => sb.append("\\n")
        case 0x0d => sb.append("\\r")
        case 0x5c => sb.append("\\\\")
        case 0x27 => sb.append("\\'")
        case 0x22 => sb.append("\\\"")
        case 0x1a => sb.append("\\Z")
        case c    => sb.append(c.toChar)
      }
      i += 1
    }
  }

  /** mysql_real_escape_string character set. */
  def escapeInto(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\u0000' => sb.append("\\0")
        case '\n'     => sb.append("\\n")
        case '\r'     => sb.append("\\r")
        case '\\'     => sb.append("\\\\")
        case '\''     => sb.append("\\'")
        case '"'      => sb.append("\\\"")
        case '\u001a' => sb.append("\\Z")
        case c        => sb.append(c)
      }
      i += 1
    }
  }
}

/** Loader side (myloader analog, SURVEY §2.1 S12 input half): parse
  * SQL-INSERT dump files back into a DataFrame of the given schema.
  * One parse task per file: the files are listed on the driver, each
  * task reads its file whole (statements contain escaped newlines) and
  * walks it once with [[Scanner]], which emits Catalyst rows directly.
  */
object SqlInsertReader {

  /** Files matching `glob`, listed on the driver through the Hadoop FS,
    * sorted. `.`/`_` names are skipped as FileInputFormat does (a
    * writer's `.name.tmp`, `_SUCCESS`); no match is an error. */
  private[graft] def listFiles(spark: SparkSession, glob: String): Seq[String] = {
    val p = new Path(glob)
    val files = Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .getOrElse(Array.empty[FileStatus]).filter(_.isFile).map(_.getPath)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    if (files.isEmpty) throw new java.io.FileNotFoundException(s"no data files match $glob")
    files.map(_.toString).sorted.toSeq
  }

  /** Extension-routed decompression: gzip via the JVM, zstd via
    * zstd-jni — NOT Hadoop's ZStandardCodec, which needs native
    * libhadoop+libzstd and silently absent on plain-JVM clusters. */
  private[graft] def decoded(name: String, raw: InputStream): InputStream =
    if (name.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
    else if (name.endsWith(".zst")) new com.github.luben.zstd.ZstdInputStream(raw)
    else raw

  /** (path, whole-file UTF-8 text) per file of `glob`, one task each:
    * every task opens its own file through the Hadoop FS and `bytes`
    * reads it (and closes it) — by default decoded by extension. */
  private[graft] def wholeTextFiles(spark: SparkSession, glob: String,
      bytes: (String, InputStream) => Array[Byte] = (name, raw) => {
        val in = decoded(name, raw)
        try in.readAllBytes() finally in.close()
      }): RDD[(String, String)] = {
    val files = listFiles(spark, glob)
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(files, files.size).map { name =>
      val p = new Path(name)
      (name, new String(bytes(name, p.getFileSystem(conf.value).open(p)), StandardCharsets.UTF_8))
    }
  }

  /** `glob` selects which dump files to load — default all SQL dumps in
    * the dir; pass `"db.table.*.sql*"` for one table's files. */
  def read(spark: SparkSession, dir: String, schema: StructType,
      glob: String = "*.sql*"): DataFrame =
    parse(spark, wholeTextFiles(spark, s"$dir/$glob"), schema)

  private def parse(spark: SparkSession, files: RDD[(String, String)],
      schema: StructType): DataFrame =
    DatasetBridge.fromInternalRows(spark,
      files.flatMap { case (name, text) => new Scanner(text, name, schema) }, schema)

  /** Read dump files produced with an exec-per-thread filter
    * ([[ExecFilter]]): each file's bytes stream through the INVERSE
    * child command (e.g. `Seq("zstd", "-dc")`) task-side before SQL
    * parsing — the loader-side analog of the reference's FIFO
    * decompression (myloader's `get_command_and_basename` /
    * `execute_file_per_thread`, src/myloader/myloader_process.c) for
    * formats Hadoop has no codec for. One child per file, feeder
    * thread on stdin, nonzero exit fails the task. */
  def readFiltered(spark: SparkSession, dir: String, schema: StructType,
      decodeCmd: Seq[String], glob: String = "*.sql*"): DataFrame = {
    require(decodeCmd.nonEmpty, "empty decode command")
    parse(spark, wholeTextFiles(spark, s"$dir/$glob", (path, in) => {
      val proc = new ProcessBuilder(decodeCmd: _*).start()
      // an INPUT-side failure must fail the task, not just close
      // stdin: a truncation-tolerant child (cat, frame-per-block
      // codecs) exits 0 on a partial stream, which would silently
      // drop every row after the read error. Only a child-side pipe
      // break (child exited early) may defer to the exit code.
      @volatile var feedError: Throwable = null
      val feeder = new Thread(() => {
        try {
          try {
            val os = proc.getOutputStream
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { if (n > 0) os.write(buf, 0, n); n = in.read(buf) }
            os.close()
          } finally in.close()
        } catch {
          case t: Throwable =>
            feedError = t
            proc.destroyForcibly() // unblock readAllBytes/waitFor
        }
      }, "graft-decode-feeder")
      feeder.setDaemon(true)
      feeder.start()
      val text = proc.getInputStream.readAllBytes()
      val exit = proc.waitFor()
      feeder.join()
      val feedMsg = Option(feedError).flatMap(t => Option(t.getMessage)).getOrElse("")
      if (feedError != null && !feedMsg.contains("Broken pipe") &&
          !feedMsg.contains("Stream closed"))
        throw new java.io.IOException(s"decode input read failed for $path", feedError)
      if (exit != 0)
        throw new java.io.IOException(
          s"decode filter '${decodeCmd.mkString(" ")}' exited $exit for $path")
      text
    }), schema)
  }

  /** One pass over a dump file's text: every VALUES tuple becomes one
    * Catalyst row of `schema`; values split on `,` and are trimmed.
    * Quote- and escape-aware: `'` and `"` both open a literal (the
    * writer's enclosure is detect_quote_character's pick), closed by the
    * same char. A tuple of the wrong arity stops the read. */
  private final class Scanner(sql: String, file: String, schema: StructType)
      extends Iterator[InternalRow] {
    private val n = schema.length
    private val convert = schema.fields.map(f => fromText(f.dataType))
    private var pos = 0
    private var inValues = false
    // values seen in the current tuple, and spans of the first n
    private var k = 0
    private val spans = new Array[Int](2 * n)

    /** Moves `pos` to the next tuple's `(`; false at the end of the file. */
    def hasNext: Boolean = {
      var found = false
      while (!found && pos < sql.length) {
        if (!inValues) {
          val v = sql.indexOf("VALUES", pos)
          if (v < 0) pos = sql.length
          else { pos = v + "VALUES".length; inValues = true }
        }
        while (!found && inValues && pos < sql.length) {
          val c = sql.charAt(pos)
          if (c == '(') found = true
          else if (c == ';') { inValues = false; pos += 1 }
          else if (c == ',' || Character.isWhitespace(c)) pos += 1
          else inValues = false
        }
      }
      found
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException(file)
      k = 0
      var j = pos + 1
      var start = j
      var depth = 1
      var q: Char = 0
      while (j < sql.length && depth > 0) {
        val c = sql.charAt(j)
        if (q != 0) {
          if (c == '\\' && j + 1 < sql.length) j += 1
          else if (c == q) q = 0
        } else if (c == '\'' || c == '"') q = c
        else if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) span(start, j) }
        else if (c == ',') { span(start, j); start = j + 1 }
        j += 1
      }
      if (depth > 0) span(start, sql.length) // unterminated last tuple
      pos = j
      if (k != n) throw new IllegalStateException(
        s"$file: a VALUES tuple has $k values, the schema has $n columns")
      new GenericInternalRow(Array.tabulate[Any](n)(i => value(i, spans(2 * i), spans(2 * i + 1))))
    }

    private def span(from: Int, until: Int): Unit = {
      if (k < n) { spans(2 * k) = from; spans(2 * k + 1) = until }
      k += 1
    }

    /** Column `i`'s value from the text `sql[from, until)`, trimmed. */
    private def value(i: Int, from: Int, until: Int): Any = {
      var s = from; var e = until
      while (s < e && sql.charAt(s) <= ' ') s += 1
      while (e > s && sql.charAt(e - 1) <= ' ') e -= 1
      val f = schema.fields(i)
      if (e - s == 4 && sql.startsWith("NULL", s)) nullFor(file, f)
      else {
        val q = if (e > s) sql.charAt(s) else ' '
        val quoted = (q == '\'' || q == '"') && e - s >= 2 && sql.charAt(e - 1) == q
        def text = if (quoted) unescape(sql, s + 1, e - 1) else sql.substring(s, e)
        if (f.dataType != BinaryType) convert(i)(text)
        else if (sql.startsWith("0x", s)) hexToBytes(sql, s + 2, e)
        else if (sql.startsWith("_binary ", s) && e - s >= 10 &&
            (sql.charAt(s + 8) == '\'' || sql.charAt(s + 8) == '"') &&
            sql.charAt(e - 1) == sql.charAt(s + 8))
          // inverse of escapeBinaryInto: chars are bytes 0-255;
          // enclosure is whichever quote char the writer used
          unescape(sql, s + 9, e - 1).getBytes(StandardCharsets.ISO_8859_1)
        else text.getBytes(StandardCharsets.UTF_8)
      }
    }
  }

  /** Text → Catalyst value for a non-binary column: the external value
    * (`BigDecimal`, `Timestamp.valueOf`, ...) through CatalystTypeConverters,
    * so decimal, ANSI and timestamp results match `createDataFrame`. */
  private[sources] def fromText(dt: DataType): String => Any = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val parse: String => Any = dt match {
      case ByteType         => _.toByte
      case ShortType        => _.toShort
      case IntegerType      => _.toInt
      case LongType         => _.toLong
      case FloatType        => _.toFloat
      case DoubleType       => _.toDouble
      case _: DecimalType   => new java.math.BigDecimal(_)
      case BooleanType      => t => t == "1" || t.equalsIgnoreCase("true")
      case TimestampType    => java.sql.Timestamp.valueOf(_)
      case TimestampNTZType => java.sql.Timestamp.valueOf(_).toLocalDateTime
      case DateType         => java.sql.Date.valueOf(_)
      case _                => identity
    }
    t => toCatalyst(parse(t))
  }

  /** NULL for `f`, or a named error when `f` is NOT NULL (a Catalyst
    * row must never carry a null in a non-nullable slot). */
  private[sources] def nullFor(file: String, f: StructField): Null =
    if (f.nullable) null
    else throw new IllegalStateException(s"$file: NULL in NOT NULL column ${f.name}")

  /** Unescape a quoted SQL string literal body. */
  def unescape(s: String): String = unescape(s, 0, s.length)

  private def unescape(s: String, from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(until - from)
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < until) {
        s.charAt(i + 1) match {
          case '0' => sb.append('\u0000')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 'Z' => sb.append('\u001a')
          case x   => sb.append(x)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Hex digits `s[from, until)` as bytes (an odd last digit is dropped). */
  private[sources] def hexToBytes(s: String, from: Int, until: Int): Array[Byte] =
    Array.tabulate((until - from) / 2)(k =>
      Integer.parseInt(s.substring(from + 2 * k, from + 2 * k + 2), 16).toByte)
}
