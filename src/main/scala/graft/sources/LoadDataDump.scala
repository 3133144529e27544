package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import java.nio.charset.StandardCharsets

/** Reference-exact LOAD-DATA / CSV data files (SURVEY §2.1 S6):
  * `db.table.NNNNN.dat[.gz]` (rows_file_extension is `dat` for all
  * non-SQL formats, mydumper_arguments.c:108-120), one file per Spark
  * partition, rows shaped by write_load_data_column_into_string
  * (mydumper_write.c:653-674):
  *
  *  - NULL is the two bytes `\N`, enclosure or not;
  *  - ONLY the integer types LONG / LONGLONG / INT24 / SHORT go bare —
  *    TINY, floats, and decimals take the enclosed branch (the :661
  *    type list simply omits them);
  *  - hex-blob binaries are bare hex digits (mysql_hex_string,
  *    uppercase, no 0x — the companion statement's `SET col=UNHEX(@col)`
  *    decodes them);
  *  - everything else: `fields_enclosed_by` + mysql_real_escape_string,
  *    then the backslashes swap to the custom escape char when one is
  *    configured (m_replace_char_with_char, :667), then the FIRST char
  *    of the field terminator gets escaped (m_escape_char_with_char,
  *    :668 — even inside an enclosure) + `fields_enclosed_by`.
  *
  * The buffer-flush cadence reuses [[SqlInsertWriter.packRows]] with
  * empty statement terminator / row delimiter — the reference shares
  * its write loop across formats the same way.
  */
object LoadDataWriter {

  final case class Options(
      format: RowFormat.Resolved = RowFormat.LoadDataDefaults,
      // --load-data + header: a first row of enclosed column names per
      // file (initialize_load_data_header, mydumper_write.c:581-595)
      header: Boolean = false,
      hexBlob: Boolean = true,
      statementSize: Int = 1000000,
      fileSizeBytes: Long = 0L,
      compress: Boolean = false,
      compressCodec: String = "gzip",
      execFilter: Option[ExecFilter] = None,
      fileLog: Option[org.apache.spark.util.CollectionAccumulator[String]] = None,
      // as SqlInsertWriter.Options.checksum
      checksum: Option[org.apache.spark.util.CollectionAccumulator[Long]] = None)

  /** Dump `df` as `.dat` files under `outDir`; returns the row count. */
  def write(df: DataFrame, db: String, table: String, outDir: String,
      opts: Options = Options()): Long = {
    val schema = StructType(df.schema.dropRight(opts.checksum.size)) // minus the checksum term
    val conf = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val counts = df.sparkSession.sparkContext
      .longAccumulator(s"rows_dumped_$db.$table")
    val fileHeader =
      if (opts.header) Some(headerRow(schema.fieldNames, opts.format)) else None
    df.queryExecution.toRdd.foreachPartition { rows =>
      val part = TaskContext.getPartitionId()
      var written = 0L
      if (rows.hasNext) {
        val render = renderers(schema, opts.hexBlob, opts.format)
        val w = new SqlInsertWriter.PartitionWriter(conf.value, outDir, db,
          table, part, ".dat", opts.fileSizeBytes, opts.compress,
          opts.execFilter, fileHeader, opts.fileLog, opts.compressCodec)
        try {
          written = SqlInsertWriter.packRows(rows, render, render.length,
            opts.format, header = "", headerBytes = 0L, delimBytes = 0L,
            opts.statementSize, w, nullText = "\\N", checksum = opts.checksum)
          w.close()
        } catch {
          case e: Throwable => w.abort(); throw e
        }
      }
      counts.add(written)
    }
    counts.value
  }

  /** The per-file header row: each column NAME enclosed and terminated
    * like a data field, the last by the line terminator
    * (initialize_load_data_header, mydumper_write.c:581-595). */
  def headerRow(columns: Seq[String], fmt: RowFormat.Resolved): String = {
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < columns.length) {
      if (i > 0) sb.append(fmt.fieldsTerminatedBy)
      sb.append(fmt.fieldsEnclosedBy).append(columns(i)).append(fmt.fieldsEnclosedBy)
      i += 1
    }
    sb.append(fmt.linesTerminatedBy)
    sb.toString
  }

  /** The enclosed-field pipeline: escape into `col`, swap `\` for the
    * custom escape char if one is configured, escape the terminator's
    * first char, then enclose (write.c:661-671). */
  private def finishEnclosed(sb: java.lang.StringBuilder,
      col: java.lang.StringBuilder, fmt: RowFormat.Resolved): Unit = {
    val esc = fmt.escapeChar
    if (esc != '\\') RowFormat.replaceCharWith(col, '\\', esc)
    if (fmt.fieldsTerminatedBy.nonEmpty)
      RowFormat.escapeCharWith(col, fmt.fieldsTerminatedBy.charAt(0), esc)
    sb.append(fmt.fieldsEnclosedBy).append(col).append(fmt.fieldsEnclosedBy)
  }

  private def renderers(schema: StructType, hexBlob: Boolean,
      fmt: RowFormat.Resolved): Array[SqlInsertWriter.FieldRenderer] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    schema.fields.zipWithIndex.map { case (f, i) =>
      // scratch per closure: the escape passes need the column text
      // isolated before it joins the row (the reference's
      // buffers.column, write.c:735)
      val col = new java.lang.StringBuilder(64)
      def enclosed(fill: InternalRow => String)
          : SqlInsertWriter.FieldRenderer = (sb, row) => {
        col.setLength(0)
        SqlInsertWriter.escapeInto(col, fill(row))
        finishEnclosed(sb, col, fmt)
      }
      val r: SqlInsertWriter.FieldRenderer = f.dataType match {
        // the bare list is EXACTLY LONG/LONGLONG/INT24/SHORT
        // (write.c:661) — ShortType=SHORT, IntegerType=LONG/INT24,
        // LongType=LONGLONG
        case ShortType   => (sb, row) => sb.append(row.getShort(i).toInt)
        case IntegerType => (sb, row) => sb.append(row.getInt(i))
        case LongType    => (sb, row) => sb.append(row.getLong(i))
        // TINY is NOT in the bare list — the reference encloses tinyint
        // (and bool renders through it)
        case ByteType    => enclosed(row => row.getByte(i).toInt.toString)
        case BooleanType => enclosed(row => if (row.getBoolean(i)) "1" else "0")
        case FloatType   => enclosed(row => row.getFloat(i).toString)
        case DoubleType  => enclosed(row => row.getDouble(i).toString)
        case d: DecimalType =>
          enclosed(row => row.getDecimal(i, d.precision, d.scale).toString)
        case BinaryType =>
          if (hexBlob)
            // bare uppercase hex, no 0x (mysql_hex_string, write.c:656-659)
            (sb, row) => appendHexUpper(sb, row.getBinary(i))
          else
            (sb, row) => {
              col.setLength(0)
              SqlInsertWriter.escapeBinaryInto(col, row.getBinary(i))
              finishEnclosed(sb, col, fmt)
            }
        case TimestampType => enclosed(row =>
          DateTimeUtils.toJavaTimestamp(row.getLong(i)).toString)
        case TimestampNTZType => enclosed(row =>
          SqlInsertWriter.sqlTimestamp(
            DateTimeUtils.microsToLocalDateTime(row.getLong(i))))
        case DateType => enclosed(row =>
          DateTimeUtils.daysToLocalDate(row.getInt(i)).toString)
        case StringType => enclosed(row => row.getUTF8String(i).toString)
        case dt => enclosed(row => String.valueOf(row.get(i, dt)))
      }
      r
    }
  }

  private val HexUpper = "0123456789ABCDEF".toCharArray

  private def appendHexUpper(sb: java.lang.StringBuilder, b: Array[Byte]): Unit = {
    var i = 0
    while (i < b.length) {
      sb.append(HexUpper((b(i) >> 4) & 0xf)).append(HexUpper(b(i) & 0xf))
      i += 1
    }
  }
}

/** Loader half of the pair: parse reference-shaped `.dat` files with
  * MySQL's LOAD DATA field semantics (sql/sql_load.cc behavior as the
  * dump format assumes it): split records on the line terminator,
  * fields on the field terminator, honor optional enclosure, and decode
  * `escape char + c` with MySQL's read map (`\0 \b \n \r \t \Z` decode,
  * `\N` alone is NULL, anything else is the char itself). One parse
  * task per file, like [[SqlInsertReader]]; a record whose field count
  * is not the schema's column count stops the read. */
object LoadDataReader {

  def read(spark: SparkSession, dir: String, schema: StructType,
      opts: LoadDataWriter.Options = LoadDataWriter.Options(),
      glob: String = "*.dat*"): DataFrame = {
    val fmt = opts.format
    val headerLine = if (opts.header)
      Some(LoadDataWriter.headerRow(schema.fieldNames, fmt)
        .stripSuffix(fmt.linesTerminatedBy))
    else None
    val hexBlob = opts.hexBlob
    val rows = SqlInsertReader.wholeTextFiles(spark, s"$dir/$glob")
      .flatMap { case (file, text) =>
        val records = splitRecords(text, fmt.linesTerminatedBy)
        val body = headerLine match {
          case Some(h) => records.dropWhile(_ == h)
          case None    => records
        }
        // LINES STARTING BY: MySQL skips bytes up to the prefix and
        // drops lines that never show it
        val started =
          if (fmt.linesStartingBy.isEmpty) body
          else body.flatMap { rec =>
            val at = rec.indexOf(fmt.linesStartingBy)
            if (at < 0) None else Some(rec.substring(at + fmt.linesStartingBy.length))
          }
        val convert = schema.fields.map(f => SqlInsertReader.fromText(f.dataType))
        started.iterator.map { rec =>
          val vals = parseRecord(rec, fmt)
          if (vals.length != schema.length) throw new IllegalStateException(
            s"$file: a record has ${vals.length} fields, the schema has ${schema.length} columns")
          new GenericInternalRow(Array.tabulate[Any](vals.length)(i => vals(i) match {
            case None => SqlInsertReader.nullFor(file, schema(i))
            case Some(t) if schema(i).dataType == BinaryType =>
              if (hexBlob) SqlInsertReader.hexToBytes(t, 0, t.length)
              else t.getBytes(StandardCharsets.ISO_8859_1)
            case Some(t) => convert(i)(t)
          })): InternalRow
        }
      }
    DatasetBridge.fromInternalRows(spark, rows, schema)
  }

  /** Split on the line terminator. EOF directly after the final
    * terminator ends the file — no empty trailing record (MySQL's
    * reader starts a new record only when more bytes follow); an empty
    * line MID-file IS a record (one empty field). */
  private def splitRecords(text: String, term: String): Seq[String] = {
    // literal newlines never appear inside fields (the writer escapes
    // them), so a plain split is exact
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < text.length) {
      val j = text.indexOf(term, i)
      if (j < 0) { out += text.substring(i); i = text.length }
      else { out += text.substring(i, j); i = j + term.length }
    }
    out.toSeq
  }

  /** Split one record into raw field tokens; `None` = SQL NULL (the
    * bare `\N` marker). Decoding happens here — enclosure stripped,
    * escapes resolved. */
  private[sources] def parseRecord(rec: String,
      fmt: RowFormat.Resolved): Array[Option[String]] = {
    val esc = fmt.escapeChar
    val encl = fmt.enclosureChar
    val term = fmt.fieldsTerminatedBy
    val out = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    var i = 0
    while (i <= rec.length) {
      // one field per iteration; i rests one past the last terminator
      var nul = false
      val sb = new java.lang.StringBuilder(16)
      var inEncl = false
      if (i < rec.length && encl.contains(rec.charAt(i))) { inEncl = true; i += 1 }
      var done = false
      var raw = 0 // chars consumed since field start (escape-decoded)
      while (!done && i < rec.length) {
        val c = rec.charAt(i)
        if (c == esc && i + 1 < rec.length) {
          val d = rec.charAt(i + 1)
          d match {
            case '0' => sb.append('\u0000')
            case 'b' => sb.append('\b')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'Z' => sb.append('\u001a')
            case 'N' => if (!inEncl && raw == 0 &&
                (i + 2 >= rec.length || rec.startsWith(term, i + 2))) nul = true
              else sb.append('N')
            case x   => sb.append(x)
          }
          i += 2; raw += 1
        } else if (inEncl && encl.contains(c)) {
          inEncl = false; i += 1
          // after the closing enclosure only the terminator may follow
        } else if (!inEncl && term.nonEmpty && rec.startsWith(term, i)) {
          done = true
        } else { sb.append(c); i += 1; raw += 1 }
      }
      out += (if (nul) None else Some(sb.toString))
      if (i < rec.length && term.nonEmpty && rec.startsWith(term, i))
        i += term.length
      else i = rec.length + 1 // record exhausted; close the loop
    }
    out.toArray
  }
}

/** Parser for the per-chunk companion `.sql` statement the dump side
  * writes next to each data file (write_load_data_statement,
  * mydumper_write.c:616-625) — the restore side recovers the dump's
  * delimiter knobs FROM the statement, exactly like myloader rewrites
  * the statement it finds rather than assuming defaults. */
object LoadDataStatement {

  final case class Parsed(
      table: String,
      infile: String,
      format: RowFormat.Resolved,
      header: Boolean,
      characterSet: Option[String],
      // columns routed through @var + SET col=UNHEX(@col): the data
      // file carries them as bare hex
      hexCols: Set[String])

  private val Clause = """(?s)LOAD DATA LOCAL INFILE '((?:\\.|[^'])*)' INTO TABLE `([^`]+)`""".r

  private def clause(stmt: String, name: String): Option[String] = {
    val m = (name + """ '((?:\\.|[^'])*)'""").r.findFirstMatchIn(stmt)
    m.map(_.group(1))
  }

  /** Parse one companion statement (file header lines are skipped by
    * looking for the LOAD DATA prefix). Returns None when the text has
    * no LOAD DATA statement. */
  def parse(text: String): Option[Parsed] = {
    val at = text.indexOf("LOAD DATA LOCAL INFILE")
    if (at < 0) return None
    val stmt = text.substring(at)
    val head = Clause.findFirstMatchIn(stmt).getOrElse(return None)
    val knobs = RowFormat.Knobs(
      fieldsTerminatedBy = clause(stmt, "FIELDS TERMINATED BY"),
      fieldsEnclosedBy = clause(stmt, "ENCLOSED BY")
        .map(RowFormat.replaceEscapedStrings),
      // ESCAPED BY carries the already-normalized escape text (`\\`);
      // decode to the single char the resolver re-normalizes
      fieldsEscapedBy = clause(stmt, "ESCAPED BY")
        .map(RowFormat.replaceEscapedStrings).map(_.take(1)),
      linesStartingBy = clause(stmt, "STARTING BY"),
      // two TERMINATED BY clauses exist (FIELDS and LINES) — anchor on
      // the LINES group so the fields value is never picked up
      linesTerminatedBy =
        clause(stmt, "LINES(?: STARTING BY '(?:\\\\.|[^'])*')? TERMINATED BY"))
    Some(Parsed(
      table = head.group(2),
      infile = head.group(1),
      format = RowFormat.resolve(RowFormat.LoadDataKind, knobs),
      header = stmt.contains("IGNORE 1 LINES"),
      characterSet = """CHARACTER SET (\S+)""".r
        .findFirstMatchIn(stmt).map(_.group(1)),
      hexCols = """=UNHEX\(@([^)]+)\)""".r
        .findAllMatchIn(stmt).map(_.group(1)).toSet))
  }
}
