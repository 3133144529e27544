package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.core.{DumpManifest, TableManifest}

/** Persist / reload the dump dir's `metadata` file in the REFERENCE's
  * exact layout, so a mydumper-written dump restores here and our dumps
  * restore under myloader:
  *
  *  - `# Started dump at:` header, `[config]` with symbolic
  *    `quote-character = BACKTICK|DOUBLE_QUOTE` (mydumper_start_dump.c:
  *    1176-1178), `[myloader_session_variables]` with the SQL_MODE line
  *    (:1180-1181);
  *  - a `[source]` section carrying binlog coordinates — commented
  *    `# SOURCE_LOG_FILE/POS` human lines plus the uncommented
  *    source-data form (mydumper_working_thread.c:536-560);
  *  - one section per table keyed by its FILE STEM, with
  *    `real_table_name`, `rows`, and the `*_checksum` keys — underscore
  *    key names exactly as print_dbt_on_metadata_gstring writes them
  *    (mydumper_start_dump.c:774-797);
  *  - a trailing `[config] max-statement-size` block then
  *    `# Finished dump at:` (:1711-1717).
  *
  * The parser also accepts this engine's pre-round-6 hyphenated keys
  * (`data-checksum`, `source-position`, literal quote char) so older
  * dump dirs keep restoring. `files` is an engine-extension key the
  * reference ignores. */
object Manifest {

  val FileName = "metadata"

  private val ControlSections = Set("config", "myloader_session_variables",
    "source", "master", "replica")

  def render(m: DumpManifest): String = {
    val sb = new StringBuilder
    sb ++= s"# Started dump at: ${m.startedAt}\n"
    val qc = m.quoteChar match {
      case "\"" | "DOUBLE_QUOTE" => "DOUBLE_QUOTE"
      case _                     => "BACKTICK"
    }
    sb ++= s"[config]\nquote-character = $qc\n"
    sb ++= "\n[myloader_session_variables]\nSQL_MODE= /*!40101\n"
    m.sourcePosition.flatMap(graft.extract.Replica.fromManifestPosition)
      .foreach { c =>
        sb ++= "\n[source]\n"
        sb ++= s"# Channel_Name = '${c.channel.getOrElse("")}' # It can be use to setup replication FOR CHANNEL\n"
        c.gtid.foreach(g => sb ++= s"# executed_gtid_set = \"$g\"\n")
        sb ++= s"# SOURCE_LOG_FILE = \"${c.sourceLogFile}\"\n"
        sb ++= s"# SOURCE_LOG_POS = ${c.sourceLogPos}\n"
        sb ++= s"#SOURCE_HOST = \"${c.sourceHost}\"\n"
        c.gtid.foreach(g => sb ++= s"executed_gtid_set = \"$g\"\n")
        sb ++= s"SOURCE_LOG_FILE = \"${c.sourceLogFile}\"\n"
        sb ++= s"SOURCE_LOG_POS = ${c.sourceLogPos}\n"
      }
    // a foreign opaque position (not our Coords codec) keeps the legacy key
    if (m.sourcePosition.isDefined &&
        m.sourcePosition.flatMap(graft.extract.Replica.fromManifestPosition).isEmpty)
      sb ++= s"source-position = ${m.sourcePosition.get}\n"
    m.tables.foreach { t =>
      sb ++= s"\n[${t.filename.getOrElse(t.table)}]\n"
      sb ++= s"real_table_name=${t.table}\n"
      sb ++= s"rows = ${t.rows}\n"
      t.dataChecksum.foreach(c => sb ++= s"data_checksum = $c\n")
      t.schemaChecksum.foreach(c => sb ++= s"schema_checksum = $c\n")
      if (t.files.nonEmpty) sb ++= s"files = ${t.files.mkString(",")}\n"
      t.sparkSchema.foreach(s => sb ++= s"spark_schema = $s\n")
    }
    sb ++= "\n[config]\nmax-statement-size = 1000000\n"
    sb ++= s"\n# Finished dump at: ${m.finishedAt}\n"
    sb.result()
  }

  /** Write `m` as `outDir`'s `metadata`, atomically: the text goes to a
    * hidden sibling temp file that is then renamed over `metadata`, so a
    * crash leaves either the previous manifest or the new one, never a
    * truncated file for `--resume` to parse. */
  def write(outDir: String, m: DumpManifest): Path = write(outDir, m, _ => ())

  /** [[write]] with `staged` run on the written temp file before the
    * rename: the seam a spec uses to fail between the two. */
  private[graft] def write(outDir: String, m: DumpManifest,
      staged: Path => Unit): Path = {
    val p = Paths.get(outDir, FileName)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".$FileName.tmp")
    try {
      Files.write(tmp, render(m).getBytes(StandardCharsets.UTF_8))
      staged(tmp)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    p
  }

  def parse(text: String): DumpManifest = {
    var started = ""; var finished = ""
    var quote = "`"; var sourcePos: Option[String] = None
    // [source] coordinates accumulate here (commented or not — the
    // reference writes the no-source-data form entirely commented,
    // mydumper_working_thread.c:540-543)
    var srcFile: Option[String] = None; var srcPos: Option[Long] = None
    var srcGtid: Option[String] = None; var srcHost: Option[String] = None
    var srcChannel: Option[String] = None
    val tables = Seq.newBuilder[TableManifest]
    var cur: Option[TableManifest] = None
    var curSection: Option[String] = None
    var control: String = "" // which control section we're in, "" = table
    def flush(): Unit = { cur.foreach(tables += _); cur = None }
    def unquote(v: String): String = {
      val t = v.trim
      if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
        t.substring(1, t.length - 1)
      else if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
        t.substring(1, t.length - 1)
      else t
    }
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("# Started dump at:"))
        started = line.stripPrefix("# Started dump at:").trim
      else if (line.startsWith("# Finished dump at:"))
        finished = line.stripPrefix("# Finished dump at:").trim
      else if (line.startsWith("[") && line.endsWith("]")) {
        flush()
        val section = line.substring(1, line.length - 1)
        curSection = Some(section)
        val sl = section.toLowerCase
        control = if (ControlSections.contains(sl)) sl else ""
        if (control.isEmpty) cur = Some(TableManifest(section, rows = 0L))
      } else if (control == "source" || control == "master" || control == "replica") {
        // strip the comment marker: coordinate lines are commented in
        // the default (no --source-data) dump
        val l = line.dropWhile(c => c == '#' || c == ' ')
        if (l.contains("=")) {
          val Array(k, v) = l.split("=", 2).map(_.trim)
          k.toUpperCase match {
            case "SOURCE_LOG_FILE" | "MASTER_LOG_FILE" | "FILE" =>
              srcFile = Some(unquote(v))
            case "SOURCE_LOG_POS" | "MASTER_LOG_POS" | "POSITION" =>
              srcPos = scala.util.Try(unquote(v).toLong).toOption
            case "EXECUTED_GTID_SET" | "GTID" =>
              srcGtid = Some(unquote(v)).filter(_.nonEmpty)
            case "SOURCE_HOST" | "MASTER_HOST" | "HOST" =>
              srcHost = Some(unquote(v)).filter(_.nonEmpty)
            case "CHANNEL_NAME" =>
              srcChannel = Some(unquote(v.takeWhile(_ != '#'))).filter(_.nonEmpty)
            case _ => ()
          }
        }
      } else if (line.contains("=") && !line.startsWith("#")) {
        val Array(k, v) = line.split("=", 2).map(_.trim)
        if (control == "config") k match {
          case "quote-character" => quote = v match {
            case "BACKTICK"     => "`"
            case "DOUBLE_QUOTE" => "\""
            case other          => other // legacy literal form
          }
          case "source-position" => sourcePos = Some(v)
          case _                 => ()
        } else if (control.isEmpty) cur.foreach { t =>
          k match {
            case "rows"            => cur = Some(t.copy(rows = v.toLong))
            case "real_table_name" =>
              // the section name is the FILE STEM; this key carries the
              // real table name (reference always writes it,
              // mydumper_start_dump.c:780). Equal → no surrogate; else
              // remember the stem under `filename` like our dumps do.
              val section = curSection.getOrElse(v)
              if (section != v)
                cur = Some(t.copy(table = v, filename = Some(section)))
            case "data_checksum" | "data-checksum" =>
              cur = Some(t.copy(dataChecksum = Some(v)))
            case "schema_checksum" | "schema-checksum" =>
              cur = Some(t.copy(schemaChecksum = Some(v)))
            case "files"           => cur = Some(t.copy(files = v.split(",").toSeq))
            case "filename"        => cur = Some(t.copy(filename = Some(v)))
            case "spark_schema"    => cur = Some(t.copy(sparkSchema = Some(v)))
            case _                 => ()
          }
        }
      }
    }
    flush()
    if (sourcePos.isEmpty && srcFile.isDefined && srcPos.isDefined)
      sourcePos = Some(graft.extract.Replica.toManifestPosition(
        graft.extract.Replica.Coords(srcHost.getOrElse(""), srcFile.get,
          srcPos.get, srcGtid, srcChannel)))
    DumpManifest(started, finished, quote, sourcePos, tables.result())
  }

  def read(dir: String): Option[DumpManifest] = {
    val p = Paths.get(dir, FileName)
    if (!Files.exists(p)) None
    else Some(parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }
}
