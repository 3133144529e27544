package graft.core

/** Core catalog / planning model (SURVEY §1, §7 module 1).
  *
  * Mirrors the reference's runtime-discovered catalog entries
  * (`struct db_table`, /root/reference/src/mydumper/mydumper_table.c:369-517)
  * as immutable Scala case classes; schemas stay dynamic (`StructType` on the
  * DataFrame side), these carry only planning metadata.
  */
final case class ColumnMeta(
    name: String,
    dataType: String,
    nullable: Boolean = true,
    isGenerated: Boolean = false, // excluded from projections (mydumper_table.c:262-294)
    ordinal: Int = 0)

final case class TableMeta(
    database: String,
    table: String,
    columns: Seq[ColumnMeta],
    primaryKey: Seq[String] = Nil,
    engine: String = "",
    estimatedRows: Long = -1L,
    isTransactional: Boolean = true) {
  def qualified: String = s"$database.$table"
}

/** Per-table configuration (reference per-table conf,
  * /root/reference/src/common.c:199-342): where/limit/rows/columns overrides
  * plus the column→mask-function map.
  */
final case class TableConfig(
    where: Option[String] = None,
    limit: Option[Long] = None,
    rows: Option[ChunkRows] = None,
    columnsOnSelect: Map[String, String] = Map.empty, // col -> replacement expr (P2)
    // verbatim INSERT column list override (common.h:67 COLUMNS_ON_INSERT,
    // mydumper_write.c:466-470) — the restore target's columns when they
    // differ from the dumped SELECT's
    columnsOnInsert: Option[String] = None,
    masks: Map[String, Seq[String]] = Map.empty,      // col -> mask fn chain (F10)
    partitionRegex: Option[String] = None,
    numThreads: Option[Int] = None,
    skipChecksum: Boolean = false,
    // object_to_export (common.h:59, parsed at mydumper_table.c:408)
    objectsToExport: Option[ObjectScope] = None)

/** Per-table object scope — which artifacts dump for a table
  * (parse_object_scope, common.c:1540-1569): the config value is a
  * POSITIVE comma list (max 4 tokens, case-sensitive) of
  * `DATA`/`SCHEMA`/`TRIGGER`; an absent keyword disables that
  * artifact; `ALL` enables everything and `NONE` (applied last)
  * disables everything. */
final case class ObjectScope(
    data: Boolean = true, schema: Boolean = true, trigger: Boolean = true,
    view: Boolean = true, index: Boolean = true, constraint: Boolean = true)

object ObjectScope {
  def parse(v: String): ObjectScope = {
    val tokens = v.split(",", 4).toSet
    // only DATA/SCHEMA/TRIGGER are keyword-gated; view/index/constraint
    // stay enabled unless NONE (the reference never recomputes them,
    // common.c:1550-1552)
    var s = ObjectScope(
      data = tokens.contains("DATA"),
      schema = tokens.contains("SCHEMA"),
      trigger = tokens.contains("TRIGGER"))
    if (tokens.contains("ALL")) s = ObjectScope()
    if (tokens.contains("NONE")) s = ObjectScope(
      data = false, schema = false, trigger = false,
      view = false, index = false, constraint = false)
    s
  }
}

/** `--rows min:start:max` adaptive step bounds
  * (/root/reference/src/mydumper/mydumper_table.c:414-440). */
final case class ChunkRows(min: Long, start: Long, max: Long)

object ChunkRows {
  /** The reference's three accepted forms (mydumper_common.c:451-476):
    * `N` → fixed (min=start=max=N); `min:start` → max=start;
    * `min:start:max`. A leading '-' is rejected there (returns 0 =
    * don't split); extra segments beyond three are ignored. */
  def parse(s: String): Option[ChunkRows] = {
    if (s.isEmpty || s.startsWith("-")) None
    else {
      val p = s.split(":", -1)
      def n(i: Int): Option[Long] = scala.util.Try(p(i).trim.toLong).toOption
      p.length match {
        case 1 => n(0).map(v => ChunkRows(v, v, v))
        case 2 => for (mn <- n(0); st <- n(1)) yield ChunkRows(mn, st, st)
        case _ => for (mn <- n(0); st <- n(1); mx <- n(2)) yield ChunkRows(mn, st, mx)
      }
    }
  }
}

object TableConfig {
  val empty: TableConfig = TableConfig()

  private val SkipChecksumKeys = Set(
    "skip_index_checksums", "skip_database_checksums", "skip_view_checksums",
    "skip_table_checksums", "skip_data_checksums", "skip_trigger_checksums",
    "skip_routine_checksums", "skip_event_checksums")

  /** Load the per-table config map from a defaults-file INI — the
    * reference's load_per_table_info_from_key_file (common.c:199-341):
    * sections named `` `db`.`table` `` (backtick-quoted, wildcard
    * segments allowed) carry `where`/`limit`/`rows`/`num_threads`/
    * `columns_on_insert` strings, `columns_on_select_replace` column
    * maps, `partition_regex`, the `skip_*_checksums` family (any
    * non-zero → skip), and backtick-leading keys as per-COLUMN
    * masquerade function chains. Returned keys are unquoted
    * `db.table` — [[resolve]]'s coalesce input. */
  def fromIni(ini: graft.core.DefaultsFile.Ini): Map[String, TableConfig] = {
    val out = Map.newBuilder[String, TableConfig]
    ini.groups.foreach { case (group, kvs) =>
      val isTableSection = group.startsWith("`") && group.endsWith("`") &&
        group.contains("`.`")
      if (isTableSection) {
        val name = group.substring(1, group.length - 1).split("`\\.`") match {
          case Array(db, table) => s"$db.$table"
          case _                => group
        }
        var tc = TableConfig()
        val masks = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
        kvs.foreach { case (k, v) =>
          if (k.startsWith("`") && k.indexOf('`', 1) > 0) {
            // masquerade column: key `col` (common.c:215-224); repeated
            // keys chain functions on the column
            val col = k.substring(1, k.indexOf('`', 1))
            masks(col) = masks.getOrElse(col, Nil) :+ v
          } else k match {
            case "where"             => tc = tc.copy(where = Some(v))
            case "limit"             => tc = tc.copy(limit = scala.util.Try(v.toLong).toOption)
            case "rows"              => tc = tc.copy(rows = ChunkRows.parse(v))
            case "num_threads"       => tc = tc.copy(numThreads = scala.util.Try(v.toInt).toOption)
            case "columns_on_insert" => tc = tc.copy(columnsOnInsert = Some(v))
            case "partition_regex"   => tc = tc.copy(partitionRegex = Some(v))
            case "object_to_export"  => tc = tc.copy(objectsToExport = Some(ObjectScope.parse(v)))
            case "columns_on_select_replace" =>
              // "col1:expr1,`col2:expr2" — entries split on ",`", keys
              // lose their backtick after the first (common.c:246-266)
              val m = v.split(",`").toSeq.flatMap { e =>
                e.split(":", 2) match {
                  case Array(c, expr) => Some(c.stripPrefix("`") -> expr)
                  case _              => None
                }
              }.toMap
              tc = tc.copy(columnsOnSelect = tc.columnsOnSelect ++ m)
            case key if SkipChecksumKeys.contains(key) =>
              if (scala.util.Try(v.trim.toLong).toOption.exists(_ != 0))
                tc = tc.copy(skipChecksum = true)
            case _ => () // unknown keys ignored like GKeyFile extras
          }
        }
        if (masks.nonEmpty) tc = tc.copy(masks = masks.toMap)
        out += name -> tc
      }
    }
    out.result()
  }

  /** 3-level PER-ATTRIBUTE coalesce `db.table` → `*.table` → `db.*`,
    * exactly the reference's resolution (common.c:1836 m_coalesce_hash,
    * applied once per attribute at mydumper_table.c:406-470): each field
    * is looked up independently across the three keys, so a db-wide
    * `rows` default and a table-specific `where` BOTH apply. Map-valued
    * attributes (columnsOnSelect, masks) coalesce as whole units — the
    * reference coalesces the entire per-attribute hash, never key-merges
    * two sections' maps. `skipChecksum` is the one divergence a Boolean
    * field forces: it ORs across matching sections (an explicit `false`
    * in a more-specific section cannot override a broader `true`). */
  def resolve(conf: Map[String, TableConfig], db: String, table: String): TableConfig = {
    val sections =
      Seq(s"$db.$table", s"*.$table", s"$db.*").flatMap(conf.get)
    if (sections.isEmpty) empty
    else sections.reduceRight(merge)
  }

  /** Per-attribute coalesce of two sections, `hi` more specific. Public:
    * the CLI layers `--masquerade-filename` sections over
    * `--defaults-file` ones with the same rule. */
  def merge(hi: TableConfig, lo: TableConfig): TableConfig =
    TableConfig(
      where = hi.where.orElse(lo.where),
      limit = hi.limit.orElse(lo.limit),
      rows = hi.rows.orElse(lo.rows),
      columnsOnSelect =
        if (hi.columnsOnSelect.nonEmpty) hi.columnsOnSelect else lo.columnsOnSelect,
      columnsOnInsert = hi.columnsOnInsert.orElse(lo.columnsOnInsert),
      masks = if (hi.masks.nonEmpty) hi.masks else lo.masks,
      partitionRegex = hi.partitionRegex.orElse(lo.partitionRegex),
      numThreads = hi.numThreads.orElse(lo.numThreads),
      skipChecksum = hi.skipChecksum || lo.skipChecksum,
      objectsToExport = hi.objectsToExport.orElse(lo.objectsToExport))
}

/** Chunk-strategy ADT (SURVEY §2.7 C1): how a table is split into
  * independent scan ranges → Spark partitions. */
sealed trait ChunkSpec
object ChunkSpec {
  /** rows <= minChunkStep → single whole-table scan
    * (mydumper_chunks.c:323-338). */
  case object WholeTable extends ChunkSpec
  /** Integer PK range chunks (mydumper_integer_chunks.c). */
  final case class IntRange(column: String, min: Long, max: Long, step: Long,
      includeNullChunk: Boolean = true) extends ChunkSpec
  /** String PK range chunks from sampled quantile boundaries
    * (replaces the reference's LEFT(f,len) prefix walk,
    * mydumper_string_chunks.c:404-480). */
  final case class StringRange(column: String, boundaries: Seq[String],
      includeNullChunk: Boolean = true) extends ChunkSpec
  /** Binary PK range chunks (the reference's specific_19 BINARY(16)-key
    * suite): boundaries are lowercase hex byte-prefixes, rendered as
    * standard `X'..'` literals so the predicates stay comparable to the
    * binary column on ANSI servers and MySQL alike (a plain quoted
    * string literal is a collation/type error on both). */
  final case class BinaryRange(column: String, boundaries: Seq[String],
      includeNullChunk: Boolean = true) extends ChunkSpec
  /** Physical-partition chunks (mydumper_partition_chunks.c:46-141). */
  final case class Partitions(partitions: Seq[String]) extends ChunkSpec
  /** One leading-value slice of a [[MultiIntRange]]: all rows with
    * `prefix = prefixValue` carry a nested integer range on the second
    * key column. */
  final case class MultiIntPart(prefixValue: Long, min: Long, max: Long,
      step: Long)
  /** Multi-column integer-PK descent (mydumper_integer_chunks.c:354-396,
    * 640-699): when the leading PK column alone cannot split — a
    * low-cardinality leading column over a composite key, the
    * `(tenant_id, seq)` shape — each distinct leading value descends to
    * integer range chunks on the SECOND key column. Predicates are the
    * reference's nested shape: `(prefix = v AND (col >= lo AND col <= hi))`,
    * with the first chunk OR-ing the NULL catch-alls. */
  final case class MultiIntRange(prefixColumn: String, column: String,
      parts: Seq[MultiIntPart],
      includeNullChunk: Boolean = true) extends ChunkSpec
}

/** Dump manifest — the metadata-file equivalent
  * (mydumper_start_dump.c:774-808,1176-1182): run bounds, per-table row
  * counts + checksums, source position. */
final case class TableManifest(
    table: String,
    rows: Long,
    dataChecksum: Option[String] = None,
    schemaChecksum: Option[String] = None,
    files: Seq[String] = Nil,
    // surrogate file stem when the table name is not filename-safe
    // (reference determine_filename, mydumper_common.c:66-77); None
    // means files carry the table's own name
    filename: Option[String] = None,
    // engine-extension key (the reference ignores unknown keys): the
    // dump-time Spark schema as single-line StructType JSON, recorded
    // for lake-layout dumps whose read-back shape differs from dump
    // shape (partitionBy reorders columns; JSON inference alphabetizes
    // and widens) — restore conforms to this before checksum-verifying
    sparkSchema: Option[String] = None)

final case class DumpManifest(
    startedAt: String,
    finishedAt: String,
    quoteChar: String = "`",
    sourcePosition: Option[String] = None, // binlog-pos analog
    tables: Seq[TableManifest] = Nil)
