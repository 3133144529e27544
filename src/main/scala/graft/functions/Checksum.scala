package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** Data / structure checksums (SURVEY §2.4 A4/A5).
  *
  * The reference's oracle is MySQL's `CHECKSUM TABLE` (CRC32-XOR over
  * concatenated row text, /root/reference/src/checksum.c:98-153) — the
  * load-side verification aborts on any per-table mismatch. Re-expressed
  * here as a pure Catalyst combination `bit_xor(crc32(concat_ws(...)))`:
  * both `crc32` and the `bit_xor` aggregate are codegen'd built-ins, so the
  * checksum runs as a single whole-stage-codegen pass with a map-side
  * partial aggregate — one shuffled row per partition at any scale.
  */
object Checksum {

  /** Canonical row text: columns cast to string, NULL → a 0x00 marker (a
    * real string value of "NULL" must not collide with SQL NULL; the
    * reference's serializer distinguishes them the same way —
    * mydumper_write.c:677-678 emits unquoted NULL vs quoted text), joined
    * with 0x1f separators so column boundaries can't collide.
    *
    * Compatibility: the 0x1f separator (added when the boundary-collision
    * gap was closed) changes every digest relative to pre-separator
    * builds — this is checksum algorithm v2. Dumps written by earlier
    * builds carry v1 digests and will not verify under v2; if mixed
    * archives must coexist, record the algorithm version in the dump
    * manifest alongside the digest. */
  def rowText(cols: Seq[Column]): Column =
    concat_ws("\u001f", cols.map(c => coalesce(c.cast(StringType), lit("\u0000"))): _*)

  /** CRC32-XOR digest of the given columns — the engine's `CHECKSUM TABLE`. */
  def tableChecksum(df: DataFrame, cols: Seq[String] = Nil): Column =
    bitXorAgg(rowChecksum(df, cols))

  /** The per-row CRC32 term [[tableChecksum]] XORs: a writer that XORs
    * this column over every row it writes gets the same digest bit for
    * bit (0 for no rows, where the aggregate is NULL). */
  def rowChecksum(df: DataFrame, cols: Seq[String] = Nil): Column = {
    val use = if (cols.nonEmpty) cols else df.columns.toSeq
    crc32(rowText(use.map(df.col)).cast(BinaryType))
  }

  /** `rows` and `checksum` aggregates over every column of `df`; the
    * checksum is 0, not NULL, for zero rows (what a dump records for an
    * empty table), and the literal 0 with `checksum` off. */
  def rowsAndChecksumCols(df: DataFrame, checksum: Boolean = true): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    (if (checksum) coalesce(tableChecksum(df), lit(0L)) else lit(0L)).as("checksum"))

  /** (rows, checksum) of `df`, observed on the one action `write` runs
    * over the frame it is given (checksum 0 with `checksum` off). That
    * action must write the given frame with no exchange before the write,
    * so the observation sits in the result stage and counts each row
    * once. A `write` that runs no action fails, naming `what`, after a
    * 2-minute wait instead of hanging. */
  def observed(df: DataFrame, checksum: Boolean, what: String)(
      write: DataFrame => Unit): (Long, Long) = {
    val obs = new Observation()
    val cs = rowsAndChecksumCols(df, checksum)
    write(df.observe(obs, cs.head, cs.tail: _*))
    val m = try Await.result(obs.future, 2.minutes) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"$what: the write ran no action over its frame")
    }
    (m.getAs[Long]("rows"), m.getAs[Long]("checksum"))
  }

  /** (rows, checksum) of `df` in one aggregate, null-safe for zero rows. */
  def rowsAndChecksum(df: DataFrame): (Long, Long) = {
    val r = df.select(rowsAndChecksumCols(df): _*).head()
    (r.getLong(0), r.getLong(1))
  }

  /** bit_xor aggregate over longs (Spark SQL `bit_xor` exposed to the
    * Column API). */
  def bitXorAgg(c: Column): Column = expr_agg("bit_xor", c)

  private def expr_agg(name: String, c: Column): Column =
    call_function(name, c)

  /** Structure checksum (A5): CRC-XOR over catalog rows rendered as
    * space-joined text — reference checksum.c:105-153 shape
    * `LOWER(CONV(BIT_XOR(CAST(CRC32(col) AS UNSIGNED)),10,16))`. */
  def structureChecksum(df: DataFrame, cols: Seq[String]): Column =
    lower(conv(tableChecksum(df, cols).cast(StringType), 10, 16))

  /** One-row DataFrame `(table, checksum)` for manifest recording. */
  def checksumRow(df: DataFrame, table: String): DataFrame =
    df.agg(tableChecksum(df).as("checksum"))
      .select(lit(table).as("table"), col("checksum"))

  /** Engine-portable digest: XOR of 60-bit md5-prefix values over
    * 0x1f-separated row text (NULL → 0x00 marker). Same one-pass
    * map-side-partial plan as [[tableChecksum]], but any engine with
    * md5 replays it bit-for-bit — DuckDB gates it as q_checksum_md5,
    * which CRC32 can't offer there. Use on integer/string columns;
    * float/timestamp → string rendering differs across engines. */
  def portableChecksum(df: DataFrame, cols: Seq[String]): Column =
    bitXorAgg(
      conv(substring(md5(rowText(cols.map(df.col)).cast(BinaryType)),
        1, 15), 16, 10).cast(LongType))

  def portableChecksumRow(df: DataFrame, table: String,
      cols: Seq[String]): DataFrame =
    df.agg(portableChecksum(df, cols).as("checksum"))
      .select(lit(table).as("table"), col("checksum"))
}
