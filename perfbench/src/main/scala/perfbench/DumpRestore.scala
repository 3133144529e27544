package perfbench

import java.nio.file.{Files, Paths}
import graft.functions.Checksum
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

/** Producer then consumer: `dump` writes SQL-INSERT chunk files with
  * checksums and two masked columns, `load` restores them into a
  * parquet lake and verifies the checksums. One iteration is one dump
  * and one restore of the same generated catalog. */
final class DumpRestore(lineitemRows: Long) extends Workload {
  val name = "dump_restore"
  val unit = "rows"
  /** One pass is short, so a second warm-up is cheap and takes most of
    * the JIT warm-up out of the timed passes. */
  override val warmups = 2

  /** Masked columns: (table, column). */
  private val masked = Seq("customer" -> "c_name", "supplier" -> "s_name")
  private val rowsPerChunk = 20000

  private var src = ""
  private var masq = ""
  private var totalRows = 0L
  private var srcBytes = 0L
  /** table -> (rows, CRC32-XOR of the unmasked columns) of the source. */
  private var expected = Map.empty[String, (Long, Long)]
  private val dumpS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val loadS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var dumpBytes = 0L

  private def cli(args: String*): Unit =
    // the CLI logs progress with println; keep stdout for the result
    Console.withOut(System.err)(graft.cli.Main.main(args.toArray))

  private def writeMasq(path: String): Unit =
    Files.writeString(Paths.get(path), masked.map { case (t, c) =>
      s"[`graft`.`$t`]\n`$c` = constant masked\n" }.mkString)

  private def dumpArgs(ctx: Ctx) = Seq("dump",
    "--source-dir", src, "-o", ctx.dir("dump"), "--rows", rowsPerChunk.toString,
    "--checksum-all", "--masquerade-filename", masq,
    "--threads", ctx.nproc.toString)

  private def loadArgs(ctx: Ctx) = Seq("load",
    "-d", ctx.dir("dump"), "--target", ctx.dir("lake"), "--checksum", "fail",
    "--threads", ctx.nproc.toString)

  def prepare(ctx: Ctx, seed: Long): Unit = {
    val in = ctx.work.resolve("in")
    Files.createDirectories(in)
    src = in.resolve("src").toString
    masq = in.resolve("masq.cnf").toString
    writeMasq(masq)
    Gen.writeCatalog(ctx.spark, seed, lineitemRows, src, ctx.nproc)
    srcBytes = Fs.bytes(Paths.get(src))
    expected = Gen.catalogSizes(lineitemRows).map { case (t, _) =>
      val df = ctx.spark.read.parquet(s"$src/$t.parquet")
      t -> rowsAndCrc(df, unmasked(t, df.columns.toSeq))
    }.toMap
    totalRows = expected.values.map(_._1).sum
  }

  private def unmasked(t: String, cols: Seq[String]): Seq[String] =
    cols.filterNot(c => masked.contains(t -> c))

  private def rowsAndCrc(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count("*"), Checksum.tableChecksum(df, cols)).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(ctx: Ctx, i: Int): Boolean = {
    val d = ctx.calls("cli.dump")(cli(dumpArgs(ctx): _*))
    if (ctx.timed) d.foreach(x => dumpS += x._2)
    val l = d.flatMap(_ => ctx.calls("cli.load")(cli(loadArgs(ctx): _*)))
    if (ctx.timed) l.foreach(x => loadS += x._2)
    d.isDefined && l.isDefined
  }

  def after(ctx: Ctx, i: Int): Unit = {
    val dump = ctx.work.resolve("dump")
    val dataFiles = Fs.files(dump)
    dumpBytes = dataFiles.map(Files.size).sum
    ctx.sample("dump.files", dataFiles.size.toDouble)
    ctx.sample("dump.bytes", dumpBytes.toDouble)
    val lake = ctx.work.resolve("lake")
    val restored = Option(lake.toFile.listFiles).getOrElse(Array.empty)
      .map(f => f.getName.split("\\.").last -> f.getPath).toMap
    for ((t, (rows, crc)) <- expected) restored.get(t) match {
      case None => ctx.check(false, s"$name: table $t was not restored")
      case Some(p) =>
        val df = ctx.spark.read.parquet(p)
        val masks = masked.filter(_._1 == t).map(_._2)
        // one job per table: rows, checksum, and values that escaped the mask
        val r = df.agg(count("*"), Checksum.tableChecksum(df, unmasked(t, df.columns.toSeq)),
          sum(masks.map(c => when(col(c) =!= "masked", 1L).otherwise(0L))
            .foldLeft(lit(0L))(_ + _))).head()
        val got = (r.getLong(0), r.getLong(1))
        ctx.check(got == (rows, crc),
          s"$name: $t restored (rows, crc)=$got, source ($rows, $crc)")
        ctx.check(r.isNullAt(2) || r.getLong(2) == 0,
          s"$name: ${r.get(2)} values of $t escaped the masks ${masks.mkString(",")}")
    }
    Fs.deleteTree(dump)
    Fs.deleteTree(lake)
  }

  def finish(ctx: Ctx): Unit = ()

  def endToEnd(walls: Seq[Double]): EndToEnd =
    EndToEnd(totalRows / Stats.median(walls), dumpBytes.toDouble / srcBytes)

  def record(walls: Seq[Double]): Seq[(String, Any, String)] = Seq(
    ("input_rows", totalRows, "rows"),
    ("input_lineitem_rows", lineitemRows, "rows"),
    ("source_bytes", srcBytes, "B"),
    ("dump_rows_per_s", totalRows / Stats.median(dumpS.toSeq), "rows/s"),
    ("restore_rows_per_s", totalRows / Stats.median(loadS.toSeq), "rows/s"),
    ("dump_bytes_per_source_byte", dumpBytes.toDouble / srcBytes, "ratio"))
}
