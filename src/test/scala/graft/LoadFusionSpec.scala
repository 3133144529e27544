package graft

import java.nio.file.{Files, Path, Paths}
import graft.functions.{Checksum, Masquerade}
import graft.sources.SqlInsertReader
import org.apache.spark.graft.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, lit}

/** Each table is one pass on both sides of dump → load: `Load.run`
  * reads a table one task per chunk file and verifies the count and
  * CRC32-XOR it observes on the restore's own write; `Dump.dumpTable`
  * takes the checksum from its write, never from a probe. */
class LoadFusionSpec extends SparkTestBase {

  private def tmp(): String = Scratch.dir("graft_fusion_")

  /** What the restore verified before it fused: count and checksum. */
  private def oldRowsAndChecksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(org.apache.spark.sql.functions.count(lit(1)),
      coalesce(Checksum.tableChecksum(df), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def chunkFiles(dir: String, stem: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.matches(s"""\\Q$stem\\E\\.\\d{5}\\.sql.*""")).sorted

  private def noopWrite(stem: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private lazy val orders = Tables.orders(spark, sf)

  /** orders dumped as SQL into 4 chunk files. */
  private def dumpOrders(cfg: Dump.Config => Dump.Config = identity): String = {
    val out = tmp()
    Dump.dumpTable(orders, "orders", cfg(Dump.Config(outDir = out, db = "tpch", targetChunks = 4)))
    out
  }

  test("a table of 4 chunk files restores in one job of 4 tasks") {
    val out = dumpOrders()
    assert(chunkFiles(out, "tpch.orders").size === 4)
    val (expRows, expCrc) = oldRowsAndChecksum(orders)
    val target = tmp()
    val src = Load.TableSource("tpch.orders", orders.schema, Some(expCrc))
    val (res, c) = Counters.measure(spark.sparkContext)(
      Load.run(spark, out, Seq(src), Load.ChecksumFail) {
        (stem, df) => df.write.mode("overwrite").parquet(s"$target/$stem") })
    assert((c.jobs, c.tasks) === ((1, 4)))
    assert(res === Seq(Load.Result("tpch.orders", expRows, Some(true))))
    assert(oldRowsAndChecksum(spark.read.parquet(s"$target/tpch.orders")) === ((expRows, expCrc)))
  }

  test("rows and checksum equal count and coalesce(tableChecksum, 0), zero chunks too") {
    val out = dumpOrders()
    val empty = Tables.region(spark, sf).limit(0)
    assert(oldRowsAndChecksum(empty) === ((0L, 0L)))
    val (rows, crc) = oldRowsAndChecksum(orders)
    val srcs = Seq(Load.TableSource("tpch.orders", orders.schema, Some(crc)),
      // no `tpch.region.*` file in the dir: a schema-only table
      Load.TableSource("tpch.region", empty.schema, Some(0L)))
    val res = Load.run(spark, out, srcs, Load.ChecksumFail)(noopWrite)
    assert(res === Seq(Load.Result("tpch.orders", rows, Some(true)),
      Load.Result("tpch.region", 0L, Some(true))))
  }

  test("fail throws after the write, warn reports the mismatch, skip counts rows") {
    val out = dumpOrders()
    val rows = orders.count()
    val bad = Load.TableSource("tpch.orders", orders.schema, Some(12345L))
    val target = tmp()
    val e = intercept[Exception] {
      Load.run(spark, out, Seq(bad), Load.ChecksumFail) {
        (stem, df) => df.write.mode("overwrite").parquet(s"$target/$stem") }
    }
    def chain(t: Throwable): Seq[String] = if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("checksum mismatch")))
    // the mismatch surfaces after the write, as in myloader
    assert(spark.read.parquet(s"$target/tpch.orders").count() === rows)
    assert(Load.run(spark, out, Seq(bad))(noopWrite) ===
      Seq(Load.Result("tpch.orders", rows, Some(false))))
    assert(Load.run(spark, out, Seq(bad), Load.ChecksumSkip)(noopWrite) ===
      Seq(Load.Result("tpch.orders", rows, None)))
  }

  test("hidden and underscore files that match the glob are not read") {
    val out = dumpOrders()
    val dir = tmp()
    chunkFiles(out, "tpch.orders").foreach(f => Files.copy(Paths.get(out, f), Paths.get(dir, f)))
    // a tuple of the wrong arity in each: reading either would fail
    for (junk <- Seq(".x.sql.tmp", "_SUCCESS"))
      Files.writeString(Paths.get(dir, junk), "INSERT INTO `orders` VALUES (1);\n")
    assert(SqlInsertReader.listFiles(spark, s"$dir/*").size === 4)
    val back = SqlInsertReader.read(spark, dir, orders.schema, glob = "*")
    assert(back.rdd.getNumPartitions === 4)
    assert(oldRowsAndChecksum(back) === oldRowsAndChecksum(orders))
  }

  test("gzip and zstd chunks restore and verify") {
    val (rows, crc) = oldRowsAndChecksum(orders)
    for (codec <- Seq("gzip", "zstd")) {
      val out = dumpOrders(_.copy(compress = true, compressCodec = codec))
      val ext = if (codec == "gzip") ".gz" else ".zst"
      val files = chunkFiles(out, "tpch.orders")
      assert(files.size === 4 && files.forall(_.endsWith(ext)), files)
      val src = Load.TableSource("tpch.orders", orders.schema, Some(crc))
      val (res, c) = Counters.measure(spark.sparkContext)(
        Load.run(spark, out, Seq(src), Load.ChecksumFail)(noopWrite))
      assert(res === Seq(Load.Result("tpch.orders", rows, Some(true))), codec)
      assert((c.jobs, c.tasks) === ((1, 4)), codec)
    }
  }

  test("a --resume file list reads exactly the listed chunks, one task each") {
    val out = dumpOrders()
    val listed = chunkFiles(out, "tpch.orders").take(2)
    val expected = listed.map(f =>
      SqlInsertReader.read(spark, out, orders.schema, glob = f).count()).sum
    val src = Load.TableSource("tpch.orders", orders.schema, None, onlyFiles = Some(listed))
    val (res, c) = Counters.measure(spark.sparkContext)(
      Load.run(spark, out, Seq(src), Load.ChecksumSkip)(noopWrite))
    assert(res === Seq(Load.Result("tpch.orders", expected, None)))
    assert(expected > 0 && expected < orders.count())
    assert((c.jobs, c.tasks) === ((1, 2)))
  }

  test("a tuple whose value count differs from the schema fails with the file and counts") {
    val dir = tmp()
    val schema = orders.schema
    for ((name, tuple) <- Seq("few.sql" -> "(1,2)",
        "many.sql" -> s"(${Seq.fill(schema.length + 1)("1").mkString(",")})")) {
      Files.writeString(Paths.get(dir, name), s"INSERT INTO `orders` VALUES $tuple;\n")
      val e = intercept[Exception](SqlInsertReader.read(spark, dir, schema, glob = name).count())
      def chain(t: Throwable): Seq[String] = if (t == null) Nil else t.getMessage +: chain(t.getCause)
      val n = tuple.count(_ == ',') + 1
      assert(chain(e).exists(m => m != null && m.contains(name) &&
        m.contains(s"has $n values, the schema has ${schema.length} columns")), chain(e))
    }
  }

  /** Every data file under `dir` (recursively, but not the manifest),
    * with Spark's per-write UUIDs taken out of the names. */
  private def dataFiles(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val uuid = "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "metadata")
      .map((p: Path) => root.relativize(p).toString.replaceAll(uuid, "") ->
        Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  test("every format records coalesce(tableChecksum(masked df), 0) and writes the same bytes with or without it") {
    val c = Tables.customer(spark, sf)
    val masks = Masquerade.Registry(Map(
      "tpch.customer.c_name" -> Seq(Masquerade.Constant("MASKED"))))
    val (_, crc) = oldRowsAndChecksum(masks(c, "tpch", "customer"))
    assert(crc != 0L)
    val formats = Seq(Dump.SqlFormat, Dump.LoadDataFormat(), Dump.LoadDataFormat(csvVariant = true),
      Dump.CsvFormat, Dump.ParquetFormat, Dump.OrcFormat, Dump.JsonlFormat, Dump.ClickHouseFormat)
    for (format <- formats) {
      def dump(checksum: Boolean): (Dump.TableResult, String) = {
        val out = tmp()
        (Dump.dumpTable(c, "customer", Dump.Config(outDir = out, db = "tpch", format = format,
          targetChunks = 3, masks = masks, checksum = checksum)), out)
      }
      val (on, onDir) = dump(checksum = true)
      val (off, offDir) = dump(checksum = false)
      assert((on.rows, on.checksum) === ((c.count(), crc)), format)
      assert((off.rows, off.checksum) === ((c.count(), 0L)), format)
      val (onFiles, offFiles) = (dataFiles(onDir), dataFiles(offDir))
      assert(onFiles.keySet === offFiles.keySet, format)
      onFiles.foreach { case (k, v) => assert(offFiles(k) === v, s"$format: bytes of $k differ") }
    }
  }
}
