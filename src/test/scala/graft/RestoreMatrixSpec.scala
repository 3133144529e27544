package graft

import java.nio.file.{Files, Paths}

import graft.cli.Main

/** Every dump format restores through `load` and `load --stream` with the
  * rows and checksum its manifest records: each case runs `cli.Main
  * dump`, then `cli.Main load --checksum fail --logfile F`, and reads the
  * `restored` lines back from F. The stream cases dump with `--stream`
  * and load with a catch-up `--stream` over the announced events. */
class RestoreMatrixSpec extends SparkTestBase {

  private val formats = Seq("sql", "LOAD_DATA", "CSV", "csv", "parquet", "orc",
    "jsonl", "clickhouse")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def restoredLines(logfile: String): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(Paths.get(logfile)))
      .asScala.toSeq.filter(_.startsWith("[graft] restored"))

  /** Dump region and nation in `format`; with `stream`, announce into a
    * fresh events dir. Returns (dump dir, events args for `load`). */
  private def dump(format: String, stream: Boolean, tables: String = "region,nation"): (String, Seq[String]) = {
    val out = tmp("graft_mx_")
    val ev = if (stream) Seq("--stream", tmp("graft_mx_ev_")) else Nil
    Main.main((Seq("dump", "--source-dir", sf, "-o", out, "--tables-list", tables,
      "--format", format) ++ ev).toArray)
    (out, ev)
  }

  for (format <- formats; stream <- Seq(false, true)) {
    test(s"--format $format restores through load${if (stream) " --stream" else ""}") {
      val (out, ev) = dump(format, stream)
      val target = tmp("graft_mx_t_")
      val lf = Files.createTempFile("graft_mx_log", ".txt").toString
      Main.main((Seq("load", "-d", out, "--target", target, "--checksum", "fail",
        "--logfile", lf) ++ ev).toArray)
      val manifest = graft.sources.Manifest.read(out).get.tables
      assert(manifest.map(_.table).sorted === Seq("nation", "region"))
      assert(restoredLines(lf).sorted === manifest.map(t =>
        s"[graft] restored graft.${t.table}: ${t.rows} rows, checksum ok").sorted)
      for (t <- manifest)
        assert(spark.read.parquet(s"$target/graft.${t.table}").count() === t.rows)
    }
  }

  test("load --stream --checksum fail names the table of a tampered chunk") {
    val (out, ev) = dump("sql", stream = true, tables = "region")
    val p = new java.io.File(out).list().sorted
      .filter(_.matches("graft\\.region\\.\\d{5}\\.sql")).map(Paths.get(out, _))
      .find(Files.readString(_).contains("AFRICA")).get
    Files.writeString(p, Files.readString(p).replaceFirst("AFRICA", "AFRICB"))
    // with its Hadoop .crc sidecar gone, only the manifest checksum sees it
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    val e = intercept[Exception] {
      Main.main((Seq("load", "-d", out, "--target", tmp("graft_mx_tt_"),
        "--checksum", "fail") ++ ev).toArray)
    }
    def chain(t: Throwable): Seq[String] = if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("checksum mismatch for graft.region")),
      chain(e))
  }

  test("load --stream honours -B and --purge-mode FAIL like a directory load") {
    val (out, ev) = dump("sql", stream = true, tables = "region")
    val target = tmp("graft_mx_b_")
    val n = Tables.t(spark, sf, "region").count()
    Main.main((Seq("load", "-d", out, "--target", target, "-B", "newdb") ++ ev).toArray)
    assert(spark.read.parquet(s"$target/newdb.region").count() === n)
    assert(!new java.io.File(target, "graft.region").exists)
    // FAIL refuses to replace the table the first load restored
    intercept[Exception] {
      Main.main((Seq("load", "-d", out, "--target", target, "-B", "newdb",
        "--purge-mode", "FAIL") ++ ev).toArray)
    }
    assert(spark.read.parquet(s"$target/newdb.region").count() === n)
  }

  test("load --resume --stream is refused by name") {
    val (out, ev) = dump("sql", stream = true, tables = "region")
    Files.writeString(Paths.get(out, "resume"), "graft.region.00000.sql\n")
    val e = intercept[IllegalArgumentException] {
      Main.main((Seq("load", "-d", out, "--target", tmp("graft_mx_r_"), "--resume") ++ ev).toArray)
    }
    assert(e.getMessage.contains("--resume does not apply to load --stream"), e.getMessage)
  }

  test("a manifest table no source restores fails the load by name") {
    val (out, _) = dump("sql", stream = false)
    // drop nation's schema file: its chunks have no schema source left
    new java.io.File(out).listFiles().filter(_.getName.startsWith("graft.nation-schema"))
      .foreach(f => Files.delete(f.toPath))
    val lf = Files.createTempFile("graft_mx_g_log", ".txt").toString
    val e = intercept[IllegalStateException] {
      Main.main(Array("load", "-d", out, "--target", tmp("graft_mx_g_"),
        "--checksum", "fail", "--logfile", lf))
    }
    assert(e.getMessage.contains("no source restored manifest table(s) nation"), e.getMessage)
    // warn restores the rest and logs the gap
    val target = tmp("graft_mx_gw_")
    Main.main(Array("load", "-d", out, "--target", target))
    assert(spark.read.parquet(s"$target/graft.region").count() ===
      Tables.t(spark, sf, "region").count())
  }
}
