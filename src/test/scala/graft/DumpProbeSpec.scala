package graft

import java.nio.file.Files
import graft.core.TableConfig
import graft.functions.Checksum
import graft.operators.ChunkPlanner
import org.apache.spark.sql.functions.{coalesce, lit}

/** `Dump.dumpTable` probes each table once (row count, checksum and the
  * chunk column's bounds in one aggregate), and `Dump.run` dumps tables
  * concurrently without changing a byte of its output. */
class DumpProbeSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft_probe_").toString

  test("a checksummed, --rows-sized table dumps in at most 3 jobs") {
    val df = Tables.orders(spark, sf)
    assert(df.rdd.getNumPartitions === 1, "the spec needs a one-split source")
    val cfg = Dump.Config(outDir = tmp(), rowsPerChunk = Some(1000000L))
    assert(cfg.checksum)
    val (r, c) = Counters.measure(spark.sparkContext)(Dump.dumpTable(df, "orders", cfg))
    assert(r.rows === df.count() && r.checksum != 0L)
    // one probe aggregate (two jobs under AQE) + the write
    assert(c.jobs <= 3, s"${c.jobs} jobs for one table")
  }

  test("the fused probe reports what the separate probes did") {
    val df = Tables.orders(spark, sf)
    val rows = df.count()
    val crc = df.agg(coalesce(Checksum.tableChecksum(df), lit(0L))).head().getLong(0)
    def chunksAt(target: Int) =
      math.max(ChunkPlanner.planInteger(df, "o_orderkey", target).size, 1)
    for ((rowsPerChunk, target) <- Seq(None -> 32) ++
        Seq(100L, 700L, 5000L).map(r => Some(r) -> math.ceil(rows.toDouble / r).toInt)) {
      val r = Dump.dumpTable(df, "orders",
        Dump.Config(outDir = tmp(), rowsPerChunk = rowsPerChunk))
      assert((r.rows, r.checksum, r.chunks) === ((rows, crc, chunksAt(target))),
        s"rowsPerChunk $rowsPerChunk")
    }
  }

  test("a where matching no rows dumps rows 0, checksum 0") {
    val r = Dump.dumpTable(Tables.orders(spark, sf), "orders",
      Dump.Config(outDir = tmp(), db = "tpch", rowsPerChunk = Some(100L),
        perTable = Map("tpch.orders" -> TableConfig(where = Some("o_orderkey < 0")))))
    assert((r.rows, r.checksum, r.chunks) === ((0L, 0L, 1)))
  }

  test("Dump.run at tableThreads = 4 writes what tableThreads = 1 writes") {
    val (n, r) = (Tables.nation(spark, sf), Tables.region(spark, sf))
    // filename-unsafe table and database names all take surrogate stems,
    // numbered in first-call order
    val tables = Seq(("a.b", n, true), ("x/y", r, false), ("plain", r, true),
      ("c.d", n, false), ("e f.g", r, true))
    def dump(threads: Int): (Map[String, Seq[Byte]], core.DumpManifest) = {
      val out = tmp()
      val m = Dump.run(spark, tables, Dump.Config(outDir = out, db = "db.dot"),
        tableThreads = threads)
      val files = new java.io.File(out).listFiles.filter(_.getName != "metadata")
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
      (files, m)
    }
    val (seqFiles, seqM) = dump(1)
    val (parFiles, parM) = dump(4)
    assert(seqM.tables.flatMap(_.filename).size === 4, seqM.tables)
    assert(parFiles.keySet === seqFiles.keySet)
    seqFiles.keys.foreach(k => assert(parFiles(k) === seqFiles(k), s"bytes of $k differ"))
    assert(parM.tables === seqM.tables)
  }
}
