package graft

import graft.core.TableConfig
import graft.extract.TableFilter
import graft.functions.Masquerade
import java.nio.file.Files

/** End-to-end dump → load → checksum-verify over the full pipeline
  * (the reference's test_mydumper.sh round-trip, SURVEY §5). */
class DumpLoadSpec extends SparkTestBase {

  test("dump then load three tables with checksum verification") {
    val out = Files.createTempDirectory("graft_e2e_dump_").toString
    val tables = Seq(
      ("region", Tables.region(spark, sf), true),
      ("nation", Tables.nation(spark, sf), true),
      ("supplier", Tables.supplier(spark, sf), false)) // non-trx phase first
    val manifest = Dump.run(spark, tables,
      Dump.Config(outDir = out, db = "tpch"))
    assert(manifest.tables.map(_.table).toSet === Set("region", "nation", "supplier"))
    assert(manifest.tables.forall(_.rows > 0))

    val sources = tables.map { case (name, df, _) =>
      val expected = manifest.tables.find(_.table == name).get.dataChecksum.get.toLong
      Load.TableSource(s"tpch.$name", df.schema, Some(expected))
    }
    val restoredDir = Files.createTempDirectory("graft_e2e_restore_").toString
    val results = Load.run(spark, out, sources) { (stem, df) =>
      df.write.mode("overwrite").parquet(s"$restoredDir/$stem")
    }
    assert(results.forall(_.checksumOk.contains(true)))
    // and the restored parquet matches the original rows
    val back = spark.read.parquet(s"$restoredDir/tpch.nation")
    assert(back.count() === Tables.nation(spark, sf).count())

    // directory-only restore: NO schemas or checksums passed — sources
    // reconstruct from the dump's own schema files + metadata manifest
    // (the reference contract: myloader consumes only the dump dir)
    val selfSources = Load.sourcesFromDir(out)
    assert(selfSources.map(_.table).sorted
      === Seq("tpch.nation", "tpch.region", "tpch.supplier"))
    selfSources.foreach { s =>
      assert(s.expectedChecksum.isDefined, s"${s.table} lost its checksum")
    }
    // reconstructed schema matches the original column names and count
    val nationSrc = selfSources.find(_.table == "tpch.nation").get
    assert(nationSrc.schema.fieldNames.toSeq
      === Tables.nation(spark, sf).schema.fieldNames.toSeq)
    val selfDir = Files.createTempDirectory("graft_e2e_self_").toString
    val selfResults = Load.run(spark, out, selfSources) { (stem, df) =>
      df.write.mode("overwrite").parquet(s"$selfDir/$stem")
    }
    assert(selfResults.forall(_.checksumOk.contains(true)),
      "directory-only restore failed checksum verification")
    assert(spark.read.parquet(s"$selfDir/tpch.region").count()
      === Tables.region(spark, sf).count())
  }

  /** A restore sink that writes nowhere: verification rides the write,
    * so the frame must still be written once. */
  private val noopWrite: (String, org.apache.spark.sql.DataFrame) => Unit =
    (_, df) => df.write.format("noop").mode("overwrite").save()

  test("checksum mismatch aborts the load (--checksum=fail)") {
    val out = Files.createTempDirectory("graft_e2e_bad_").toString
    val r = Tables.region(spark, sf)
    Dump.run(spark, Seq(("region", r, true)), Dump.Config(outDir = out, db = "tpch"))
    val badSource = Load.TableSource("tpch.region", r.schema, Some(12345L))
    val ex = intercept[Exception] {
      Load.run(spark, out, Seq(badSource), Load.ChecksumFail)(noopWrite)
    }
    // warn (the reference default, myloader_arguments.c:193-194) records
    // the mismatch but completes; skip doesn't verify at all
    val warned = Load.run(spark, out, Seq(badSource))(noopWrite)
    assert(warned.head.checksumOk === Some(false))
    val skipped = Load.run(spark, out, Seq(badSource), Load.ChecksumSkip)(noopWrite)
    assert(skipped.head.checksumOk === None)
    assert(skipped.head.rows > 0)
    def chain(e: Throwable): Seq[String] =
      if (e == null) Nil else e.getMessage +: chain(e.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("checksum mismatch")))
  }

  test("per-table where/limit and masks apply during dump") {
    val out = Files.createTempDirectory("graft_e2e_conf_").toString
    val c = Tables.customer(spark, sf)
    val cfg = Dump.Config(
      outDir = out, db = "tpch",
      perTable = Map("tpch.customer" -> TableConfig(where = Some("c_custkey < 50"))),
      masks = Masquerade.Registry(Map(
        "tpch.customer.c_name" -> Seq(Masquerade.Constant("MASKED")))))
    val res = Dump.dumpTable(c, "customer", cfg)
    assert(res.rows === c.filter("c_custkey < 50").count())
    val back = graft.sources.SqlInsertReader.read(spark, out, c.schema,
      "tpch.customer.*.sql*")
    assert(back.select("c_name").distinct().collect().map(_.getString(0)).toSet === Set("MASKED"))
  }

  test("per-table config coalesces attribute-wise across db.table / *.table / db.*") {
    // the reference resolves each attribute INDEPENDENTLY across the
    // three keys (common.c:1836 m_coalesce_hash per attribute at
    // mydumper_table.c:406-470) — a db-wide rows default and a
    // table-specific where must both apply
    val conf = Map(
      "tpch.customer" -> TableConfig(where = Some("c_custkey < 50")),
      "*.customer" -> TableConfig(limit = Some(10L),
        masks = Map("c_name" -> Seq("random_string"))),
      "tpch.*" -> TableConfig(numThreads = Some(8), limit = Some(99L),
        skipChecksum = true))
    val r = TableConfig.resolve(conf, "tpch", "customer")
    assert(r.where === Some("c_custkey < 50")) // exact key
    assert(r.limit === Some(10L))              // *.table beats db.*
    assert(r.masks === Map("c_name" -> Seq("random_string")))
    assert(r.numThreads === Some(8))           // falls through to db.*
    assert(r.skipChecksum)
    // unknown table sees only the db-wide section
    val dbWide = TableConfig.resolve(conf, "tpch", "orders")
    assert(dbWide.where.isEmpty && dbWide.numThreads === Some(8)
      && dbWide.limit === Some(99L))
    // no matching section at all -> empty
    assert(TableConfig.resolve(conf, "other", "t") === TableConfig.empty)
  }

  test("per-table config loads from a defaults-file INI (common.c:199-341)") {
    val ini = graft.core.DefaultsFile.parse(
      """[`tpch`.`customer`]
        |where = c_custkey < 1000
        |rows = 100:1000:100000
        |num_threads = 4
        |`c_name` = random_string
        |`c_phone` = random_format <number 10>
        |skip_data_checksums = 1
        |columns_on_select_replace = c_comment:'masked',`c_address:'x'
        |
        |[`tpch`.`*`]
        |limit = 500
        |
        |[mydumper_session_variables]
        |wait_timeout = 300
        |
        |[not_a_table_section]
        |where = ignored
        |""".stripMargin)
    val conf = TableConfig.fromIni(ini)
    // only backtick-quoted `db`.`table` sections are per-table config
    assert(conf.keySet === Set("tpch.customer", "tpch.*"))
    val c = conf("tpch.customer")
    assert(c.where === Some("c_custkey < 1000"))
    assert(c.rows === Some(graft.core.ChunkRows(100, 1000, 100000)))
    assert(c.numThreads === Some(4))
    assert(c.skipChecksum)
    assert(c.masks === Map("c_name" -> Seq("random_string"),
      "c_phone" -> Seq("random_format <number 10>")))
    assert(c.columnsOnSelect === Map("c_comment" -> "'masked'", "c_address" -> "'x'"))
    // the mask strings parse into real functions
    assert(graft.functions.Masquerade.parse(c.masks("c_name").head)
      === graft.functions.Masquerade.RandomStringDet)
    // and the map feeds resolve()'s coalesce
    val r = TableConfig.resolve(conf, "tpch", "customer")
    assert(r.where === Some("c_custkey < 1000") && r.limit === Some(500L))
    // end-to-end: config-file masks apply during the dump
    val dir = Files.createTempDirectory("graft_cfmask_").toString
    val maskIni = graft.core.DefaultsFile.parse(
      "[`tpch`.`region`]\n`r_name` = constant 'MASKED'\n")
    Dump.run(spark, Seq(("region", Tables.region(spark, sf), true)),
      Dump.Config(outDir = dir, db = "tpch",
        perTable = TableConfig.fromIni(maskIni)))
    val src = Load.sourcesFromDir(dir)
    val back = graft.sources.SqlInsertReader.read(spark, dir,
      src.head.schema, glob = "tpch.region.*.sql*")
    assert(back.select("r_name").distinct().collect()
      .map(_.getString(0)).toSet === Set("MASKED"))
  }

  test("object_to_export gates per-table artifacts (common.c:1540-1569)") {
    import graft.core.ObjectScope
    // positive list; absent keyword disables; view/index/constraint
    // stay enabled unless NONE
    val d = ObjectScope.parse("DATA")
    assert(d.data && !d.schema && !d.trigger && d.view && d.index && d.constraint)
    val ds = ObjectScope.parse("DATA,SCHEMA,TRIGGER")
    assert(ds.data && ds.schema && ds.trigger)
    assert(ObjectScope.parse("ALL") === ObjectScope())
    val none = ObjectScope.parse("NONE")
    assert(!none.data && !none.schema && !none.view)
    // case-sensitive exact match like str_list_has_str (common.c:1530)
    assert(!ObjectScope.parse("data").data)
    // e2e: a SCHEMA-only table dumps its schema file but no data chunks
    val dir = Files.createTempDirectory("graft_scope_").toString
    val ini = graft.core.DefaultsFile.parse(
      "[`tpch`.`region`]\nobject_to_export = SCHEMA\n")
    Dump.run(spark, Seq(("region", Tables.region(spark, sf), true)),
      Dump.Config(outDir = dir, db = "tpch",
        perTable = TableConfig.fromIni(ini)))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("tpch.region-schema.sql"))
    assert(!names.exists(n => Load.classify(n) == Load.Data))
  }

  test("--rows accepts the reference's N / min:start / min:start:max forms") {
    import graft.core.ChunkRows
    assert(ChunkRows.parse("1000") === Some(ChunkRows(1000, 1000, 1000)))
    assert(ChunkRows.parse("100:1000") === Some(ChunkRows(100, 1000, 1000)))
    assert(ChunkRows.parse("100:1000:10000") === Some(ChunkRows(100, 1000, 10000)))
    assert(ChunkRows.parse("-5") === None)    // leading '-' rejected (common.c:452)
    assert(ChunkRows.parse("x:y") === None)
    // per-table rows override beats the global --rows during dump sizing
    val out = Files.createTempDirectory("graft_rows_").toString
    val r = Dump.dumpTable(Tables.nation(spark, sf), "nation",
      Dump.Config(outDir = out, db = "tpch", rowsPerChunk = Some(1L),
        perTable = Map("tpch.nation" ->
          TableConfig(rows = Some(ChunkRows(1, 1000000, 1000000))))))
    assert(r.chunks === 1, s"1M-row start step must yield one chunk, got ${r.chunks}")
  }

  test("filename-unsafe table names get surrogate stems and round-trip") {
    // reference determine_filename (mydumper_common.c:66-77): unsafe
    // names (here: dots and a slash, which would corrupt the loader's
    // db.table.NNNNN parse) dump under a memoized mydumper_<n> stem;
    // the real name travels in the DDL and the manifest `filename` key
    val out = Files.createTempDirectory("graft_stem_").toString
    val weird = "weird.table/name"
    val manifest = Dump.run(spark,
      Seq((weird, Tables.region(spark, sf), true),
          ("nation", Tables.nation(spark, sf), true)),
      Dump.Config(outDir = out, db = "tpch"))
    val names = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("tpch.mydumper_0.")), names.toString)
    assert(names.contains("tpch.mydumper_0-schema.sql"))
    assert(!names.exists(_.contains("weird.table")))   // never raw on disk
    assert(names.exists(_.startsWith("tpch.nation."))) // safe name unchanged
    val entry = manifest.tables.find(_.table == weird).get
    assert(entry.filename === Some("mydumper_0"))
    assert(manifest.tables.find(_.table == "nation").get.filename.isEmpty)
    // DDL inside the schema file keeps the REAL name
    val ddl = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "tpch.mydumper_0-schema.sql")), "UTF-8")
    assert(ddl.contains("weird.table/name"))
    // self-describing restore: sourcesFromDir maps the stem back
    val srcs = Load.sourcesFromDir(out)
    val sur = srcs.find(_.table == "tpch.mydumper_0").get
    assert(sur.realTable === Some(weird))
    assert(sur.expectedChecksum === entry.dataChecksum.map(_.toLong))
    val restored = Files.createTempDirectory("graft_stem_r_").toString
    val results = Load.run(spark, out, srcs) { (stem, df) =>
      df.write.mode("overwrite").parquet(s"$restored/$stem")
    }
    assert(results.forall(_.checksumOk.contains(true)))
    assert(results.find(_.table == "tpch.mydumper_0").get.rows ===
      Tables.region(spark, sf).count())
    // a table literally named like a surrogate must not collide
    val reg = new Dump.StemRegistry
    assert(reg.stem("mydumper_7") === "mydumper_0")
    assert(reg.stem("a.b") === "mydumper_1")
    assert(reg.stem("a.b") === "mydumper_1") // memoized
    assert(reg.stem("plain") === "plain")
  }

  test("file-type router classifies dump artifacts (S11)") {
    assert(Load.classify("tpch.orders.00003.sql") === Load.Data)
    assert(Load.classify("tpch.orders.00003.00001.sql.gz") === Load.Data)
    assert(Load.classify("tpch.orders-schema.sql") === Load.Schema)
    assert(Load.classify("metadata") === Load.Metadata)
    assert(Load.classify("README.txt") === Load.Unknown)
    // full reference taxonomy (myloader_common.c:538-545,630-639)
    assert(Load.classify("tpch-schema-create.sql") === Load.SchemaCreate)
    assert(Load.classify("tpch.v_orders-schema-view.sql") === Load.SchemaView)
    assert(Load.classify("tpch.seq1-schema-sequence.sql.gz") === Load.SchemaSequence)
    assert(Load.classify("tpch.orders-schema-triggers.sql") === Load.SchemaTriggers)
    assert(Load.classify("tpch-schema-post.sql.zst") === Load.SchemaPost)
    assert(Load.classify("tpch.orders-schema.sql.gz") === Load.Schema)
    // restore phase order mirrors the reference
    val order = Seq(Load.SchemaCreate, Load.Schema, Load.Data,
      Load.SchemaTriggers, Load.SchemaView, Load.SchemaPost).map(Load.phaseOf)
    assert(order === order.sorted && order.distinct.size >= 5)
    // dump-side writer and load-side router agree on every kind
    val dir = java.nio.file.Files.createTempDirectory("graft_ddl").toString
    val cases = Seq[(Dump.SchemaKind, Option[String], Load.FileType)](
      (Dump.SchemaKind.Database, None, Load.SchemaCreate),
      (Dump.SchemaKind.Table, Some("orders"), Load.Schema),
      (Dump.SchemaKind.View, Some("v_orders"), Load.SchemaView),
      (Dump.SchemaKind.Sequence, Some("seq1"), Load.SchemaSequence),
      (Dump.SchemaKind.Triggers, Some("orders"), Load.SchemaTriggers),
      (Dump.SchemaKind.Post, None, Load.SchemaPost))
    cases.foreach { case (kind, table, expected) =>
      val p = Dump.writeSchemaObject(dir, "tpch", kind, "-- ddl", table)
      assert(Load.classify(p.getFileName.toString) === expected,
        s"round-trip broke for $kind")
    }
    // DDL emitter: schema -> CREATE TABLE -> parsed columns round trip
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("price", DecimalType(18, 2)),
      StructField("name", StringType),
      StructField("tags", ArrayType(StringType))))
    val ddl = sources.DdlEmitter.createTable("tpch", "t1", schema, Seq("id"))
    assert(ddl.contains("`id` BIGINT NOT NULL"))
    assert(ddl.contains("`price` DECIMAL(18,2)"))
    assert(ddl.contains("`tags` JSON"))
    assert(ddl.contains("PRIMARY KEY (`id`)"))
    assert(sources.DdlEmitter.parseColumns(ddl) === Seq(
      ("id", "BIGINT", false), ("price", "DECIMAL(18,2)", true),
      ("name", "LONGTEXT", true), ("tags", "JSON", true)))
    // metadata file: render -> parse round trip incl. replica position
    val coords = graft.extract.Replica.Coords("db1", "bin.000042", 193847L,
      Some("uuid:1-99"), Some("ch1"))
    val m = graft.core.DumpManifest("2026-08-12T10:00:00Z", "2026-08-12T10:05:00Z",
      quoteChar = "`",
      sourcePosition = Some(graft.extract.Replica.toManifestPosition(coords)),
      tables = Seq(
        graft.core.TableManifest("tpch.orders", 15000, Some("12345"),
          Some("abcd"), Seq("tpch.orders.00000.sql")),
        // spark_schema engine-extension key (lake dumps): JSON value
        // containing '=' and quotes must survive the key=value line
        graft.core.TableManifest("tpch.nation", 25, Some("777"),
          sparkSchema = Some(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_nationkey",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("n_name",
              org.apache.spark.sql.types.StringType))).json))))
    val parsed = sources.Manifest.parse(sources.Manifest.render(m))
    assert(parsed === m)
    assert(parsed.sourcePosition.flatMap(graft.extract.Replica.fromManifestPosition)
      === Some(coords))
    // and via disk
    sources.Manifest.write(dir, m)
    assert(sources.Manifest.read(dir) === Some(m))
    assert(Load.classify("metadata") === Load.Metadata)
  }

  test("a manifest write that fails before its rename leaves the old metadata") {
    val dir = Files.createTempDirectory("graft_manifest_").toString
    val old = graft.core.DumpManifest("2026-08-12T10:00:00Z", "2026-08-12T10:05:00Z",
      tables = Seq(graft.core.TableManifest("tpch.region", 5, Some("41"))))
    val p = sources.Manifest.write(dir, old)
    val before = Files.readAllBytes(p)
    val next = old.copy(tables = old.tables :+ graft.core.TableManifest("tpch.nation", 25))
    var staged: Option[java.nio.file.Path] = None
    val e = intercept[RuntimeException](sources.Manifest.write(dir, next, { tmp =>
      staged = Some(tmp)
      assert(Files.readString(tmp).contains("[tpch.nation]"))
      throw new RuntimeException("crash after the temp file")
    }))
    assert(e.getMessage === "crash after the temp file")
    assert(staged.exists(_.getParent == p.getParent), "temp file is a sibling")
    assert(Files.readAllBytes(p).sameElements(before), "metadata changed")
    assert(sources.Manifest.read(dir) === Some(old))
    assert(staged.forall(t => !Files.exists(t)), "temp file left behind")
    // and a write that completes replaces it
    sources.Manifest.write(dir, next)
    assert(sources.Manifest.read(dir) === Some(next))
  }

  test("file-type router: reference get_file_type edge semantics") {
    // metadata family (myloader_process_filename.c:119-148): header is
    // always global; bare `metadata` is partial only in stream mode;
    // the metadata.partial prefix is partial; a .sql suffix disqualifies
    assert(Load.classify("metadata.header") === Load.Metadata)
    assert(Load.classify("metadata", stream = true) === Load.MetadataPartial)
    assert(Load.classify("metadata", stream = false) === Load.Metadata)
    assert(Load.classify("metadata.partial.0") === Load.MetadataPartial)
    // a .sql suffix disqualifies the metadata family entirely → DATA
    assert(Load.classify("metadata.partial.sql") === Load.Data)
    assert(Load.classify("metadata.sql") === Load.Data)
    // tablespace file (exact name), reference line 160
    assert(Load.classify("all-schema-create-tablespace.sql") === Load.SchemaTablespace)
    // resume guards (lines 164-173): fatal without resume mode; the
    // partial marker is fatal always
    assertThrows[IllegalStateException](Load.classify("resume"))
    assert(Load.classify("resume", resumeEnabled = true) === Load.Resume)
    assertThrows[IllegalStateException](
      Load.classify("resume.partial", resumeEnabled = true))
    // non-chunked data files: ANY residual .sql is DATA (line 195 —
    // the reference does not require part numbers), .dat is LOAD_DATA
    assert(Load.classify("tpch.orders.sql") === Load.Data)
    assert(Load.classify("tpch.orders.sql.gz") === Load.Data)
    assert(Load.classify("tpch.orders.00000.dat") === Load.LoadData)
    assert(Load.classify("tpch.orders.00000.dat.zst") === Load.LoadData)
    // exactly ONE codec layer, and only known codecs (m_filename_has_suffix)
    assert(Load.classify("tpch.orders.sql.gz.gz") === Load.Unknown)
    assert(Load.classify("tpch.orders.sql.lz4") === Load.Unknown)
    // exec-per-thread extension participates like a codec (line 497)
    assert(Load.classify("tpch.orders.00000.sql.rot13",
      execExt = Some(".rot13")) === Load.Data)
    // --source-db gate (line 155): db prefix + '.' or '-', or the
    // surrogate-stem prefix; prefix alone is not enough
    assert(Load.classify("tpch.orders.00000.sql", sourceDb = Some("tpch")) === Load.Data)
    assert(Load.classify("tpch-schema-create.sql", sourceDb = Some("tpch")) === Load.SchemaCreate)
    assert(Load.classify("other.orders.00000.sql", sourceDb = Some("tpch")) === Load.Unknown)
    assert(Load.classify("tpchx.orders.00000.sql", sourceDb = Some("tpch")) === Load.Unknown)
    assert(Load.classify("mydumper_0.00000.sql", sourceDb = Some("tpch")) === Load.Data)
    // but metadata is classified BEFORE the source-db gate (line 126)
    assert(Load.classify("metadata", sourceDb = Some("tpch")) === Load.Metadata)
    // tablespaces restore before anything else
    assert(Load.phaseOf(Load.SchemaTablespace) < Load.phaseOf(Load.SchemaCreate))
    assert(Load.phaseOf(Load.LoadData) === Load.phaseOf(Load.Data))
  }

  test("metadata file: parses the reference's exact layout") {
    // byte-shape of a real mydumper metadata file (mydumper_start_dump.c:
    // 1161-1182 header/config, mydumper_working_thread.c:536-560 source,
    // mydumper_start_dump.c:774-797 table sections, :1711-1717 trailer)
    val text =
      """# Started dump at: 2026-08-13 10:00:00
        |[config]
        |quote-character = BACKTICK
        |local-infile = 1
        |
        |[myloader_session_variables]
        |SQL_MODE='NO_AUTO_VALUE_ON_ZERO' /*!40101
        |
        |[source]
        |# Channel_Name = '' # It can be use to setup replication FOR CHANNEL
        |# executed_gtid_set = "3beda9d8:1-1471"
        |# SOURCE_LOG_FILE = "mysql-bin.000002"
        |# SOURCE_LOG_POS = 53412
        |
        |[tpch.orders]
        |real_table_name=orders
        |rows = 15000
        |data_checksum = 245197878
        |schema_checksum = 3159576599
        |
        |[tpch.mydumper_0]
        |real_table_name=weird table
        |rows = 25
        |is_view = 1
        |
        |[config]
        |max-statement-size = 1000000
        |
        |# Finished dump at: 2026-08-13 10:00:05
        |""".stripMargin
    val m = sources.Manifest.parse(text)
    assert(m.startedAt === "2026-08-13 10:00:00")
    assert(m.finishedAt === "2026-08-13 10:00:05")
    assert(m.quoteChar === "`")
    // the commented coordinate block still yields a position (the
    // no-source-data dump writes ONLY comments)
    val coords = m.sourcePosition.flatMap(graft.extract.Replica.fromManifestPosition)
    assert(coords.map(_.sourceLogFile) === Some("mysql-bin.000002"))
    assert(coords.map(_.sourceLogPos) === Some(53412L))
    assert(coords.flatMap(_.gtid) === Some("3beda9d8:1-1471"))
    assert(m.tables.map(_.table) === Seq("orders", "weird table"))
    assert(m.tables.head.filename === Some("tpch.orders"))
    assert(m.tables.head.dataChecksum === Some("245197878"))
    assert(m.tables.head.schemaChecksum === Some("3159576599"))
    // surrogate stem round-trips through the real_table_name key
    assert(m.tables(1).filename === Some("tpch.mydumper_0"))
    assert(m.tables(1).rows === 25L)
    // the trailing [config] block must NOT become a phantom table
    assert(!m.tables.exists(_.table == "config"))
    // DOUBLE_QUOTE symbolic form maps to the literal quote char
    assert(sources.Manifest.parse(
      "[config]\nquote-character = DOUBLE_QUOTE\n").quoteChar === "\"")
    // and our writer emits the symbolic form + underscore keys
    val out = sources.Manifest.render(graft.core.DumpManifest(
      "s", "f", "`", None, Seq(graft.core.TableManifest("tpch.orders", 7,
        Some("99"), files = Seq("tpch.orders.00000.sql")))))
    assert(out.contains("quote-character = BACKTICK"))
    assert(out.contains("real_table_name=tpch.orders"))
    assert(out.contains("data_checksum = 99"))
    assert(out.contains("[myloader_session_variables]"))
  }

  test("loader filename filters: databaseTableOf and shouldQueueFilename") {
    // get_database_table_from_filename_for_filter (myloader_common.c:532-560)
    assert(Load.databaseTableOf("tpch.orders.00003.sql") === Some(("tpch", "orders")))
    assert(Load.databaseTableOf("tpch.orders.00003.00001.sql.gz") === Some(("tpch", "orders")))
    assert(Load.databaseTableOf("tpch.orders.dat") === Some(("tpch", "orders")))
    assert(Load.databaseTableOf("tpch.orders-schema.sql") === Some(("tpch", "orders")))
    assert(Load.databaseTableOf("tpch.v1-schema-view.sql.zst") === Some(("tpch", "v1")))
    assert(Load.databaseTableOf("tpch.t-schema-triggers.sql") === Some(("tpch", "t")))
    // dotted stems on schema files: the reference punts (c:660-663)
    assert(Load.databaseTableOf("a.b.c-schema.sql") === None)
    assert(Load.databaseTableOf("metadata") === None)
    // should_queue_filename (myloader_common.c:578-600)
    import graft.extract.TableFilter
    val spec = TableFilter.Spec(tablesList = Seq("tpch.orders"))
    assert(!Load.shouldQueueFilename("metadata", spec))
    assert(Load.shouldQueueFilename("all-schema-create-tablespace.sql", spec))
    // no filters → everything queues
    assert(Load.shouldQueueFilename("x.y.00000.sql", TableFilter.Spec()))
    assert(Load.shouldQueueFilename("tpch.orders.00000.sql", spec))
    assert(!Load.shouldQueueFilename("tpch.nation.00000.sql", spec))
    // unparseable names pass filters unexamined (reference returns FALSE
    // from the getter → matched stays TRUE)
    assert(Load.shouldQueueFilename("strays.txt", spec))
    // skiplist: bare db key skips the whole db; regex chain ORs
    val skips = TableFilter.Spec(skiplist = Set("stage"))
    assert(!Load.shouldQueueFilename("stage.t1.00000.sql", skips))
    val rx = TableFilter.Spec(regexes = Seq("^tpch\\.o", "^tpch\\.l"))
    assert(Load.shouldQueueFilename("tpch.orders.00000.sql", rx))
    assert(Load.shouldQueueFilename("tpch.lineitem.00000.sql", rx))
    assert(!Load.shouldQueueFilename("tpch.nation.00000.sql", rx))
  }

  test("sourcesFromDir decompresses .gz/.zst schema files and rejects garbage") {
    val out = Files.createTempDirectory("graft_gz_schema_").toString
    Dump.run(spark, Seq(("region", Tables.region(spark, sf), true)),
      Dump.Config(outDir = out, db = "tpch"))
    val plain = java.nio.file.Paths.get(out, "tpch.region-schema.sql")
    val ddlBytes = Files.readAllBytes(plain)
    // gzip the schema file in place (reference dumps compress schema
    // files alongside data when -c is set)
    val gz = java.nio.file.Paths.get(out, "tpch.region-schema.sql.gz")
    val gzOut = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    gzOut.write(ddlBytes); gzOut.close()
    Files.delete(plain)
    val viaGz = Load.sourcesFromDir(out)
    assert(viaGz.map(_.table) === Seq("tpch.region"))
    assert(viaGz.head.schema.fieldNames.toSeq
      === Tables.region(spark, sf).schema.fieldNames.toSeq)
    // same through zstd
    val zst = java.nio.file.Paths.get(out, "tpch.region-schema.sql.zst")
    val zOut = new com.github.luben.zstd.ZstdOutputStream(Files.newOutputStream(zst))
    zOut.write(ddlBytes); zOut.close()
    Files.delete(gz)
    val viaZst = Load.sourcesFromDir(out)
    assert(viaZst.head.schema.fieldNames.toSeq
      === Tables.region(spark, sf).schema.fieldNames.toSeq)
    // a schema file that parses to zero columns must abort, not produce
    // an empty StructType that "restores" nothing successfully
    Files.delete(zst)
    Files.write(java.nio.file.Paths.get(out, "tpch.region-schema.sql"),
      "-- not ddl at all\n".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] { Load.sourcesFromDir(out) }
    assert(ex.getMessage.contains("zero columns"))
  }

  test("a table literally named config survives manifest parsing") {
    val text =
      """# Started dump at: 2026-08-12T10:00:00Z
        |[config]
        |quote-character = `
        |
        |[db1.config]
        |rows = 42
        |data-checksum = 987
        |
        |[config]
        |rows = 7
        |
        |# Finished dump at: 2026-08-12T10:01:00Z
        |""".stripMargin
    val m = sources.Manifest.parse(text)
    assert(m.quoteChar === "`")
    // a QUALIFIED db1.config section is a table; a bare [config] is
    // always config — the reference's writer itself appends a trailing
    // [config] max-statement-size block (mydumper_start_dump.c:1711), so
    // bare config can never be a table section (stems are db-qualified)
    assert(m.tables.map(t => t.table -> t.rows) === Seq("db1.config" -> 42L))
    assert(m.tables.head.dataChecksum === Some("987"))
  }

  test("quoted identifiers with spaces round-trip through the DDL emitter") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("order date", DateType, nullable = false),
      StructField("unit price", DecimalType(10, 2)),
      StructField("plain", LongType)))
    val ddl = sources.DdlEmitter.createTable("db", "weird", schema, Seq("order date"))
    assert(sources.DdlEmitter.toStructType(ddl) === StructType(schema.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty))))
    // double-quote identifier convention parses too
    val ddlDq = sources.DdlEmitter.createTable("db", "weird", schema, Nil, quote = "\"")
    assert(sources.DdlEmitter.parseColumns(ddlDq).map(_._1)
      === Seq("order date", "unit price", "plain"))
  }

  test("schema file declares the discovered primary key, or none at all") {
    val out = Files.createTempDirectory("graft_pk_").toString
    // no key known -> no PRIMARY KEY clause invented from column 1
    Dump.dumpTable(Tables.region(spark, sf), "region",
      Dump.Config(outDir = out, db = "tpch"))
    val noPk = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "tpch.region-schema.sql")), "UTF-8")
    assert(!noPk.contains("PRIMARY KEY"))
    // discovered key (composite) -> declared verbatim
    Dump.dumpTable(Tables.lineitem(spark, sf).limit(100), "lineitem",
      Dump.Config(outDir = out, db = "tpch", primaryKeys = Tables.primaryKeys))
    val withPk = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "tpch.lineitem-schema.sql")), "UTF-8")
    assert(withPk.contains("PRIMARY KEY (`l_orderkey`, `l_linenumber`)"))
  }

  test("table-set filters (P6)") {
    import graft.core.{ColumnMeta, TableMeta}
    def tm(db: String, t: String, engine: String = "innodb") =
      TableMeta(db, t, Seq(ColumnMeta("id", "bigint")), engine = engine)
    val spec = TableFilter.Spec(
      regex = Some("^tpch\\..*"),
      skiplist = Set("tpch.orders"),
      ignoreEngines = Set("blackhole"))
    assert(TableFilter.accepts(spec, tm("tpch", "lineitem")))
    assert(!TableFilter.accepts(spec, tm("tpch", "orders")))       // skiplist
    assert(!TableFilter.accepts(spec, tm("other", "lineitem")))    // regex
    assert(!TableFilter.accepts(spec, tm("tpch", "x", "BLACKHOLE"))) // engine
    assert(!TableFilter.accepts(spec, tm("mysql", "user")))        // system
    // a bare database name in the skiplist skips the whole DB
    // (tables_skiplist.c:72-75: database key checked before db.table)
    val dbWide = TableFilter.Spec(skiplist = Set("staging"))
    assert(!TableFilter.accepts(dbWide, tm("staging", "anything")))
    assert(TableFilter.accepts(dbWide, tm("prod", "anything")))
    // case-sensitive like the reference's strcmp comparator
    assert(TableFilter.accepts(dbWide, tm("Staging", "t")))
    // --tables-list: case-insensitive with SQL-LIKE wildcards
    // (common.c:648-670 is_table_in_list + :618 matchText)
    val tl = TableFilter.Spec(tablesList = Seq("TPCH.LineItem", "tpch.na%"))
    assert(TableFilter.accepts(tl, tm("tpch", "lineitem")))  // case-insensitive
    assert(TableFilter.accepts(tl, tm("tpch", "nation")))    // % wildcard
    assert(!TableFilter.accepts(tl, tm("tpch", "orders")))
    // _ matches exactly one char; \_ is a literal underscore
    assert(TableFilter.tableListMatch("db.t_", "db.tx"))
    assert(!TableFilter.tableListMatch("db.t_", "db.txy"))
    assert(TableFilter.tableListMatch("db.a\\_b", "db.a_b"))
    assert(!TableFilter.tableListMatch("db.a\\_b", "db.axb"))
    // mysql special tables are skipped even with system schemas included
    // (unconditional in the reference's discovery loop,
    // mydumper_working_thread.c:355)
    val sys = TableFilter.Spec(includeSystemSchemas = true)
    assert(!TableFilter.accepts(sys, tm("mysql", "general_log")))
    assert(!TableFilter.accepts(sys, tm("MySQL", "Slow_Log"))) // case-insensitive
    assert(TableFilter.accepts(sys, tm("mysql", "user")))
  }
  test("mergeSnapshot: delta overrides, base-only kept, delta-only inserted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, "a", 10), (2L, "b", 10)).toDF("k", "v", "ver")
    val delta = Seq((2L, "B", 20), (3L, "c", 10)).toDF("k", "v", "ver")
    val got = Load.mergeSnapshot(base, delta, "k", "ver")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // equal versions: the delta side must win the tie
    val tied = Load.mergeSnapshot(base, Seq((1L, "A", 10)).toDF("k", "v", "ver"), "k", "ver")
      .where(col("k") === 1).head().getString(1)
    assert(tied === "A")
  }
  test("snapshot read merges evolved schemas across dump generations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve_").toString
    // generation 1 lacks the column a later dump added
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/g1")
    Seq((2L, "b", 9.5)).toDF("k", "v", "score").write.parquet(s"$dir/g2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/g1", s"$dir/g2").orderBy("k")
    assert(merged.columns.toSet === Set("k", "v", "score"))
    val rows = merged.collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old gen -> null
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) === 9.5)
  }

  test("LOAD_DATA format: .dat chunks + companion statements restore end-to-end") {
    // the reference's --format LOAD_DATA/CSV pairing: data in
    // db.table.NNNNN.dat, a per-chunk .sql carrying the LOAD DATA
    // statement (write_load_data_statement, mydumper_write.c:616-625);
    // the restore recovers the delimiters FROM the companion statement
    for (csvVariant <- Seq(false, true)) {
      val out = Files.createTempDirectory("graft_ld_e2e_").toString
      val tables = Seq(("nation", Tables.nation(spark, sf), true))
      val manifest = Dump.run(spark, tables,
        Dump.Config(outDir = out, db = "tpch",
          format = Dump.LoadDataFormat(csvVariant)))
      val files = new java.io.File(out).listFiles().map(_.getName)
      val dats = files.filter(_.matches("tpch\\.nation\\.\\d{5}\\.dat"))
      assert(dats.nonEmpty, files.mkString(","))
      // one companion statement per data chunk, same stem
      dats.foreach { d =>
        val companion = d.stripSuffix(".dat") + ".sql"
        assert(files.contains(companion), s"missing companion for $d")
        val text = Files.readString(java.nio.file.Paths.get(out, companion))
        assert(text.contains(s"LOAD DATA LOCAL INFILE '$d' INTO TABLE `nation`"))
        val parsed = graft.sources.LoadDataStatement.parse(text).get
        assert(parsed.infile === d)
        assert(parsed.format.fieldsTerminatedBy ===
          (if (csvVariant) "," else "\t"))
        assert(parsed.format.fieldsEnclosedBy === (if (csvVariant) "\"" else ""))
      }
      val expected =
        manifest.tables.find(_.table == "nation").get.dataChecksum.get.toLong
      val src = Load.TableSource("tpch.nation",
        Tables.nation(spark, sf).schema, Some(expected))
      val restoredDir = Files.createTempDirectory("graft_ld_rest_").toString
      val results = Load.run(spark, out, Seq(src),
        checksumMode = Load.ChecksumFail) { (stem, df) =>
        df.write.mode("overwrite").parquet(s"$restoredDir/$stem")
      }
      assert(results.forall(_.checksumOk.contains(true)),
        s"csvVariant=$csvVariant checksum failed")
      assert(spark.read.parquet(s"$restoredDir/tpch.nation").count()
        === Tables.nation(spark, sf).count())
    }
  }

  test("--partition-by lays out lake formats hive-style and prunes") {
    // the 100 TB lake-dump layout: partition-column predicates prune
    // whole directories at scan time instead of reading row-group stats
    val out = Files.createTempDirectory("graft_pby_").toString
    val li = Tables.lineitem(spark, sf)
    Dump.dumpTable(li, "lineitem", Dump.Config(outDir = out, db = "tpch",
      format = Dump.ParquetFormat, checksum = false,
      partitionBy = Seq("l_returnflag")))
    val dirs = new java.io.File(s"$out/tpch.lineitem").listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("l_returnflag=")), dirs.toSeq)
    val back = spark.read.parquet(s"$out/tpch.lineitem")
    assert(back.count() === li.count())
    // per-partition-value counts survive the layout round trip
    val srcCounts = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dstCounts = back.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dstCounts === srcCounts)
    // pruning is visible in the plan: a partition-column predicate lands
    // in PartitionFilters, not PushedFilters
    val plan = back.filter(org.apache.spark.sql.functions.col("l_returnflag") === "A")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("l_returnflag"), plan.take(600))
    // jsonl takes the same layout
    Dump.dumpTable(li.limit(1000), "li_j", Dump.Config(outDir = out,
      db = "tpch", format = Dump.JsonlFormat, checksum = false,
      partitionBy = Seq("l_returnflag")))
    assert(new java.io.File(s"$out/tpch.li_j").listFiles
      .exists(f => f.isDirectory && f.getName.startsWith("l_returnflag=")))
  }

  test("--partition-by + --order-by-primary keeps pk order INSIDE partition files") {
    // the dynamic-partition writer re-sorts each task's rows by the
    // partition columns with an unstable sort; without the partition
    // column leading the dump's in-partition sort, every file came back
    // pk-scrambled — the ORDER BY pk contract held only for
    // unpartitioned layouts
    val out = Files.createTempDirectory("graft_pby_ord_").toString
    Dump.dumpTable(Tables.orders(spark, sf), "orders",
      Dump.Config(outDir = out, db = "tpch", format = Dump.ParquetFormat,
        checksum = false, orderByPrimary = true,
        partitionBy = Seq("o_orderstatus")))
    val byFile = spark.read.parquet(s"$out/tpch.orders")
      .withColumn("file", org.apache.spark.sql.functions.input_file_name())
      .select("file", "o_orderkey").collect()
      .groupBy(_.getString(0)).values
    assert(byFile.nonEmpty)
    byFile.foreach { rows =>
      val keys = rows.map(_.getLong(1)).toSeq
      assert(keys == keys.sorted,
        "a partitioned dump file lost the ORDER BY pk contract")
    }
  }

  test("empty database dumps schema-create + metadata only (specific_15)") {
    // the reference's empty-db suite: a database with zero tables still
    // produces a self-describing dump — exactly db-schema-create.sql
    // (CREATE DATABASE, phase-1 in the loader) plus the metadata
    // manifest — and a directory-only restore of it is a clean no-op
    val out = Files.createTempDirectory("graft_empty_db_").toString
    val manifest = Dump.run(spark, Seq.empty,
      Dump.Config(outDir = out, db = "empty_db"))
    assert(manifest.tables.isEmpty)
    val files = new java.io.File(out).listFiles.map(_.getName).toSet
    assert(files === Set("metadata", "empty_db-schema-create.sql"), files)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "empty_db-schema-create.sql")), "UTF-8")
    assert(text.contains("CREATE DATABASE /*!32312 IF NOT EXISTS*/ `empty_db`"))
    assert(Load.classify("empty_db-schema-create.sql") === Load.SchemaCreate)
    assert(Load.sourcesFromDir(out).isEmpty)
    assert(Load.run(spark, out, Nil) { (_, _) => () }.isEmpty)
    // --no-schemas suppresses the db file too: nothing but the manifest
    val out2 = Files.createTempDirectory("graft_empty_db2_").toString
    Dump.run(spark, Seq.empty,
      Dump.Config(outDir = out2, db = "empty_db", noSchemas = true))
    assert(new java.io.File(out2).listFiles.map(_.getName).toSet
      === Set("metadata"))
  }
}
