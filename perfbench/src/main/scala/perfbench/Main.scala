package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point:
  * {{{
  *   perfbench.Main --workload dump_restore|curate
  *     --seed N --seconds S --trace 0|1 [--work DIR]
  * }}}
  * Prints the run record as one JSON line, then, as the last line of
  * stdout, the result object. Exits 1 when a call failed or a check did
  * not hold, 2 when the run could not complete. */
object Main {

  /** Input sizes, one place to scale the workloads. */
  def workload(name: String): Workload = name match {
    case "dump_restore" => new DumpRestore(lineitemRows = 30000L)
    case "curate" => new Curate(nDocs = 2000, maxChain = 32, batchDocs = 200)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The end-to-end metrics every untraced run reports, with units. */
  val EndToEndMetrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "units_per_s" -> "1/s", "out_bytes_per_in_byte" -> "ratio")

  /** Session builds per run; `setup_s` is the median of their times. */
  val SetupRounds = 3
  /** No iteration starts later than this many seconds after JVM start. */
  val HardStopS = 120.0

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("work", "perfbench/work"))
  }

  /** `graft.Bench`'s session settings on `local[nproc]`. */
  def session(nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .withExtensions(new org.apache.spark.sql.graftnative.GraftExtensions)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The set-up probe after each session build: a shuffle aggregate
    * written to parquet and read back, the engine paths every workload
    * starts on. */
  def probe(spark: SparkSession, work: Path): Unit = {
    val p = work.resolve("probe")
    spark.range(0, 20000, 1, 4)
      .selectExpr("id", "id % 97 AS k", "cast(id AS string) AS s")
      .groupBy("k").agg(org.apache.spark.sql.functions.max("s").as("s"))
      .write.mode("overwrite").parquet(p.toString)
    require(spark.read.parquet(p.toString).count() == 97, "set-up probe")
    Fs.deleteTree(p)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val wl = workload(o.workload)
    val nproc = Runtime.getRuntime.availableProcessors()
    val c0 = System.nanoTime()
    val calibStart = graft.Bench.calibrate()
    val calibS = (System.nanoTime() - c0) / 1e9
    val root = Paths.get(o.work).toAbsolutePath
    val work = root.resolve("run")
    Fs.deleteTree(work)
    Files.createDirectories(work)

    // set-up: session build + probe, SetupRounds times; the first round
    // counts from JVM start (less the calibration probe)
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { k =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(nproc, work)
      probe(spark, work)
      if (k == 1) sinceJvmStart() - calibS else (System.nanoTime() - s0) / 1e9
    }

    val tracer = new Tracer
    val calls = new Calls(tracer)
    val ctx = new Ctx(spark, tracer, calls, work, nproc)
    val g0 = System.nanoTime()
    wl.prepare(ctx, o.seed)
    val genS = (System.nanoTime() - g0) / 1e9

    val ledger = new Ledger
    if (o.trace) spark.sparkContext.addSparkListener(new LedgerListener(ledger))
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    // untraced walls after the first timed iteration: the base the
    // tracing overhead is measured against (the first timed iteration
    // still carries JIT warm-up that later ones do not)
    val laterWalls = mutable.ArrayBuffer.empty[Double]
    val warmupS = mutable.ArrayBuffer.empty[Double]
    var tracedGcMs = 0L
    // a traced run alternates untraced and traced iterations, at least
    // untraced-traced-untraced: the traced ones give the layers, their
    // untraced neighbours the tracing overhead
    def traced(i: Int) = o.trace && i >= wl.warmups && (i - wl.warmups) % 2 == 1
    val minTimed = if (o.trace) 3 else 1
    var measured = 0.0
    var last = 0.0
    // the loop ends once less than half an iteration of the window is
    // left, so a run measures the window give or take half an iteration
    // (and at least minTimed iterations)
    def done(i: Int) = i + 1 - wl.warmups >= minTimed && measured > o.seconds - last / 2
    var i = 0
    var stop = false
    while (!stop) {
      if (i == wl.warmups) heapPools.foreach(_.resetPeakUsage())
      tracer.iter = i
      tracer.enabled = traced(i)
      ctx.timed = i >= wl.warmups && !traced(i)
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val ok = wl.run(ctx, i)
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      if (tracer.enabled) tracedGcMs += gcMs() - gc0
      tracer.enabled = false
      if (i < wl.warmups) warmupS += dt
      else {
        measured += dt
        last = dt
        if (ok && traced(i)) tracedWalls += dt
        else if (ok) {
          walls += dt
          cpus += cpu
          if (i > wl.warmups) laterWalls += dt
        }
      }
      wl.after(ctx, i)
      ctx.sweep()
      stop = done(i) || sinceJvmStart() > HardStopS
      i += 1
    }
    wl.finish(ctx)
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val calibEnd = graft.Bench.calibrate()

    val correct = ctx.problems.isEmpty && calls.failed == 0 && walls.nonEmpty
    val runId = s"${o.workload}-s${o.seed}-${System.currentTimeMillis()}"
    val endToEnd: Seq[(String, Double, String)] =
      if (walls.isEmpty) Nil
      else {
        val e = wl.endToEnd(walls.toSeq)
        val v = Map("setup_s" -> Stats.median(setups), "units_per_s" -> e.unitsPerS,
          "out_bytes_per_in_byte" -> e.outBytesPerInByte)
        EndToEndMetrics.map { case (n, u) => (n, v(n), u) }
      }

    val perLayer: Seq[(String, Double, String)] =
      if (!o.trace) Nil
      else {
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val spans = tracer.spans
        val spanM = Report.spanMetrics(spans, ledger.attribute(spans), nproc)
        val sampled = ctx.sampled.view.mapValues(Stats.median).toMap
        val derived = Map(
          "streaming.consume.self_s" ->
            Report.selfSeconds(spans, "streaming.consume").getOrElse(0.0),
          "jvm.gc_s" -> (if (tracedWalls.isEmpty) 0.0
                         else tracedGcMs / 1e3 / tracedWalls.size),
          "jvm.peak_heap_mb" -> peakHeapMb,
          "trace.overhead_ratio" -> (if (tracedWalls.isEmpty || laterWalls.isEmpty) 0.0
            else Stats.median(tracedWalls.toSeq) / Stats.median(laterWalls.toSeq)),
          "trace.coverage" -> Report.coverage(spans, tracedWalls.sum))
        writeSpans(root.resolve("out").resolve(s"spans-$runId.json"), runId, o, spans)
        Report.perLayer.map { case (n, u) =>
          (n, spanM.get(n).orElse(derived.get(n)).orElse(sampled.get(n)).getOrElse(0.0), u)
        }
      }

    val host = Json.obj(
      "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "git_rev" -> sys.env.get("PERFBENCH_GIT_REV").filter(_.nonEmpty),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "calib_start_s" -> calibStart,
      "calib_end_s" -> calibEnd)
    def metricObj(ms: Seq[(String, Any, String)]) = Json.obj(ms.map {
      case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)
    println(Json.render(Json.obj("record" -> Json.obj(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "host" -> host,
      "setup_samples_s" -> setups, "input_gen_s" -> genS, "warmup_s" -> warmupS.toSeq,
      "iterations" -> i, "timed_iterations" -> walls.size,
      "traced_iterations" -> tracedWalls.size, "iteration_s" -> walls.toSeq,
      "iteration_cpu_s" -> cpus.toSeq,
      "unit" -> wl.unit,
      "attempted" -> calls.attempted, "failed" -> calls.failed,
      "error_rate" -> calls.failed.toDouble / math.max(calls.attempted, 1L),
      "metrics" -> metricObj(endToEnd ++ (if (walls.isEmpty) Nil
        else ("iteration_p50_s", Stats.median(walls.toSeq), "s") +: wl.record(walls.toSeq))),
      "problems" -> ctx.problems.toSeq, "errors" -> calls.errors.toSeq))))

    println(Json.render(Json.obj(
      "correct" -> correct,
      "attempted" -> calls.attempted,
      "failed" -> calls.failed,
      "metrics" -> metricObj(if (o.trace) perLayer else endToEnd))))
    spark.stop()
    Fs.deleteTree(work)
    if (correct) 0 else 1
  }

  /** The traced run's spans, written when the run ends. */
  private def writeSpans(path: Path, runId: String, o: Opts, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    Files.writeString(path, Json.render(Json.obj(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed,
      "spans" -> spans.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
        "run_id" -> runId, "workload" -> o.workload,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))) + "\n")
  }
}
