package perfbench

/** The metric catalogue and the per-layer arithmetic of a traced run.
  * Every name here is listed, with its unit, under `per_layer` in the
  * repository's BENCHMARK.json (a self-test holds the two equal). */
object Report {

  /** Spans, named by the module whose public call they wrap. */
  val Spans: Seq[String] = Seq(
    "cli.dump", "cli.load",
    "dedup.pairs", "dedup.clusters",
    "assembly.write_shards", "assembly.read_shards",
    "streaming.produce", "streaming.consume",
    "store.append", "store.clean", "store.compact")

  /** Counters every span reports, as `<span>.<counter>`. */
  val SpanCounters: Seq[(String, String)] = Seq(
    "s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_s" -> "s", "shuffle_bytes" -> "B", "spill_bytes" -> "B",
    "output_bytes" -> "B", "busy_ratio" -> "ratio")

  /** Layer metrics beyond the span counters. */
  val Extras: Seq[(String, String)] = Seq(
    "dump.files" -> "count", "dump.bytes" -> "B",
    "dedup.pairs.rows" -> "rows", "dedup.clusters.n_clusters" -> "count",
    "streaming.consume.self_s" -> "s", "streaming.rows_in_ratio" -> "ratio",
    "store.live_ratio" -> "ratio", "store.files_before_compact" -> "count",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio", "trace.coverage" -> "ratio")

  val perLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanCounters.map { case (c, u) => s"$s.$c" -> u }) ++ Extras

  /** `<span>.<counter>` for every span in [[Spans]]. A span that repeats
    * (once per iteration or batch) reports its median duration and its
    * counters per occurrence; a span that never ran reports zeros. */
  def spanMetrics(spans: Seq[Span], counters: Map[Long, Counters],
      nproc: Int): Map[String, Double] =
    Spans.flatMap { name =>
      val occ = spans.filter(_.name == name)
      val cs = occ.map(s => counters.getOrElse(s.id, Counters()))
      def per(f: Counters => Long): Double =
        if (occ.isEmpty) 0.0 else cs.map(f).sum.toDouble / occ.size
      val totalS = occ.map(_.seconds).sum
      val taskS = cs.map(_.taskMs).sum / 1000.0
      Seq(
        "s" -> (if (occ.isEmpty) 0.0 else Stats.median(occ.map(_.seconds))),
        "jobs" -> per(_.jobs), "stages" -> per(_.stages), "tasks" -> per(_.tasks),
        "task_s" -> per(_.taskMs) / 1000.0,
        "shuffle_bytes" -> per(_.shuffleBytes), "spill_bytes" -> per(_.spillBytes),
        "output_bytes" -> per(_.outputBytes),
        "busy_ratio" -> (if (totalS > 0) taskS / (totalS * nproc) else 0.0))
        .map { case (c, v) => s"$name.$c" -> v }
    }.toMap

  /** Median self time of the spans called `name`. */
  def selfSeconds(spans: Seq[Span], name: String): Option[Double] = {
    val occ = spans.filter(_.name == name)
    if (occ.isEmpty) None
    else Some(Stats.median(occ.map(p =>
      Span.selfNs(p, spans.filter(_.parent.contains(p.id))) / 1e9)))
  }

  /** Share of the traced iterations' wall covered by top-level spans. */
  def coverage(spans: Seq[Span], tracedWall: Double): Double =
    if (tracedWall <= 0) 0.0
    else spans.filter(_.parent.isEmpty).map(_.seconds).sum / tracedWall
}
