package perfbench

/** Per-layer metrics of one traced pass (gates) or ETL cycle, summed over
  * its ops (`roots`: one span per gate, or per `Pipeline` run). */
object Layers {

  def generic(tr: Tracer, tl: TraceListener, roots: Seq[Span]): Map[String, Double] = {
    val spans = roots.flatMap(tr.subtree)
    val st = spans.flatMap(s => tl.stats.get(s.id))
    def sum(f: SpanStats => Long): Double = st.map(f).sum.toDouble
    val build = spans.filter(_.name == "queries.build")
    val gapS = roots.map { op =>
      val iv = tr.subtree(op).flatMap(s => tl.stats.get(s.id)).flatMap(_.taskIntervals)
        .map { case (a, b) => (math.max(a, op.startMs), math.min(b, op.endMs)) }
        .filter { case (a, b) => b > a }
      math.max(0.0, op.seconds - Stats.covered(iv) / 1e3)
    }.sum
    val heaviest = st.flatMap(_.stageShapes).sortBy(-_._1).headOption
    val taskMs = sum(_.taskMs)
    Map(
      "queries.build_s" -> build.map(_.seconds).sum,
      "queries.build_jobs" -> build.flatMap(s => tl.stats.get(s.id)).map(_.jobs).sum.toDouble,
      "driver.jobs" -> sum(_.jobs),
      "driver.gap_s" -> gapS,
      "stages.count" -> sum(_.stages),
      "stages.tasks" -> sum(_.tasks),
      "stages.task_wait_s" -> sum(_.waitMs) / 1e3,
      "stages.task_run_s" -> sum(_.runMs) / 1e3,
      "stages.cpu_s" -> sum(_.cpuNs) / 1e9,
      "stages.gc_s" -> sum(_.gcMs) / 1e3,
      "stages.skew" -> heaviest.fold(1.0)(_._2),
      "scan.serial_share" -> (if (taskMs > 0) sum(_.serialTaskMs) / taskMs else 0.0),
      "scan.rows" -> sum(_.inRows),
      "scan.mb" -> sum(_.inBytes) / 1e6,
      "functions.kernel_s" -> sum(_.kernelMs) / 1e3,
      "functions.kernel_rows" -> sum(_.kernelRows),
      "operators.rows_out" -> sum(_.rowsOut),
      "operators.sort_s" -> sum(_.sortMs) / 1e3,
      "operators.agg_s" -> sum(_.aggMs) / 1e3,
      "operators.join_build_s" -> sum(_.buildMs) / 1e3,
      "operators.peak_mem_mb" -> st.map(_.peakMemBytes).maxOption.getOrElse(0L) / 1e6,
      "shuffle.write_mb" -> sum(_.shufWrite) / 1e6,
      "shuffle.read_mb" -> sum(_.shufRead) / 1e6,
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.spill_mb" -> sum(_.spillBytes) / 1e6)
  }

  /** Self time per layer: a span's duration minus the part of it its
    * children cover, summed over spans of the same layer (the span name
    * up to its first ':'). */
  def selfTime(tr: Tracer, roots: Seq[Span]): Map[String, Double] = {
    val kids = tr.spans.groupBy(_.parent)
    roots.flatMap(tr.subtree).groupBy(_.name.takeWhile(_ != ':')).map { case (name, ss) =>
      name -> ss.map { s =>
        val childNs = Stats.covered(kids.getOrElse(s.id, Nil).toSeq.map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - childNs) / 1e9
      }.sum
    }
  }

  /** Median over the traced passes or cycles of each metric. */
  def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
    if (samples.isEmpty) Map.empty
    else samples.head.keys.map(k => k -> Stats.median(samples.map(_(k)))).toMap
}
