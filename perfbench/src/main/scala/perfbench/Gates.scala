package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.core.GQuery

/** Janino compilations so far in this JVM: the artifact records them per
  * gate, since generated code that misses the codegen cache is recompiled
  * inside the timed region. */
object Janino {
  def count(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** The gate suite (gates_llm): registered `SparkEntry.allQueries` gates
  * of the text, dedup, similarity, embedding, sampling, pipeline,
  * multimodal and stream families, run through `GQuery.run`, each result
  * fully materialised.
  *
  * Inputs are the fixed sf0.01 tables shipped with the benchmark (seed 42
  * testdata); the run seed permutes the gate order of every pass. */
object Gates {

  val DataDir = "perfbench/data/sf0.01"
  val GoldenFile = "perfbench/goldens/sf0.01.json"

  /** The sampled gates: the gate whose full result costs most more than
    * its `count()` (txt_langid), the longest driver job chains
    * (txt_ppl_buckets, txt_bpe_train), the self-varying
    * dedup_minhash_lsh, and six lighter text, similarity, embedding and
    * sampling gates whose times fill the range below them, so that the
    * pooled median and 80th percentile fall among several gates rather
    * than on one. Sized so that the warm pass and two timed passes fit
    * one run; `--profile-gates` measures their share of the family. */
  val Suite: Seq[String] = Seq(
    "txt_langid", "txt_ppl_buckets", "txt_bpe_train", "dedup_minhash_lsh",
    "txt_tfidf", "txt_cms_counts", "txt_quality", "sim_ann_lsh", "emb_cluster_assign",
    "smp_shuffle")

  /** The relational family (q*, etl_*, evt_*), which the suite leaves out. */
  def isRelational(name: String): Boolean =
    name.startsWith("q") || name.startsWith("etl_") || name.startsWith("evt_")

  def suite: Seq[GQuery] = Suite.map(n => SparkEntry.allQueries.find(_.name == n)
    .getOrElse(sys.error(s"no registered gate $n")))

  /** Cold posture of `graft.Bench`: driver memos and persisted order
    * statistics are dropped before every gate, so each timed gate pays
    * the builds its oracle semantics include. */
  def resetMemos(spark: SparkSession): Unit = {
    graft.operators.Dedup.invalidateBloomMemo(spark)
    graft.operators.TotalOrder.invalidateBoundaryMemo(spark)
    graft.operators.TotalOrder.dropPersistedStats(spark)
  }

  /** The timed action: computes every output column and the final
    * ordering, and keeps nothing (Spark's built-in `noop` sink). */
  def materialise(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def order(gates: Seq[GQuery], seed: Long, pass: Int): Seq[GQuery] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(gates)

  /** Expected fingerprints: `name -> Some(fingerprint)`, or None for the
    * gates without an oracle, which must return at least one row. */
  def goldens(root: String): Map[String, Option[Canon.Fingerprint]] =
    Json.read(java.nio.file.Paths.get(root, GoldenFile)).properties().asScala.map { e =>
      val g = e.getValue
      e.getKey -> Option(g.get("hash")).filterNot(_.isNull)
        .map(h => Canon.Fingerprint(g.get("rows").asLong, h.asText))
    }.toMap

  /** The golden file: every registered gate's fingerprint over the
    * shipped tables, one gate a line. */
  def recordGoldens(spark: SparkSession, root: String): String =
    SparkEntry.allQueries.map { q =>
      resetMemos(spark)
      val fp = Canon.of(q.run(spark, s"$root/$DataDir"))
      spark.catalog.clearCache()
      val golden = Map("rows" -> fp.rows, "hash" -> (if (q.oracle.isEmpty) None else Some(fp.hash)))
      s"  ${Json.write(q.name)}: ${Json.write(golden)}"
    }.mkString("{\n", ",\n", "\n}\n")

  /** Times every gate of the family the suite samples, fully
    * materialised as in the suite: one untimed warm pass, then
    * `ProfilePasses` timed passes in registry order. Reports each gate's
    * median seconds and jobs, and the share of the family's time and
    * jobs that the suite's gates take. */
  def profile(spark: SparkSession, root: String): String = {
    val dir = s"$root/$DataDir"
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val family = SparkEntry.allQueries.filterNot(q => isRelational(q.name))
    def once(q: GQuery): (Double, Double) = {
      resetMemos(spark)
      counters.settle(spark.sparkContext)
      val j0 = counters.jobsStarted.get
      val t0 = System.nanoTime()
      materialise(q.run(spark, dir))
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      counters.settle(spark.sparkContext)
      (s, (counters.jobsStarted.get - j0).toDouble)
    }
    family.foreach(once)
    val samples = (1 to ProfilePasses).flatMap(_ => family.map(q => q.name -> once(q))).groupBy(_._1)
    val gates = family.map { q =>
      val xs = samples(q.name).map(_._2)
      q.name -> (Stats.median(xs.map(_._1)), Stats.median(xs.map(_._2)))
    }
    val inSuite = Suite.toSet
    def share(f: ((Double, Double)) => Double) =
      gates.filter(g => inSuite(g._1)).map(g => f(g._2)).sum / gates.map(g => f(g._2)).sum
    Json.writePretty(mutable.LinkedHashMap(
      "data" -> DataDir, "passes" -> ProfilePasses, "nproc" -> Runtime.getRuntime.availableProcessors,
      "family_gates" -> family.size, "suite_gates" -> Suite.size,
      "family_pass_s" -> gates.map(_._2._1).sum,
      "suite_pass_s" -> gates.filter(g => inSuite(g._1)).map(_._2._1).sum,
      "suite_time_share" -> share(_._1), "suite_job_share" -> share(_._2),
      "gates" -> mutable.LinkedHashMap(gates.map { case (n, (t, j)) =>
        n -> mutable.LinkedHashMap("s" -> t, "jobs" -> j, "in_suite" -> inSuite(n)) }: _*))) + "\n"
  }

  val ProfilePasses = 3

  def check(run: Run, name: String, got: Canon.Fingerprint,
      want: Option[Option[Canon.Fingerprint]]): Boolean = want match {
    case None => run.fail(s"$name: no golden"); false
    case Some(None) =>
      if (got.rows > 0) true else { run.fail(s"$name: no rows"); false }
    case Some(Some(w)) =>
      if (got == w) true else { run.fail(s"$name: got $got, want $w"); false }
  }

  def run(run: Run): Outcome = {
    val spark = run.spark
    val dir = s"${run.root}/$DataDir"
    val gates = suite
    val golden = goldens(run.root)

    // Warm pass, untimed: compiles every gate's generated code and checks
    // its output against the golden fingerprint.
    val checks = mutable.LinkedHashMap.empty[String, String]
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    run.phase("warm")(order(gates, run.seed, 0).foreach { q =>
      resetMemos(spark)
      val w0 = System.nanoTime()
      val got = run.op(s"warm ${q.name}")(Canon.of(q.run(spark, dir)))
      warmS(q.name) = (System.nanoTime() - w0) / 1e9
      got.foreach { fp =>
        checks(q.name) = if (check(run, q.name, fp, golden.get(q.name))) "ok" else "FAIL"
      }
      if (!checks.contains(q.name)) checks(q.name) = "FAIL"
      spark.catalog.clearCache()
    })
    // a traced run compares its untraced and traced passes, so it warms
    // one pass further first and neither side gets the coldest pass
    if (run.trace) run.phase("warm2")(order(gates, run.seed, -1).foreach { q =>
      resetMemos(spark)
      run.op(s"warm ${q.name}")(materialise(q.run(spark, dir)))
      spark.catalog.clearCache()
    })
    System.gc()
    run.markSetupDone()

    final case class Pass(traced: Boolean, times: Seq[(String, Double)], cpuS: Double,
        heap: Heap, roots: Seq[Span])
    val passes = mutable.ArrayBuffer.empty[Pass]
    val compiles = mutable.LinkedHashMap.empty[String, Long]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // two timed passes at least, so one pass hit by a neighbour's burst on
    // a shared host moves the pooled gate percentiles less; a traced run
    // alternates untraced-traced-untraced, so the overhead compares passes
    // at the same point of JIT warm-up on average
    def more: Boolean =
      passes.size < (if (run.trace) 3 else 2) ||
        elapsed + Stats.median(passes.map(_.times.map(_._2).sum).toSeq) / 2 <= run.seconds
    while (more) {
      val traced = run.trace && passes.size % 2 == 1
      run.tracing(traced)
      val cpu0 = run.counters.cpuNs.get()
      val spanCount = run.tracer.spans.size
      run.heap.start()
      val times = order(gates, run.seed, passes.size + 1).flatMap { q =>
        resetMemos(spark)
        val c0 = Janino.count()
        val r = run.op(q.name) {
          val s = System.nanoTime()
          run.tracer(s"gate:${q.name}") {
            val df = run.tracer("queries.build")(q.run(spark, dir))
            run.tracer("action")(materialise(df))
          }
          (System.nanoTime() - s) / 1e9
        }
        spark.catalog.clearCache()
        compiles(q.name) = compiles.getOrElse(q.name, 0L) + Janino.count() - c0
        r.map(q.name -> _)
      }
      val roots = run.tracer.spans.drop(spanCount).filter(_.parent == 0).toSeq
      resetMemos(spark) // the last gate's memos are not part of the live set
      passes += Pass(traced, times, (run.counters.cpuNs.get() - cpu0) / 1e9,
        run.heap.stop(), roots)
    }
    run.tracing(false)

    val plain = passes.filterNot(_.traced).filter(_.times.nonEmpty).toSeq
    val traced = passes.filter(_.traced).filter(_.times.nonEmpty).toSeq
    def passS(ps: Seq[Pass]) = Stats.median(ps.map(_.times.map(_._2).sum))
    // gate percentiles pool the gate times of every untraced pass
    val gateTimes = plain.flatMap(_.times.map(_._2))
    val e2e = Map(
      "pass_s" -> passS(plain),
      "op_p50_s" -> Stats.median(gateTimes),
      "op_p80_s" -> Stats.pct(gateTimes, 0.8),
      "heap_retained_mb" -> plain.map(_.heap.retainedMb).max)
    val perLayer =
      if (traced.isEmpty) Map.empty[String, Double]
      else {
        val layers = Layers.medians(traced.map(p =>
          Layers.generic(run.tracer, run.traceListener, p.roots) + ("heap.old_gen_peak_mb" -> p.heap.peakMb)))
        val overhead = passS(traced) - passS(plain)
        layers ++ Map(
          "trace.overhead_s" -> overhead,
          "trace.overhead_share" -> overhead / passS(plain))
      }
    val detail = Map[String, Any](
      "gates" -> gates.map(_.name),
      "gate_samples" -> gateTimes.size,
      "janino_compiles" -> compiles,
      "checks" -> checks,
      "warm_gate_s" -> warmS,
      "passes" -> passes.map(p => Map(
        "traced" -> p.traced, "pass_s" -> p.times.map(_._2).sum, "cpu_s" -> p.cpuS,
        "heap_peak_mb" -> p.heap.peakMb, "heap_retained_mb" -> p.heap.retainedMb, "gate_s" -> mutable.LinkedHashMap(p.times: _*))),
      "self_time_s" -> (if (traced.isEmpty) Map.empty
        else Layers.selfTime(run.tracer, traced.flatMap(_.roots))))
    Outcome(e2e, perLayer, detail)
  }
}
