package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.etl.{OltpSource, ParquetSource, ParquetStore, Pipeline, Schemas, TableStore}

/** `OltpSource` decorator: one span per call (traced runs only). */
final class TracedSource(inner: OltpSource, tr: Tracer) extends OltpSource {
  override def listTables(): Seq[String] = tr("source.listTables")(inner.listTables())
  override def full(table: String): DataFrame = tr(s"source.full:$table")(inner.full(table))
  override def incremental(table: String, created: Timestamp, updated: Timestamp): DataFrame =
    tr(s"source.incremental:$table")(inner.incremental(table, created, updated))
}

/** `TableStore` decorator: one span per call, named by the store's role. */
final class TracedStore(role: String, inner: TableStore, tr: Tracer) extends TableStore {
  private def span[T](call: String, table: String)(f: => T): T = tr(s"store.$role.$call:$table")(f)
  override def exists(name: String): Boolean = span("exists", name)(inner.exists(name))
  override def list(): Seq[String] = span("list", "")(inner.list())
  override def read(name: String): DataFrame = span("read", name)(inner.read(name))
  override def read(name: String, schema: StructType): DataFrame =
    span("read", name)(inner.read(name, schema))
  override def write(name: String, df: DataFrame): Unit = span("write", name)(inner.write(name, df))
  override def append(name: String, df: DataFrame): Unit = span("append", name)(inner.append(name, df))
}

/** etl_totesys: the paper's dataflow. Each cycle is one full
  * `Pipeline` run into empty ingested/processed/warehouse stores, then
  * `Batches` incremental runs, each after the generator has put the next
  * batch of inserts and updates in place (untimed). */
object Etl {

  val Batches = 1

  /** One full load and its batches. `roots` holds one `etl.runAll` span
    * per run, the full load first; `probed` and `landed` count the source
    * tables the batches probed and those that landed a non-empty delta. */
  final case class Cycle(traced: Boolean, fullS: Double, batchS: Seq[Double], cpuS: Double,
      heap: Heap, roots: Seq[Span], probed: Int, landed: Int)

  def run(run: Run): Outcome = {
    val spark = run.spark
    val base = s"${run.workDir}/etl"
    val (src, states) = (s"$base/src", s"$base/states")
    val gen = new Totesys(run.seed)
    run.phase("generate")(gen.writeAll(src, states, Batches))

    def cycle(n: Int, traced: Boolean, batches: Int): Cycle = {
      run.tracing(traced)
      val tr = run.tracer
      gen.install(src, states, 0)
      val dir = s"$base/cycle$n"
      val plain = Seq("ingested", "processed", "warehouse").map(r => new ParquetStore(spark, s"$dir/$r"))
      val Seq(ingested, processed, warehouse) =
        if (!traced) plain
        else Seq("ingested", "processed", "warehouse").zip(plain).map { case (r, s) => new TracedStore(r, s, tr) }
      val source = if (traced) new TracedSource(new ParquetSource(spark, src), tr) else new ParquetSource(spark, src)
      val pipeline = new Pipeline(source, ingested, processed, warehouse)
      val spanCount = tr.spans.size
      var (cpuS, probed, landed) = (0.0, 0, 0)
      run.heap.start()
      val times = (0 to batches).map { r =>
        if (r > 0) gen.install(src, states, r)
        val cpu0 = run.counters.cpuNs.get()
        val label = if (r == 0) "etl full load" else s"etl batch $r"
        val t = run.op(label) {
          val t0 = System.nanoTime()
          val (e, _, _) = tr("etl.runAll") {
            (tr("etl.extract")(pipeline.runExtract()),
              tr("etl.transform")(pipeline.runTransform(spark)),
              tr("etl.load")(pipeline.runLoad()))
          }
          val s = (System.nanoTime() - t0) / 1e9
          if (r > 0) { probed += Schemas.sourceTables.size; landed += e.size }
          s
        }
        cpuS += (run.counters.cpuNs.get() - cpu0) / 1e9
        t.foreach { _ =>
          val want = gen.warehouseAfter(r)
          val got = want.keys.map(wt => wt -> Totesys.parquetRows(s"$dir/warehouse/$wt.parquet")).toMap
          if (got != want) run.fail(s"$label: warehouse rows $got, want $want")
        }
        t.getOrElse(Double.NaN)
      }
      val roots = tr.spans.drop(spanCount).filter(_.parent == 0).toSeq
      val heap = run.heap.stop()
      Main.deleteTree(java.nio.file.Paths.get(dir))
      Cycle(traced, times.head, times.tail, cpuS, heap, roots, probed, landed)
    }

    // warm-up, untimed: one full run compiles the pipeline's code; the
    // incremental path's own code compiles in the timed batch, alike on
    // every untraced run. A traced run warms that path too, so that its
    // untraced and traced cycles, which it compares, are equally warm.
    run.phase("warm")(cycle(0, traced = false, batches = if (run.trace) Batches else 0))
    run.markSetupDone()

    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def cycleS(c: Cycle) = c.fullS + c.batchS.sum
    def more: Boolean =
      if (run.trace && cycles.count(_.traced) == 0) true
      else cycles.isEmpty ||
        elapsed + Stats.median(cycles.map(cycleS).toSeq) / 2 <= run.seconds
    while (more) {
      val traced = run.trace && cycles.size % 2 == 1
      cycles += cycle(cycles.size + 1, traced, Batches)
    }
    run.tracing(false)

    def ok(xs: Seq[Double]) = xs.filterNot(_.isNaN)
    val plain = cycles.filterNot(_.traced).toSeq
    val traced = cycles.filter(_.traced).toSeq
    val fullS = Stats.median(ok(plain.map(_.fullS)))
    val batchSamples = ok(plain.flatMap(_.batchS))
    val incrS = Stats.median(batchSamples)
    val e2e = Map(
      "pass_s" -> fullS,
      "op_p50_s" -> incrS,
      "op_p80_s" -> Stats.pct(batchSamples, 0.8),
      "heap_retained_mb" -> plain.map(_.heap.retainedMb).max)
    val perLayer =
      if (traced.isEmpty) Map.empty[String, Double]
      else {
        val layers = Layers.medians(traced.map(c =>
          Layers.generic(run.tracer, run.traceListener, c.roots) ++ etlLayers(run, c, src) +
            ("heap.old_gen_peak_mb" -> c.heap.peakMb)))
        val tracedS = Stats.median(ok(traced.map(_.fullS))) + Stats.median(ok(traced.flatMap(_.batchS)))
        val overhead = tracedS - (fullS + incrS)
        layers ++ Map("trace.overhead_s" -> overhead, "trace.overhead_share" -> overhead / (fullS + incrS))
      }
    val detail = Map[String, Any](
      "full_load_s" -> fullS,
      "cpu_s" -> Stats.median(plain.map(_.cpuS)),
      "incr_batch_p50_s" -> incrS,
      "incr_batch_samples" -> batchSamples.size,
      "batches_per_cycle" -> Batches,
      "source_rows" -> Schemas.sourceTables.keys.toSeq.sorted.map(t => t -> gen.rows(t, 0)).toMap,
      "cycles" -> cycles.map(c => Map("traced" -> c.traced, "full_load_s" -> c.fullS,
        "batch_s" -> c.batchS, "cpu_s" -> c.cpuS,
        "heap_peak_mb" -> c.heap.peakMb, "heap_retained_mb" -> c.heap.retainedMb)),
      "self_time_s" -> (if (traced.isEmpty) Map.empty
        else Layers.selfTime(run.tracer, traced.flatMap(_.roots))))
    Outcome(e2e, perLayer, detail)
  }

  /** graft.etl metrics of one traced cycle: the stage times, store
    * writes and write amplification of its full load, and the delta
    * metrics of its incremental batches. */
  private def etlLayers(run: Run, c: Cycle, srcDir: String): Map[String, Double] = {
    val tr = run.tracer
    def stats(ss: Seq[Span]) = ss.flatMap(s => run.traceListener.stats.get(s.id))
    def extractOf(spans: Seq[Span]) = spans.filter(_.name == "etl.extract").flatMap(tr.subtree)
    def writesTo(store: String, spans: Seq[Span]) = spans.filter(s => s.name.startsWith(s"store.$store") &&
      (s.name.contains(".write:") || s.name.contains(".append:")))

    val full = tr.subtree(c.roots.head)
    def secs(name: String) = full.filter(_.name == name).map(_.seconds).sum
    val writes = writesTo("", full)
    val bytesAll = stats(writes).map(_.outBytes).sum.toDouble
    val bytesLanded = stats(writesTo("ingested.", full)).map(_.outBytes).sum.toDouble

    val batches = c.roots.tail.flatMap(tr.subtree)
    val batchExtract = stats(extractOf(batches))
    val sourceRows = batchExtract.flatMap(_.scanRows).collect {
      case (root, n) if root.contains(s"$srcDir/") => n
    }.sum.toDouble
    val deltaRows = stats(writesTo("ingested.", batches)).map(_.outRows).sum.toDouble
    def perProbed(x: Double) = if (c.probed > 0) x / c.probed else 0.0
    Map(
      "etl.extract_s" -> secs("etl.extract"),
      "etl.transform_s" -> secs("etl.transform"),
      "etl.load_s" -> secs("etl.load"),
      "etl.store.write_s" -> writes.map(_.seconds).sum,
      "etl.write_amp" -> (if (bytesLanded > 0) bytesAll / bytesLanded else 0.0),
      "etl.extract_jobs_per_table" -> perProbed(batchExtract.map(_.jobs).sum.toDouble),
      "etl.scan_rows_per_delta_row" -> (if (deltaRows > 0) sourceRows / deltaRows else 0.0),
      "etl.useful_table_share" -> perProbed(c.landed.toDouble))
  }

}
