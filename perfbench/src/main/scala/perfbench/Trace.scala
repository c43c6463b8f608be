package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanLike, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The only listener the untraced runs attach: executor CPU per pass or
  * cycle, and job start/end counts so that an op's counters are read only
  * once every job it started has ended. */
final class Counters extends SparkListener {
  val cpuNs = new AtomicLong
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m =>
      cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))

  /** Drains the bus, then waits for every started job to have ended.
    * False when either wait exceeds `timeoutMs`: the op counts as failed. */
  def settle(sc: SparkContext, timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = org.apache.spark.perfbench.Bus.drain(sc, timeoutMs)
    while (ok && jobsEnded.get() < jobsStarted.get()) {
      if (System.currentTimeMillis() > deadline) ok = false
      else Thread.sleep(5)
    }
    ok
  }
}

/** One traced interval: a call into a layer's public function. */
final class Span(val id: Long, val name: String, val parent: Long) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters attributed to one span: task metrics of the stages its jobs
  * ran, and SQL metrics of the final plans of its query executions. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var taskMs, runMs, cpuNs, gcMs, waitMs, serialTaskMs = 0L
  var inRows, inBytes, outRows, outBytes = 0L
  var shufWrite, shufRead, fetchWaitMs, spillBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (summed task ms, max/median task ms) per completed stage */
  val stageShapes = mutable.ArrayBuffer.empty[(Long, Double)]
  var kernelMs, kernelRows, rowsOut, sortMs, aggMs, buildMs, peakMemBytes = 0L
  /** rows out of file scans, by the scanned root paths */
  val scanRows = mutable.HashMap.empty[String, Long]
}

/** Spans kept in memory for one run. With `enabled` false every call is a
  * plain call: no span, no job-group property, nothing recorded. */
final class Tracer(spark: SparkSession) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.size + 1L, name, stack.headOption.fold(0L)(_.id))
      spans += s
      stack ::= s
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** The span and all spans below it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Attributes jobs, stages and tasks to the span open on the thread that
  * submitted the job (the job's local property), and the SQL metrics of
  * a query execution's final plan, read from its end event, to the span
  * whose jobs ran that execution. The client reads `stats` only after
  * [[Counters.settle]]. */
final class TraceListener extends SparkListener {
  val stats = mutable.HashMap.empty[Long, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val execSpan = mutable.HashMap.empty[Long, Long]

  private def of(span: Long) = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).foreach { span =>
      of(span).jobs += 1
      e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => if (!execSpan.contains(x.toLong)) execSpan(x.toLong) = span)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val s = of(span)
      val info = e.taskInfo
      s.tasks += 1
      s.taskMs += info.duration
      s.taskIntervals += ((info.launchTime, info.finishTime))
      stageSubmitted.get(e.stageId).foreach(t0 => s.waitMs += math.max(0L, info.launchTime - t0))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        s.gcMs += m.jvmGCTime
        s.inRows += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.outRows += m.outputMetrics.recordsWritten
        s.outBytes += m.outputMetrics.bytesWritten
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.get(id).foreach { span =>
      val s = of(span)
      s.stages += 1
      val ds = stageTaskMs.remove(id).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      if (ds.nonEmpty) {
        if (e.stageInfo.numTasks == 1) s.serialTaskMs += ds.sum
        val med = math.max(1L, ds(ds.size / 2))
        s.stageShapes += ((ds.sum, ds.last.toDouble / med))
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for (span <- execSpan.remove(end.executionId);
           plan <- org.apache.spark.sql.perfbench.SqlEvents.executedPlan(end))
        PlanMetrics.add(of(span), plan)
    }
    case _ =>
  }
}

/** SQL metrics read from a query's final (post-AQE) physical plan. */
object PlanMetrics {

  /** Every operator of the executed plan, final AQE stages included;
    * a reused exchange is counted once, where it first ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def isKernel(e: Expression): Boolean =
    e.find(x => x.prettyName.startsWith("graft_") ||
      x.getClass.getName.startsWith("graft.functions.")).isDefined

  /** Operators fused into one whole-stage-codegen stage. */
  private def stageBody(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stageBody)
  }

  private def ms(p: SparkPlan, metric: String): Long =
    p.metrics.get(metric).fold(0L) { m =>
      if (m.metricType == "nsTiming") m.value / 1000000L else m.value
    }

  def add(s: SpanStats, plan: SparkPlan): Unit =
    nodes(plan).foreach { n =>
      s.rowsOut += n.metrics.get("numOutputRows").fold(0L)(_.value)
      s.sortMs += ms(n, "sortTime")
      s.aggMs += ms(n, "aggTime")
      s.buildMs += ms(n, "buildTime")
      s.peakMemBytes = math.max(s.peakMemBytes, n.metrics.get("peakMemory").fold(0L)(_.value))
      n match {
        case w: WholeStageCodegenExec
            if stageBody(w.child).exists(_.expressions.exists(isKernel)) =>
          s.kernelMs += ms(w, "pipelineTime")
          s.kernelRows += w.child.metrics.get("numOutputRows").fold(0L)(_.value)
        case f: FileSourceScanLike =>
          val root = f.relation.location.rootPaths.mkString(",")
          s.scanRows(root) = s.scanRows.getOrElse(root, 0L) + f.metrics.get("numOutputRows").fold(0L)(_.value)
        case _ =>
      }
    }
}
