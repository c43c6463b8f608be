package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State shared by every workload of one benchmark process: one session,
  * one closed-loop client issuing ops one at a time. */
final class Run(
    val spark: SparkSession,
    val root: String,
    val workDir: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val launchMs: Long) {

  val counters = new Counters
  spark.sparkContext.addSparkListener(counters)
  val tracer = new Tracer(spark)
  val traceListener = new TraceListener
  val heap = new OldGen

  var attempted = 0L
  var failed = 0L
  /** One line per failed op or output check, for the artifact. */
  val failures = mutable.ArrayBuffer.empty[String]
  /** Process launch to the first timed op. */
  var setupS = 0.0

  /** Runs one op: counts it, catches its failure, and waits until the
    * listener bus has delivered the end of every job it started. */
  def op[T](label: String)(f: => T): Option[T] = {
    attempted += 1
    val out =
      try Some(f)
      catch { case e: Throwable => fail(s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    if (!counters.settle(spark.sparkContext)) {
      if (out.isDefined) fail(s"$label: listener bus did not settle")
      None
    } else out
  }

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg.take(500)
  }

  /** Wall seconds of the named set-up phases, for the artifact. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def markSetupDone(): Unit =
    if (setupS == 0.0) setupS = (System.currentTimeMillis() - launchMs) / 1e3

  /** Turns the per-span listeners on or off for the next pass or cycle. */
  def tracing(on: Boolean): Unit = if (on != tracer.enabled) {
    tracer.enabled = on
    if (on) spark.sparkContext.addSparkListener(traceListener)
    else {
      counters.settle(spark.sparkContext)
      spark.sparkContext.removeSparkListener(traceListener)
    }
  }
}

/** What a workload hands back: end-to-end metrics (from untraced
  * passes), per-layer metrics (traced passes), and detail for the
  * artifact. Units are those BENCHMARK.json declares. */
final case class Outcome(
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    detail: Map[String, Any])
