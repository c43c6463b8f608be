package graft.plans

import org.apache.spark.sql.SparkSession

/** Listener-bus drain for tools that read SparkListener counters. */
object ListenerBus {

  /** Block until every event posted so far has reached every listener:
    * Spark's package-private `waitUntilEmpty` via reflection, a bounded
    * sleep as fallback. Read per-query listener deltas only after this —
    * task-end events arrive asynchronously after the action returns. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get
        .invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(1000) }
}
