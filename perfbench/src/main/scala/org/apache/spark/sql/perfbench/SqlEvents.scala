package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the query a SQL execution ran, which Spark attaches to the
  * execution's end event but keeps package-private. */
object SqlEvents {

  /** The executed physical plan of the finished execution, if attached. */
  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
