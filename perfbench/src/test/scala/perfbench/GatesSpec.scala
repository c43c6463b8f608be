package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private val dir = "data/sf0.01"

  override def afterAll(): Unit = spark.stop()

  /** Runs the timed action and returns the plan the write executed. */
  private def executed(f: => Unit): QueryExecution = {
    var got: QueryExecution = null
    val l = new QueryExecutionListener {
      override def onSuccess(n: String, qe: QueryExecution, d: Long): Unit =
        got = qe
      override def onFailure(n: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { f; org.apache.spark.perfbench.Bus.drain(spark.sparkContext, 30000) }
    finally spark.listenerManager.unregister(l)
    assert(got != null, "no write execution seen")
    got
  }

  private def topSort(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case Project(_, child) => topSort(child)
    case _ => false
  }

  private val sortedGates = scala.collection.mutable.ArrayBuffer.empty[String]

  // every timed gate, and the gates whose full result costs most more
  // than their count()
  (Gates.Suite ++ Seq("q23_price_percentiles", "txt_lm_score", "dedup_simhash",
      "q01_pricing_summary", "etl_join_rename_sort")).distinct.foreach { name =>
    test(s"the timed action keeps every output column and the final sort: $name") {
      val q = graft.SparkEntry.allQueries.find(_.name == name).get
      val df = q.run(spark, dir)
      val qe = executed(Gates.materialise(df))
      val write = qe.executedPlan
      val child = write.children.head
      assert(child.output.map(_.name) == df.columns.toSeq)
      val sorted = topSort(df.queryExecution.optimizedPlan)
      if (sorted) sortedGates += name
      if (sorted) assert(PlanMetrics.nodes(write).exists {
        case s: SortExec => s.global
        case _ => false
      }, s"$name lost its final sort")
      spark.catalog.clearCache()
    }
  }

  test("the final-sort check above ran on gates that end in a global sort") {
    assert(sortedGates.nonEmpty)
  }

  test("the suite keeps the gates the full-result and job-chain evidence rests on") {
    val names = Gates.suite.map(_.name)
    assert(names.distinct == names && !names.exists(Gates.isRelational))
    Seq("txt_langid", "txt_ppl_buckets", "txt_bpe_train", "dedup_minhash_lsh").foreach(n => assert(names.contains(n), n))
  }

  test("every gate has a golden, and only the gates without an oracle lack a hash") {
    val golden = Gates.goldens("..")
    graft.SparkEntry.allQueries.foreach { q =>
      assert(golden.get(q.name).exists(_.isDefined == q.oracle.isDefined), q.name)
    }
  }

  test("floats are canonicalised as Python's .6g formats them") {
    val cases = Seq(0.1 -> "0.1", 1234567.0 -> "1.23457e+06", 1e-5 -> "1e-05",
      0.000123456789 -> "0.000123457", 100000.0 -> "100000", 123456.5 -> "123456",
      2.5 -> "2.5", -0.0 -> "-0", 1e16 -> "1e+16", -1.5e-7 -> "-1.5e-07", 42.0 -> "42")
    cases.foreach { case (v, want) => assert(Canon.float6g(v) == want, v) }
  }
}
