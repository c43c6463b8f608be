package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The bounded [[TotalOrder.globalCumSum]] cut (the token-budget shard
  * primitive) equals the single-partition-window ground truth across
  * budget positions (empty cut, mid-bucket, bucket edge, whole corpus,
  * past the total) and on an empty input; the exclusive frame agrees with
  * the unbounded path, and a null order key survives the bucket prune. */
class OrderStatsSpec extends SparkSpec {

  import spark.implicits._

  /** Single-partition-window ground truth of the budget cut. */
  private def truth(df: DataFrame, b: Long): Seq[Seq[Any]] =
    df.withColumn("cum",
        sum(col("w")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum") <= b)
      .orderBy("k").select("k", "cum").collect().map(_.toSeq).toSeq

  private def bounded(df: DataFrame, b: Long): DataFrame =
    TotalOrder.globalCumSum(df, "k", "w", "cum",
        inclusive = true, upperBound = Some(b))
      .filter(col("cum") <= b).orderBy("k").select("k", "cum")

  test("bounded cum-sum equals ground truth across budgets") {
    val dir = tmpDir("ordstats")
    val rnd = new scala.util.Random(7L)
    val rows = (1L to 200L).map(k => (k, 1L + rnd.nextInt(9)))
    rows.toDF("k", "w").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val total = rows.map(_._2).sum
    for (b <- Seq(0L, 3L, total / 3, total / 2 + 1, total, total + 10))
      assert(bounded(df, b).collect().map(_.toSeq).toSeq === truth(df, b),
        s"bounded cut != ground truth at b=$b")
    val edir = tmpDir("ordstats_empty")
    Seq.empty[(Long, Long)].toDF("k", "w")
      .write.mode("overwrite").parquet(edir)
    assert(bounded(spark.read.parquet(edir), 10L).count() === 0L)
  }

  test("exclusive-frame bound and null order keys serve identically") {
    val dir = tmpDir("ordstats_null")
    val rows = Seq[(java.lang.Long, Long)]((null, 5L)) ++
      (1L to 60L).map(k => (java.lang.Long.valueOf(k), k % 7 + 1))
    rows.toDF("k", "w").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    def cut(upperBound: Option[Long]) =
      TotalOrder.globalCumSum(df, "k", "w", "cum",
          inclusive = false, upperBound = upperBound)
        .filter(col("cum") <= 40L).orderBy(asc_nulls_first("k"))
        .select("k", "cum").collect().map(_.toSeq).toSeq
    val unbounded = cut(None)
    assert(cut(Some(40L)) === unbounded)
    // ground truth of the exclusive frame: running sum of the PRECEDING
    // rows, nulls first
    val truthRows = df.withColumn("cum",
        coalesce(sum(col("w")).over(Window.orderBy(asc_nulls_first("k"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum") <= 40L).orderBy(asc_nulls_first("k"))
      .select("k", "cum").collect().map(_.toSeq).toSeq
    assert(unbounded === truthRows)
    // the null key buckets to 0 and must survive the prune
    assert(unbounded.exists(_.head == null))
  }
}
