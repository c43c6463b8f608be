package graft

import org.apache.spark.sql.functions._
import graft.etl.ParquetStore
import graft.operators.Skew

/** Scale-mechanics checks: partition pruning on hive layouts, bucketed
  * co-located joins (no shuffle), salted skew joins (result parity). */
class ScaleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import spark.implicits._
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // disable BOTH broadcast thresholds (static and AQE-runtime) or AQE
    // converts the SMJ to broadcast before the skew optimizer can split it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // one pathological key (50k rows with a fat payload) + uniform tail
      val left = spark.range(50000)
        .select(lit(0L).as("k"), concat(lit("x" * 64), $"id").as("payload"))
        .union(spark.range(2000)
          .select(($"id" % 100).as("k"), concat(lit("y"), $"id").as("payload")))
      val right = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      val j = left.join(right, Seq("k"))
      // collect (not count) so the fat payload column survives pruning and
      // the skewed partition's byte size crosses the threshold
      assert(j.collect().length === 52000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not split the skewed partition:\n" + plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("partitioned fact layout prunes directories via PartitionFilters") {
    val store = new ParquetStore(spark, tmpDir("part"))
    val events = graft.core.Tables(spark, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    store.writePartitioned("events_by_type", events, Seq("event_type"))

    val df = store.read("events_by_type").filter(col("event_type") === "click")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type")
      || plan.contains("PartitionFilters: [(event_type"), plan.take(1500))
    // pruned scan must agree with the unpartitioned count
    assert(df.count() ===
      graft.core.Tables(spark, dir, "events")
        .filter(col("event_type") === "click").count())
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assume(warehouse != null)
    val orders = graft.core.Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = graft.core.Tables(spark, dir, "customer")
      .select("c_custkey", "c_name")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bucketed")

    val joined = spark.table("orders_bucketed")
      .join(spark.table("customer_bucketed").hint("merge"),
        col("o_custkey") === col("c_custkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join should not shuffle:\n" + plan.take(2000))
  }

  test("salted join equals the plain join (skew scatter correctness)") {
    val orders = graft.core.Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = graft.core.Tables(spark, dir, "customer")
      .select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"), "inner")
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", salt = 8)
    assert(salted.count() === plain.count())
    assert(cells(salted.select("o_orderkey", "c_name")) ===
      cells(plain.select("o_orderkey", "c_name")))
    // the join key must carry the salt so the hot key spreads across tasks
    val plan = salted.queryExecution.optimizedPlan.toString
    assert(plan.contains("_salt"), plan.take(1500))
  }

  test("semDedup candidate generation is cluster-bounded (n²/C, not n²)") {
    // the operator's scale claim in numbers: the within-cluster pair
    // count must be a small fraction of the brute-force triangle
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val cells = graft.operators.Similarity.assignCells(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      graft.operators.Similarity.portableCentroids(emb, 16), keep = 1)
    val counts = cells.groupBy("cell").count().collect().map(_.getLong(1))
    // a centroid MAY legitimately own zero vectors (parallel sampled
    // centroids tie to the lower id) — pin the partition, not the count
    assert(counts.length <= 16, s"more cells than centroids: ${counts.length}")
    val candidates = counts.map(c => c * (c - 1) / 2).sum
    val n = counts.sum
    assert(n == emb.count(), "assignment must partition the corpus")
    val brute = n * (n - 1) / 2
    assert(candidates * 4 < brute,
      s"cluster bucketing must cut candidates ≥4× (got $candidates of $brute)")
  }

  test("TotalOrder output is invariant to the shuffle partition count") {
    // the property that makes the two-pass form safe at any cluster
    // width: global row numbers / running sums must not depend on how
    // many range partitions the data happens to land in
    val docs = graft.core.Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).cast("long").as("n"))
    def run(parts: String): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val cum = graft.operators.TotalOrder
          .globalCumSum(docs, "doc_id", "n", "cum")
          .orderBy("doc_id").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum"))).toSeq
        val rn = graft.operators.TotalOrder
          .globalRowNumber(docs, "doc_id", "rn")
          .orderBy("doc_id").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rn"))).toSeq
        (cum, rn)
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
    val (cum32, rn32) = run("32")
    val (cum5, rn5) = run("5")
    val (cum1, rn1) = run("1")
    assert(cum32 === cum5 && cum32 === cum1, "running sum depends on partitioning")
    assert(rn32 === rn5 && rn32 === rn1, "row number depends on partitioning")
  }

  test("TotalOrder bounded row numbering equals unbounded-then-filter") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables(spark, dir, "documents").select("doc_id")
    def kept(bound: Long, ub: Option[Long]): Seq[(Long, Long)] =
      graft.operators.TotalOrder
        .globalRowNumber(docs, "doc_id", "rn", ub)
        .filter(col("rn") <= bound)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rn"))).toSeq
    // bounds <= TopKLimitMax take the TakeOrdered top-k path; the
    // above-max bound pins the two-pass bucket-prune path, which must
    // stay live for huge bounds (nothing driver-resident)
    for (bound <- Seq(1L, 7L, 100L, 100000L,
        graft.operators.TotalOrder.TopKLimitMax + 7L)) {
      val pruned = kept(bound, Some(bound))
      val full = kept(bound, None)
      assert(pruned === full, s"bound $bound diverged")
      assert(pruned.map(_._2) === (1L to math.min(bound, full.size.toLong)),
        s"bound $bound row numbers not contiguous from 1")
    }
    // string keys exercise the top-k path (small bound) AND the
    // range-fallback bounded path (above-max bound)
    val byName = graft.core.Tables(spark, dir, "customer")
      .select("c_name", "c_custkey")
    val fullStr = graft.operators.TotalOrder
      .globalRowNumber(byName, "c_name", "rn")
      .filter(col("rn") <= 10).orderBy("rn").collect().map(_.getString(0)).toSeq
    for (ub <- Seq(10L, graft.operators.TotalOrder.TopKLimitMax + 7L)) {
      val prunedStr = graft.operators.TotalOrder
        .globalRowNumber(byName, "c_name", "rn", Some(ub))
        .filter(col("rn") <= 10).orderBy("rn").collect().map(_.getString(0)).toSeq
      assert(prunedStr === fullStr, s"string bound $ub diverged")
    }
  }

  test("TotalOrder under adversarial key skew: correct when the range " +
      "partitioner degenerates") {
    // keys clustered so tightly that the reservoir sampler may put nearly
    // everything into one range partition (a huge dense run + sparse
    // outliers), plus pathological input partitioning. The audit pins the
    // plan SHAPE; this pins the semantics under skew: output must equal
    // the single-partition-window ground truth computed driver-side.
    import spark.implicits._
    val keys = (0L until 2000L).map(i => 1000000L + i) ++ // dense run
      Seq(1L, 2L, 5L) ++ Seq(9000000000L, 9000000001L)    // sparse outliers
    val weights = keys.map(k => (k, k % 7 + 1))
    val df = weights.toDF("k", "w").repartition(64) // scatter input
    val rn = graft.operators.TotalOrder.globalRowNumber(df, "k", "rn")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("rn")).toMap
    val cum = graft.operators.TotalOrder.globalCumSum(df, "k", "w", "cum")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cum")).toMap
    val sorted = weights.sortBy(_._1)
    val expectRn = sorted.zipWithIndex.map { case ((k, _), i) => k -> (i + 1L) }.toMap
    var running = 0L
    val expectCum = sorted.map { case (k, w) => running += w; k -> running }.toMap
    assert(rn === expectRn, "row numbers wrong under key skew")
    assert(cum === expectCum, "running sums wrong under key skew")
  }

  test("TotalOrder string keys take the range fallback and stay correct") {
    // numeric keys ride the quantile-boundary fast path, so the
    // range-partitioner fallback would silently lose coverage without a
    // string-keyed pin; string order (binary collation) must match the
    // driver-side sort exactly, including keys of unequal length
    import spark.implicits._
    val keys = (0 until 500).map(i => s"doc${i % 7}~${i}") ++
      Seq("a", "zzzz", "doc", "doc~")
    val df = keys.map(k => (k, k.length.toLong)).toDF("k", "w").repartition(16)
    val rn = graft.operators.TotalOrder.globalRowNumber(df, "k", "rn")
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("rn")).toMap
    val cum = graft.operators.TotalOrder.globalCumSum(df, "k", "w", "cum")
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("cum")).toMap
    val sorted = keys.sorted
    assert(rn === sorted.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap,
      "string-key row numbers diverge from driver-side sort")
    var running = 0L
    val expectCum = sorted.map { k => running += k.length; k -> running }.toMap
    assert(cum === expectCum, "string-key running sums diverge")
  }
}
