package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[NearestCentroid]] — the fused, exchange-free k-means / IVF E-step.
  * The load-bearing test is VALUE PARITY with the composed aggregate
  * plan it replaced (`crossJoin(broadcast(centroids))` →
  * `groupBy(id).agg(max(struct(ccos, -centroid_id)))` over the
  * [[CosineSimilarity]] kernel): emb_cluster_assign, dedup_semantic and
  * the sim_ann_ivf* gates were all graded on the aggregate form, so this
  * pin certifies the kernel picks the SAME centroid with the SAME score
  * — tie-breaks, null algebra and zero-vector handling included — while
  * removing the aggregate's corpus exchange. */
class NearestCentroidSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  /** The former composed plan, via the same cosine kernel the shipped
    * aggregate used. */
  private def composed(vecs: DataFrame, cents: DataFrame): Map[Long, (Long, Option[Double])] =
    vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", GraftFunctions.cosine(col("e"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos"), (-col("centroid_id")).as("nid"))).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("cid"), col("m.ccos"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap

  private def kernel(vecs: DataFrame,
      table: Seq[(Long, Seq[Double])]): Map[Long, (Long, Option[Double])] =
    vecs.select(col("vec_id"),
        GraftFunctions.nearestCentroid(col("e"), table).as("m"))
      .select(col("vec_id"), col("m.centroid_id"), col("m.ccos"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap

  test("parity with the composed aggregate on randomized vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 6
    val vecs = (0L until 300L).map { i =>
      (i, Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "e")
    val table = (0 until 16).map { c =>
      (900L + c, Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    }
    val cents = table.toDF("centroid_id", "ce")
    val k = kernel(vecs, table)
    val c = composed(vecs, cents)
    assert(k.keySet === c.keySet)
    k.foreach { case (id, got) =>
      assert(got === c(id), s"assignment diverges for vec $id")
    }
  }

  test("parity on the real float corpus incl. tie-break and widening") {
    val raw = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val emb = raw.select(col("vec_id"), col("embedding").as("e"))
    val cents = raw.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    val table = cents.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble): Seq[Double])).toSeq
    val k = kernel(emb, table)
    val c = composed(emb, cents)
    assert(k.nonEmpty && k === c)
  }

  test("edge algebra: zero vector, null vector, short vector, duplicate centroid") {
    import spark.implicits._
    // centroid 5 and 9 are IDENTICAL: every vector ties between them and
    // the aggregate's (ccos, -cid) ordering must pick 5 — so must we
    val table = Seq(
      (9L, Seq(1.0, 0.0, 0.0)),
      (5L, Seq(1.0, 0.0, 0.0)),
      (7L, Seq(0.0, 1.0, 0.0)))
    val cents = table.toDF("centroid_id", "ce")
    val vecs = Seq(
      (1L, Some(Seq(2.0, 0.1, 0.0))), // clear winner
      (2L, Some(Seq(0.0, 0.0, 0.0))), // zero vector: every ccos null
      (3L, Option.empty[Seq[Double]]), // null vector: every ccos null
      (4L, Some(Seq(0.5))) // shorter than centroids: min-length loop
    ).toDF("vec_id", "e")
    val k = kernel(vecs, table)
    val c = composed(vecs, cents)
    assert(k === c)
    assert(k(1L)._1 === 5L) // tie broken to the lowest centroid_id
    assert(k(2L) === (5L, None)) // all-null scores: lowest id, null ccos
    assert(k(3L) === (5L, None))
  }

  test("broadcast tier: identical kernel output through a broadcast table") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val dim = 5
    val vecs = (0L until 200L).map { i =>
      (i, Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "e")
    val table = (0 until 12).map { c =>
      (700L + c, Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    }
    val bc = spark.sparkContext.broadcast(
      (table.map(_._1).toArray, table.map(_._2.toArray).toArray))
    val viaBcast = vecs.select(col("vec_id"),
        GraftFunctions.nearestCentroidBcast(col("e"), bc).as("m"))
      .select(col("vec_id"), col("m.centroid_id"), col("m.ccos"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(viaBcast === kernel(vecs, table))
    assert(viaBcast === composed(vecs, table.toDF("centroid_id", "ce")))
  }

  test("tier selection: above the inline byte budget the operator routes " +
      "through the broadcast kernel with no per-task literal, same output") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    val run = () => graft.operators.Similarity.assignCells(
      emb.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", cents, keep = 1)
    val inline = run()
    spark.conf.set("graft.nearestCentroid.maxInlineBytes", "1")
    try {
      val bcast = run()
      val plan = bcast.queryExecution.executedPlan.toString
      assert(plan.contains("graft_nearest_centroid_bcast"),
        "above-budget table must take the broadcast tier")
      // the whole point of the tier: the plan carries a handle, not the
      // centroid matrix — no multi-KB literal in any task binary
      assert(!plan.contains("graft_nearest_centroid(["), plan.take(500))
      val got = bcast.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val want = inline.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === want)
    } finally spark.conf.unset("graft.nearestCentroid.maxInlineBytes")
  }

  test("a malformed maxInlineBytes conf fails with a message naming the key") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    spark.conf.set("graft.nearestCentroid.maxInlineBytes", "4mb")
    try {
      val e = intercept[IllegalArgumentException](
        graft.operators.Similarity.assignCells(
          emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", cents, keep = 1))
      assert(e.getMessage.contains("graft.nearestCentroid.maxInlineBytes") &&
        e.getMessage.contains("'4mb'"), e.getMessage)
    } finally spark.conf.unset("graft.nearestCentroid.maxInlineBytes")
  }

  test("operator: assignCells keep=1 output is identical through the kernel path") {
    // end-to-end through the production operator (which now selects the
    // kernel path for bounded centroid frames): compare against the raw
    // composed aggregate on the same inputs
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    val got = graft.operators.Similarity.assignCells(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents, keep = 1)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = composed(
      emb.select(col("vec_id"), col("embedding").as("e")), cents)
    assert(got === want.map { case (k, v) => k -> v._1 })
  }
}
