package graft.core

import graft.SparkSpec

/** The statistics story ([[Tables.analyzeDir]]): catalog-backed tables
  * carry ANALYZE row counts, serve the identical data, and the mode is
  * reversible. The q03 build-side evidence lives in StatsPeek (manual,
  * sf0.1); this spec pins the mechanism at smoke scale. */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("analyzeDir: catalog tables carry row counts; data identical; reversible") {
    val viaPath = Tables(spark, dir, "nation")
    val pathRows = cells(viaPath)

    Tables.analyzeDir(spark, dir)
    try {
      val viaCatalog = Tables(spark, dir, "nation")
      // identical surface, identical data
      assert(viaCatalog.columns.toSeq === viaPath.columns.toSeq)
      assert(cells(viaCatalog) === pathRows)

      // the point of the exercise: the plan carries a ROW COUNT once the
      // estimator is allowed to use it (rowCount flows via
      // CatalogTable.stats only under cbo/planStats)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        Tables.invalidateCache(spark)
        val stats = Tables(spark, dir, "nation")
          .queryExecution.optimizedPlan.stats
        assert(stats.rowCount.isDefined && stats.rowCount.get.toLong > 0,
          s"expected ANALYZE row count in plan stats, got $stats")
      } finally spark.conf.set("spark.sql.cbo.enabled", "false")

      // events keeps its adaptive-layout surface through the catalog path
      val ev = Tables(spark, dir, "events")
      assert(ev.columns.contains("ts") && ev.columns.contains("ts_ns"))
      assert(ev.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
    } finally Tables.resetAnalyzed(spark)

    // reverted: plain path scan again (no catalog identifier in the plan)
    val after = Tables(spark, dir, "nation")
    assert(cells(after) === pathRows)
    assert(!after.queryExecution.analyzed.toString.contains("graft_stats_"),
      "resetAnalyzed must serve plain path reads again")
  }

  test("loading events leaves the session's parquet nanos conf unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    Tables.invalidateCache(spark) // force a fresh build of the relation
    Tables(spark, dir, "events").limit(1).collect()
    assert(!spark.sessionState.conf.contains(key),
      s"loading events must not set $key on the caller's session")
  }

  test("events: an integer ts is refused with the column and expected type") {
    import spark.implicits._
    val longDir = tmpDir("events_long")
    Seq((1L, 1706140800000000000L)).toDF("event_id", "ts")
      .write.parquet(Tables.path(longDir, "events"))
    val e = intercept[IllegalArgumentException](
      Tables(spark, longDir, "events"))
    assert(e.getMessage.contains("events column ts must be timestamp_ntz") &&
      e.getMessage.contains("got bigint"), e.getMessage)
  }
}
