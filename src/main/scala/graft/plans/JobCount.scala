package graft.plans

import org.apache.spark.sql.SparkSession

/** Dev tool: run one registered gate query to completion and report its
  * Spark job / stage / task counts (`sbt "runMain graft.plans.JobCount
  * <name>[,<name>...] [sfDir]"`) under the bench session confs. Wall
  * clock on this time-shared host swings 3× with neighbor load; job and
  * task counts are DETERMINISTIC, so they are the right before/after
  * evidence for job-count optimizations (lazy checkpoints, fused
  * passes) — the same reason Bench itself records spills/failed tasks.
  * Counts are per query with listener-bus drain between queries. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("sim_ann_ivf"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-jobcount")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    // executor CPU ns — the load-robust cost measure on a time-shared
    // host (wall swings 3× with neighbor waves; CPU time does not)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    // per-stage task durations, for the skew read (max/median per stage;
    // a max/median ratio above ~5-10× is the guide-§2.5 skew signature)
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val stageShufRead = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (sys.env.contains("GRAFT_JOBNAMES")) {
            val cs = Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("?")
            println(s"[jobname] job=${e.jobId} stages=${e.stageInfos.size} $cs")
          }
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach { m =>
            cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
            stageTasks.computeIfAbsent(e.stageId,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
              .add(Option(e.taskInfo).map(_.duration).getOrElse(0L))
            stageShufRead.computeIfAbsent(e.stageId,
              _ => new java.util.concurrent.atomic.AtomicLong())
              .addAndGet(m.shuffleReadMetrics.totalBytesRead)
          }
      })
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    names.foreach { n =>
      byName.get(n) match {
        case Some(q) =>
          // same memo/cache hygiene as a timed bench query
          graft.operators.Dedup.invalidateBloomMemo(spark)
          graft.operators.TotalOrder.invalidateBoundaryMemo(spark)
          stageTasks.clear(); stageShufRead.clear()
          val (j0, s0, t0, c0) =
            (jobs.get(), stages.get(), tasks.get(), cpuNs.get())
          val w0 = System.nanoTime()
          q.run(spark, sfDir).count()
          val wall = (System.nanoTime() - w0) / 1e9
          ListenerBus.drain(spark)
          println(f"[jobcount] $n%-28s jobs=${jobs.get() - j0}%3d " +
            f"stages=${stages.get() - s0}%3d tasks=${tasks.get() - t0}%5d " +
            f"wall=$wall%.3f cpu=${(cpuNs.get() - c0) / 1e9}%.3f")
          if (sys.env.contains("GRAFT_STAGES")) {
            // per-stage task-time shape, heaviest stages first: the
            // guide-§2.5 skew read (max ≫ median) and the straggler read
            // (sum ≪ n×max) in one line per stage
            import scala.jdk.CollectionConverters._
            val byStage = stageTasks.asScala.toSeq.map { case (sid, q) =>
              val ds = q.asScala.toArray.sorted
              val sum = ds.sum
              (sid, ds, sum)
            }.sortBy(-_._3).take(12)
            byStage.foreach { case (sid, ds, sum) =>
              val med = if (ds.isEmpty) 0L else ds(ds.length / 2)
              val mx = if (ds.isEmpty) 0L else ds.last
              val sr = Option(stageShufRead.get(sid)).map(_.get).getOrElse(0L)
              println(f"[stage] $n%-22s stage=$sid%4d n=${ds.length}%5d " +
                f"sum=${sum / 1e3}%8.2fs med=${med / 1e3}%7.3fs " +
                f"max=${mx / 1e3}%7.3fs shufRead=${sr / 1e6}%8.1fMB")
            }
          }
          spark.catalog.clearCache()
        case None => System.err.println(s"[jobcount] unknown query '$n'")
      }
    }
    spark.stop()
  }
}
