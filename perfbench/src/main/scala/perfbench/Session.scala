package perfbench

import org.apache.spark.sql.SparkSession

/** The one session a run uses: `local[N]` with the session confs of
  * `graft.Bench` at their defaults, and every scratch directory Spark
  * writes (shuffle files, warehouse) under the run's own work dir. */
object Session {

  def create(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.constraintPropagation.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.cbo.enabled", "false")
      .config("spark.sql.cbo.joinReorder.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Host CPU time stolen from this machine so far, in seconds (the
    * `steal` column of /proc/stat, in USER_HZ = 100 ticks a second). */
  def stealS(): Double =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+")(8).toDouble / 100.0
    catch { case _: Throwable => -1.0 }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
}

/** Old-generation occupancy over a timed region, in MB. `peakMb` is the
  * largest old-gen pool usage any collection between [[OldGen.start]] and
  * [[OldGen.stop]] left behind, from the collectors' GC notifications;
  * under G1 it includes garbage that no concurrent cycle has reclaimed
  * yet, so it moves with GC timing. `retainedMb` is the live set the
  * region leaves: old-gen usage after the full collections that close it
  * (the second follows a pause in which Spark's context cleaner releases
  * the broadcasts and shuffles the first found unreachable). */
final case class Heap(peakMb: Double, retainedMb: Double)

final class OldGen {
  import scala.jdk.CollectionConverters._
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  @volatile private var on = false
  private val peakBytes = new java.util.concurrent.atomic.AtomicLong
  private val explicitGcs = new java.util.concurrent.atomic.AtomicLong

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (on) peakBytes.accumulateAndGet(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum, math.max(_, _))
        if (info.getGcCause == "System.gc()") explicitGcs.incrementAndGet()
      }
  }

  private val emitters =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null); e
    }

  def start(): Unit = { peakBytes.set(0L); on = true }

  /** Ends the region with two full collections. Notifications arrive in
    * order on a JMX thread, so once the closing collections' have (the
    * wait is bounded), every collection of the region has been seen. */
  def stop(): Heap = {
    val seen = explicitGcs.get
    System.gc()
    Thread.sleep(250)
    System.gc()
    val deadline = System.currentTimeMillis() + 5000
    while (explicitGcs.get < seen + 2 && System.currentTimeMillis() < deadline) Thread.sleep(5)
    on = false
    val retained = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName))
      .map(p => Option(p.getCollectionUsage).fold(p.getUsage.getUsed)(_.getUsed)).sum
    Heap(math.max(peakBytes.get, retained) / 1048576.0, retained / 1048576.0)
  }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
