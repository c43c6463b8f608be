package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Managed-location hygiene for the persisted-state tables (BandIndex,
  * stream ledgers): with the default in-memory catalog, table
  * METADATA dies with the JVM but the managed warehouse DIRECTORIES
  * persist, so the next session's `saveAsTable` under the same name
  * fails with LOCATION_ALREADY_EXISTS even though, from the catalog's
  * point of view, the table does not exist. (A Hive metastore deployment
  * does not hit this — metadata survives with the data — but local and
  * test sessions do.)
  */
object Warehouse {

  /** Delete `table`'s orphaned managed location iff the catalog has no
    * such table but a previous JVM left its directory behind. A no-op
    * when the table exists (its location is live) or the directory is
    * absent. Only ever called by writers immediately before re-creating
    * the SAME table, so the reclaimed bytes are a stale copy of what is
    * about to be written. */
  def reclaimOrphan(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      try {
        val loc = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
      } catch {
        // a reclaim failure only re-surfaces as LOCATION_ALREADY_EXISTS
        // at the caller's write — log and let that error name the table.
        // NonFatal only: swallowing OOM/interrupts here would mask them
        // as a silent no-op (r11 advice).
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"graft.Warehouse: reclaimOrphan($table) failed: $e")
      }
    }
}
