package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** E2 — watermark: max(created_at), max(last_updated) over the previously
  * landed table. The reference implements MAX as set-dedup + sorted-insert +
  * take-last (src/extract.py:176-199); that is literally distinct→sort→last
  * = MAX, so here it is a 2-value aggregate — a partial (map-side combined)
  * agg that returns one row to the driver regardless of table size. */
object Watermark {
  final case class Marks(created: Timestamp, updated: Timestamp)

  def of(landed: DataFrame): Option[Marks] = {
    val row = landed
      .agg(max(col("created_at")).as("c"), max(col("last_updated")).as("u"))
      .head()
    if (row.isNullAt(0) && row.isNullAt(1)) None
    else Some(Marks(row.getTimestamp(0), row.getTimestamp(1)))
  }
}

/** E1+E3 — per-table full-vs-incremental ingest (reference:
  * src/extract.py:202-238, :259-295).
  *
  * Per table: no landed parquet → full scan; else compute the watermark
  * from the landed data and pull only rows with
  * `created_at > c OR last_updated > u` (strict `>`, pushed down to the
  * source). Empty deltas are skipped, not written as empty files
  * (SURVEY.md §7.3-8). The landed object is REPLACED by each non-empty
  * delta, exactly like the reference's same-key upload — the watermark
  * therefore advances off the latest delta only, which is sound because
  * each delta's max dominates the previous watermark.
  */
final class IngestJob(source: OltpSource, landed: TableStore,
    parallelism: Int = 1) {

  private def ingestOne(table: String): Option[String] = {
    val delta: DataFrame =
      if (!landed.exists(table)) source.full(table)
      else Watermark.of(landed.read(table)) match {
        case Some(m) => source.incremental(table, m.created, m.updated)
        case None    => source.full(table)
      }
    // isEmpty is a cheap limit-1 job; mirrors `len(results) > 0`
    // (reference: src/extract.py:230-236).
    if (delta.isEmpty) None
    else { landed.write(table, delta); Some(table) }
  }

  /** Runs one ingest round; returns the tables that produced a delta,
    * in `listTables()` order regardless of `parallelism`.
    *
    * Each table is independent (its own watermark read, delta scan, and
    * write target), but serial execution pays THREE driver round-trips
    * per table (exists, watermark agg, isEmpty) before the write —
    * reference-parity and fine at 11 tables, a driver-bound bottleneck
    * at a 1,000-table source. With `parallelism > 1` the per-table
    * pipelines are submitted from a driver thread pool; Spark's
    * scheduler interleaves the concurrent jobs across executors (job
    * submission is thread-safe on one session; distinct tables never
    * share a write path).
    *
    * Failure semantics: every submitted table runs to completion (or
    * failure) BEFORE run() returns or throws — a fail-fast await would
    * leave sibling writes running in the background while the caller
    * already handles the error, and an immediate retry would then race
    * a zombie write on the same landed path. On any failure the first
    * error (in table order) propagates AS THE CAUSE of a
    * [[IngestJob.PartialIngestException]] carrying the tables that DID
    * land (await-all means later-listed tables may have been fully
    * ingested before the throw, unlike the serial form which stops at
    * the first failure) — so callers can reconcile state instead of
    * guessing which side-effects happened. */
  def run(): Seq[String] =
    if (parallelism <= 1) source.listTables().flatMap(ingestOne)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.util.{Failure, Success, Try}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = source.listTables().map(t => Future(Try(ingestOne(t))))
        val results = Await.result(Future.sequence(fs),
          scala.concurrent.duration.Duration.Inf)
        results.collectFirst { case Failure(e) =>
          throw new IngestJob.PartialIngestException(
            results.collect { case Success(Some(t)) => t }, e)
        }
        results.flatMap(_.get)
      } finally pool.shutdown()
    }
}

object IngestJob {
  /** A parallel ingest round failed for at least one table AFTER
    * sibling tables already landed their deltas (await-all semantics).
    * `landed` lists the tables whose writes completed, in submission
    * order; the first per-table error (in table order) is the cause. */
  final class PartialIngestException(val landed: Seq[String], cause: Throwable)
      extends RuntimeException(
        s"ingest failed after ${landed.size} table(s) landed " +
          s"[${landed.mkString(", ")}]: ${cause.getMessage}", cause)
}

/** Transform stage (reference: src/transform.py:256-308): read the 11
  * landed tables, build 8 dims + 3 facts as independent lazy plans, write
  * each to the processed store. Each source table is read once; address
  * feeds both dim_location and dim_counterparty from the same scan. */
final class TransformJob(landed: TableStore, processed: TableStore) {

  /** dim_date generation range hardcoded by the reference's transform()
    * (src/transform.py:276). */
  val dimDateStart = "2022-01-01"
  val dimDateEnd = "2024-01-01"

  def run(spark: SparkSession): Seq[String] = {
    def in(name: String): DataFrame =
      landed.read(name, Schemas.sourceTables(name))

    val address = in("address")
    val outputs: Seq[(String, DataFrame)] = Seq(
      "dim_date" -> DimBuilders.dimDate(spark, dimDateStart, dimDateEnd),
      "dim_location" -> DimBuilders.dimLocation(address),
      "dim_design" -> DimBuilders.dimDesign(in("design")),
      "dim_currency" -> DimBuilders.dimCurrency(in("currency")),
      "dim_counterparty" -> DimBuilders.dimCounterparty(address, in("counterparty")),
      "dim_staff" -> DimBuilders.dimStaff(in("staff"), in("department")),
      "dim_transaction" -> DimBuilders.dimTransaction(in("transaction")),
      "dim_payment_type" -> DimBuilders.dimPaymentType(in("payment_type")),
      "fact_sales_order" -> FactBuilders.factSalesOrder(in("sales_order")),
      "fact_purchase_order" -> FactBuilders.factPurchaseOrder(in("purchase_order")),
      "fact_payment" -> FactBuilders.factPayment(in("payment")))

    outputs.map { case (name, df) => processed.write(name, df); name }
  }
}

/** Load stage L1–L3 (reference: src/load.py:51-152): read every table in
  * the processed store once (the reference accidentally scans the bucket
  * twice — src/load.py:83 + :130 — not replicated, SURVEY.md §2.4) and
  * append it to the warehouse. Append-only: re-loads accumulate version
  * rows rather than updating (SCD-2-lite, verified by the reference's
  * end-to-end test). */
final class LoadJob(processed: TableStore, warehouse: TableStore) {

  def run(): Seq[String] =
    processed.list().map { table =>
      warehouse.append(table, processed.read(table))
      table
    }
}

/** JDBC warehouse sink variant of the load stage for production parity
  * with the reference's `to_sql(..., chunksize=1000)` (src/load.py:102-110).
  * Executors write partitions in parallel with batched inserts. Frames are
  * conformed to the declared warehouse StructType first
  * ([[Schemas.conformToWarehouse]]) — the explicit form of the string→date
  * cast the reference delegates to the DB (`agreed_*_date`/`payment_date`;
  * SURVEY.md §1.2), so the warehouse columns land typed even when the DB
  * table is auto-created by the write. */
final class JdbcWarehouseSink(url: String, props: java.util.Properties,
    batchSize: Int = 1000, numWriters: Int = 8) {

  /** The frame actually handed to the JDBC writer: conformed to the
    * warehouse schema and CAPPED at `numWriters` partitions. Writer
    * parallelism must be pinned, not inherited — an upstream frame
    * arriving with thousands of partitions would open thousands of
    * concurrent connections against the warehouse (the classic JDBC-sink
    * scale failure); `coalesce` (no shuffle) bounds the connection count
    * while keeping up-to-`numWriters`-way parallel batched inserts, and
    * is a no-op on frames already at or under the cap — no conditional
    * needed, so no `.rdd` materialization just to read a partition
    * count. Exposed for the spec that asserts the cap. */
  private[etl] def writerFrame(table: String, df: DataFrame): DataFrame =
    Schemas.conformToWarehouse(table, df).coalesce(numWriters)

  def append(table: String, df: DataFrame): Unit =
    writerFrame(table, df).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("batchsize", batchSize)
      .jdbc(url, table, props)

  /** [EXT] Key-matched upsert — the mode the reference lacks: its loader
    * is append-only and re-running a load duplicates every dimension row
    * (reference src/load.py:102-110, asserted by its own
    * test_end_to_end.py:77-113; [[append]] keeps that behavior as the
    * parity default). `upsert` makes re-loads idempotent: rows whose
    * `keys` already exist are replaced, new rows are inserted.
    *
    * Dataflow (dialect-portable — no MERGE, nothing DB-specific beyond
    * correlated EXISTS): the batch lands in a staging table via the same
    * parallel batched-insert path as [[append]] (executors do the data
    * movement), then ONE set-based transaction on the warehouse —
    * `DELETE … WHERE EXISTS (match on keys)` + `INSERT … SELECT` — swaps
    * the matched rows. The driver never iterates rows: the DB performs
    * the match as a join, so warehouse-side cost scales with the DB's
    * join, not with a row-at-a-time driver loop. Batches must be
    * key-unique (dims are; a duplicate-key batch would insert both
    * copies, same as any SQL MERGE source). */
  def upsert(table: String, df: DataFrame, keys: Seq[String]): Unit =
    viaStage("upsert", table, df, keys) { (stage, cols, matched) =>
      Seq(
        s"DELETE FROM ${q(table)} WHERE $matched",
        s"INSERT INTO ${q(table)} ($cols) SELECT $cols FROM $stage")
    }

  /** [[upsert]] with the star schema's declared natural keys
    * ([[Schemas.warehouseKeys]]); unknown tables refuse loudly rather
    * than guessing a key. */
  def upsert(table: String, df: DataFrame): Unit =
    upsert(table, df, Schemas.warehouseKeys.getOrElse(table,
      throw new IllegalArgumentException(
        s"no declared natural key for $table — pass keys explicitly")))

  /** [EXT] SCD-2 load: dimension history instead of replacement. Each
    * row carries `valid_from`/`valid_to`/`is_current`; loading a batch
    * CLOSES the current version of every matched key (valid_to :=
    * batch's effective date, is_current := false) and inserts the new
    * version as current — the slowly-changing-dimension type-2 pattern
    * the reference's append-only loader approximates without effective
    * dating (its re-runs keep all versions but give readers no way to
    * pick one; SURVEY §7.3.5). Point-in-time queries join on
    * `valid_from <= d < valid_to`; current-state queries filter
    * `is_current`.
    *
    * Same set-based dataflow as [[upsert]] — staging table via the
    * parallel writer, then one transaction: UPDATE-close + INSERT —
    * so the warehouse does the matching as joins, never a driver loop.
    * Unchanged-row detection is intentionally NOT done here (a batch
    * row always opens a new version); feed deltas, or diff upstream
    * with [[graft.operators.Dedup.exactGroups]]-style content hashing,
    * if only-changed-rows history is wanted. */
  def scd2Load(table: String, df: DataFrame, keys: Seq[String],
      effectiveDate: java.sql.Date): Unit = {
    val d = s"DATE('$effectiveDate')"
    viaStage("scd2Load", table, df, keys) { (stage, cols, matched) =>
      Seq(
        s"UPDATE ${q(table)} SET ${q("valid_to")} = $d, " +
          s"${q("is_current")} = false " +
          s"WHERE ${q("is_current")} = true AND $matched",
        s"INSERT INTO ${q(table)} ($cols, ${q("valid_from")}, " +
          s"${q("valid_to")}, ${q("is_current")}) " +
          s"SELECT $cols, $d, CAST(NULL AS DATE), true FROM $stage")
    }
  }

  /** Quote an identifier the way Spark's JDBC writer quotes COLUMN names
    * it creates (case-preserved; also covers "unit price"). */
  private def q(id: String) = "\"" + id + "\""

  /** The set-based load both [[upsert]] and [[scd2Load]] run: land the
    * batch in `<table>_stage` through the parallel writer, then execute
    * `statements(stage, cols, matched)` in ONE transaction (rolled back
    * on any failure) and drop the stage. `stage` is the quoted stage
    * name, `cols` the quoted batch columns, and `matched` an
    * `EXISTS (…)` predicate true for target rows whose `keys` appear in
    * the stage. Table names pass through the writer verbatim, so the
    * stage is created under its quoted name to match the statements. */
  private def viaStage(op: String, table: String, df: DataFrame,
      keys: Seq[String])(
      statements: (String, String, String) => Seq[String]): Unit = {
    require(keys.nonEmpty, s"$op into $table needs at least one key column")
    val stage = q(s"${table}_stage")
    val frame = writerFrame(table, df)
    frame.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("batchsize", batchSize)
      .jdbc(url, stage, props)
    val cols = frame.schema.fieldNames.map(q).mkString(", ")
    val matched = s"EXISTS (SELECT 1 FROM $stage s WHERE " +
      keys.map(k => s"s.${q(k)} = ${q(table)}.${q(k)}").mkString(" AND ") + ")"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        statements(stage, cols, matched).foreach(sql => st.executeUpdate(sql))
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
      val drop = conn.createStatement()
      try { drop.executeUpdate(s"DROP TABLE $stage"); conn.commit() }
      finally drop.close()
    } finally conn.close()
  }
}

/** The three stages chained over shared storage — the reference runs them
  * as independent Lambdas on EventBridge timers with S3 as the only
  * coupling (SURVEY.md §3); here they compose directly or run individually
  * for micro-batch scheduling. */
final class Pipeline(
    source: OltpSource,
    ingested: TableStore,
    processed: TableStore,
    warehouse: TableStore) {

  def ingestedStore: TableStore = ingested
  def processedStore: TableStore = processed
  def warehouseStore: TableStore = warehouse

  def runExtract(): Seq[String] = new IngestJob(source, ingested).run()
  def runTransform(spark: SparkSession): Seq[String] =
    new TransformJob(ingested, processed).run(spark)
  def runLoad(): Seq[String] = new LoadJob(processed, warehouse).run()

  def runAll(spark: SparkSession): (Seq[String], Seq[String], Seq[String]) =
    (runExtract(), runTransform(spark), runLoad())
}
