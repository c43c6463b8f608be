package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._
import graft.etl.Schemas

/** Seeded generator of the 11 Totesys source tables (declared
  * `Schemas.sourceTables`), one parquet file per table, as the
  * single-cursor `JdbcSource` default lands them. It writes the files
  * directly, without Spark, so it costs the set-up little.
  *
  * Base rows are created and last updated at or before `T0`. Batch
  * `j >= 1` inserts 1% new rows and updates 1% existing rows of each of
  * the four transactional tables, all stamped inside the day after
  * `T0 + (j-1) days`, so every batch is strictly newer than the watermark
  * the previous batch leaves. Each base row is updated at most once. Every
  * value is a hash of (seed, table, row, column, version), so the state
  * after batch `k` is a pure function of (seed, table, k). */
final class Totesys(seed: Long) {
  import Totesys._

  def base(table: String): Int = table match {
    case "currency" => 3
    case "payment_type" => 4
    case "department" => 20
    case "staff" => 100
    case "design" => 250
    case "counterparty" => 500
    case "address" => 1000
    case "sales_order" => 10000
    case "purchase_order" => 5000
    case "payment" => 15000
    case "transaction" => 15000
  }

  def inserts(table: String): Int = if (Changing.contains(table)) base(table) / 100 else 0
  def updates(table: String): Int = if (Changing.contains(table)) base(table) / 100 else 0

  /** Rows the source table holds after batch `k`. */
  def rows(table: String, k: Int): Long = base(table) + k.toLong * inserts(table)

  /** Rows each warehouse table gains from pipeline run `r` (0 = the full
    * load, r = batch r). Transform rebuilds every dimension from the
    * landed tables, and the append-only load appends all of them; the
    * four transactional tables land only their delta after the first run. */
  def warehouseGain(r: Int): Map[String, Long] = Warehouse.map { case (wt, src) =>
    wt -> (src match {
      case None => DimDateDays
      case Some(t) if r > 0 && Changing.contains(t) => (inserts(t) + updates(t)).toLong
      case Some(t) => base(t).toLong
    })
  }

  /** Expected warehouse row counts after runs 0..r. */
  def warehouseAfter(r: Int): Map[String, Long] =
    (0 to r).map(warehouseGain).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })

  private def hash(xs: Long*): Long = xs.foldLeft(seed)((h, x) => splitMix(h ^ x))
  private def pick(n: Long, xs: Long*): Long = Math.floorMod(hash(xs: _*), n)

  /** Row `id` of table `table` in state `k`: one value per declared
    * column, null for a missing value. */
  def row(table: String, id: Long, k: Int): Array[Any] = {
    val schema = Schemas.sourceTables(table)
    val t = table.hashCode.toLong
    val b = base(table).toLong
    val changing = Changing.contains(table)
    val (ins, upd) = (math.max(1, inserts(table)).toLong, math.max(1, updates(table)).toLong)
    val offset = pick(b, t, -1L)
    val updBatch = if (changing && id < b) Math.floorMod(id - offset, b) / upd + 1 else 0L
    val insBatch = if (id >= b) (id - b) / ins + 1 else 0L
    val updated = updBatch > 0 && updBatch <= k
    val version = if (updated) updBatch else insBatch
    def inDay(j: Long, salt: Long) = T0 + (j - 1) * Day + 1 + pick(Day - 1, t, id, salt, j)
    val created = if (insBatch > 0) inDay(insBatch, -2L) else T0 - pick(300 * Day, t, id, -3L)
    val lastUpdated = if (updated) inDay(updBatch, -4L) else created
    schema.fields.zipWithIndex.map { case (f, i) =>
      val c = i.toLong
      f.name match {
        case _ if i == 0 => (id + 1).toInt
        case "created_at" => created
        case "last_updated" => lastUpdated
        case "currency_code" => Seq("GBP", "USD", "EUR")((id % 3).toInt)
        case "transaction_type" => if (id % 2 == 0) "SALE" else "PURCHASE"
        case "sales_order_id" if table == "transaction" =>
          if (id % 2 == 0) (pick(base("sales_order"), t, id, c) + 1).toInt else null
        case "purchase_order_id" if table == "transaction" =>
          if (id % 2 == 1) (pick(base("purchase_order"), t, id, c) + 1).toInt else null
        case n if ForeignKeys.contains(n) => (pick(base(ForeignKeys(n)), t, id, c) + 1).toInt
        case n if n.contains("date") => LocalDate.of(2023, 1, 1).plusDays(pick(365, t, id, c, version)).toString
        case n => f.dataType match {
          case IntegerType => (pick(1000, t, id, c, version) + 1).toInt
          case _: DecimalType => pick(1000000, t, id, c, version)
          case BooleanType => pick(2, t, id, c, version) == 0
          case _ => s"$n-${pick(100000, t, id, c)}"
        }
      }
    }
  }

  /** Writes state `k` of `table` as the single parquet file `file`. */
  def write(table: String, k: Int, file: String): Unit = {
    val schema = Schemas.sourceTables(table)
    val msg = parquetSchema(schema)
    val groups = new SimpleGroupFactory(msg)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(msg)
      .withConf(new Configuration()).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try {
      var id = 0L
      while (id < rows(table, k)) {
        val g = groups.newGroup()
        row(table, id, k).zip(schema.fields).foreach {
          case (null, _) =>
          case (v: Int, f) => g.add(f.name, v)
          case (v: Long, f) if f.dataType == TimestampType => g.add(f.name, v * 1000000L)
          case (v: Long, f) => g.add(f.name, v)
          case (v: Boolean, f) => g.add(f.name, v)
          case (v, f) => g.add(f.name, v.toString)
        }
        w.write(g)
        id += 1
      }
    } finally w.close()
  }

  /** Writes the seven tables that never change to `src/<table>.parquet/`,
    * and every state 0..`batches` of the four transactional tables to
    * `states/<table>/k=<k>/`, one file each. */
  def writeAll(src: String, states: String, batches: Int): Unit =
    Schemas.sourceTables.keys.foreach { t =>
      if (Changing.contains(t))
        (0 to batches).foreach(k => write(t, k, s"$states/$t/k=$k/part-00000.parquet"))
      else write(t, 0, s"$src/$t.parquet/part-00000.parquet")
    }

  /** Puts state `k` of the transactional tables in place under `src`,
    * returning the state it replaced there (if any) to `states`. */
  def install(src: String, states: String, k: Int): Unit = Changing.foreach { t =>
    val live = Paths.get(src, s"$t.parquet")
    val marker = live.resolve("_state")
    if (Files.exists(live)) {
      val cur = new String(Files.readAllBytes(marker), "UTF-8").trim
      Files.delete(marker)
      Files.move(live, Paths.get(states, t, s"k=$cur"))
    }
    Files.move(Paths.get(states, t, s"k=$k"), live)
    Files.write(marker, k.toString.getBytes("UTF-8"))
  }
}

object Totesys {
  /** Tables that receive inserts and updates between batches. */
  val Changing: Seq[String] = Seq("sales_order", "purchase_order", "payment", "transaction")
  /** 2023-06-01T00:00:00Z, in epoch seconds. */
  val T0: Long = 1685577600L
  val Day: Long = 86400L
  /** `TransformJob` generates dim_date from 2022-01-01 to 2024-01-01 inclusive. */
  val DimDateDays: Long = 731L

  private val ForeignKeys: Map[String, String] = Map(
    "legal_address_id" -> "address", "agreed_delivery_location_id" -> "address",
    "department_id" -> "department", "design_id" -> "design", "staff_id" -> "staff",
    "counterparty_id" -> "counterparty", "currency_id" -> "currency",
    "payment_type_id" -> "payment_type", "transaction_id" -> "transaction",
    "sales_order_id" -> "sales_order", "purchase_order_id" -> "purchase_order")

  /** Warehouse table -> the source table it is built from (None: dim_date). */
  val Warehouse: Map[String, Option[String]] = Map(
    "dim_date" -> None, "dim_location" -> Some("address"),
    "dim_design" -> Some("design"), "dim_currency" -> Some("currency"),
    "dim_counterparty" -> Some("counterparty"), "dim_staff" -> Some("staff"),
    "dim_transaction" -> Some("transaction"), "dim_payment_type" -> Some("payment_type"),
    "fact_sales_order" -> Some("sales_order"),
    "fact_purchase_order" -> Some("purchase_order"), "fact_payment" -> Some("payment"))

  private def splitMix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The parquet form of a declared source schema, as a JDBC extract
    * lands it: decimals as scaled longs, timestamps in UTC microseconds. */
  def parquetSchema(s: StructType): MessageType = {
    val b = Types.buildMessage()
    s.fields.foreach { f =>
      f.dataType match {
        case IntegerType => b.optional(PrimitiveTypeName.INT32).named(f.name)
        case BooleanType => b.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case StringType => b.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case d: DecimalType => b.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(f.name)
        case TimestampType => b.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        case other => throw new IllegalArgumentException(s"no parquet form for ${f.name}: $other")
      }
    }
    b.named("spark_schema")
  }

  /** Row count of a parquet table directory, read from the file footers. */
  def parquetRows(dir: String): Long = {
    val conf = new Configuration()
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }
}
