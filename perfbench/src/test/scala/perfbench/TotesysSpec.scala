package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{ParquetSource, Schemas}

class TotesysSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private lazy val dir = Files.createTempDirectory("totesys")

  override def afterAll(): Unit = { spark.stop(); Main.deleteTree(dir) }

  /** Writes state `k` of `table` under `name` and reads it back the way
    * the pipeline's source reads it (declared schema). */
  private def state(gen: Totesys, name: String, table: String, k: Int) = {
    val file = s"$dir/$name/$table.parquet/part-00000.parquet"
    if (!Files.exists(Paths.get(file))) gen.write(table, k, file)
    new ParquetSource(spark, s"$dir/$name").full(table)
  }

  test("the same seed gives identical source tables, another seed does not") {
    Seq("address", "sales_order", "transaction", "payment").foreach { t =>
      val a = Canon.of(state(new Totesys(7L), "a", t, 2))
      assert(a == Canon.of(state(new Totesys(7L), "b", t, 2)), t)
      assert(a != Canon.of(state(new Totesys(8L), "c", t, 2)), t)
    }
  }

  test("every batch is strictly newer than the watermark before it") {
    val gen = new Totesys(11L)
    Totesys.Changing.foreach { t =>
      (1 to 3).foreach { k =>
        val before = state(gen, s"w${k - 1}", t, k - 1)
        val marks = before.agg(max("created_at"), max("last_updated")).head()
        val batch = state(gen, s"w$k", t, k).exceptAll(before)
        assert(batch.count() == gen.inserts(t) + gen.updates(t), s"$t batch $k size")
        assert(batch.filter(col("last_updated") <= marks.getTimestamp(1)).isEmpty, s"$t batch $k")
        assert(batch.filter(col("created_at") > marks.getTimestamp(0)).count() == gen.inserts(t),
          s"$t batch $k inserts")
      }
    }
  }

  test("each source table and each batch state is one parquet file") {
    val gen = new Totesys(3L)
    gen.writeAll(s"$dir/src", s"$dir/states", 2)
    def parts(table: String) = Files.list(Paths.get(s"$dir/src/$table.parquet")).toArray
      .map(_.toString).count(p => p.endsWith(".parquet") && !p.contains("/."))
    (0 to 2).foreach { k =>
      gen.install(s"$dir/src", s"$dir/states", k)
      Schemas.sourceTables.keys.foreach { t =>
        assert(parts(t) == 1, t)
        assert(Totesys.parquetRows(s"$dir/src/$t.parquet") == gen.rows(t, k), s"$t state $k")
      }
    }
  }
}
