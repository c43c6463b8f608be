package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables}
import graft.etl.DimBuilders

/** The reference's operator semantics (SURVEY.md §2.2–2.4) exercised over
  * the driver testdata so each lands in the DuckDB correctness gate:
  * T1/T2 date dimension, T5 CASE WHEN default-'0', T11 timestamp split,
  * E2 watermark aggregate, S3 strict-`>` CDC filter, T7/T8 join+rename+sort,
  * L2 append (union-all) semantics. Bit-parity variants of these builders
  * are additionally asserted against the reference's seed rows in
  * src/test/scala/graft/etl/. */
object EtlParity {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables(s, dir, n)

  val defs: Seq[GQuery] = Seq(

    // ---- T1+T2: generated date dimension (explode(sequence), ISO dow).
    GQuery(
      "etl_dim_date",
      """SELECT strftime(d, '%Y-%m-%d') AS date_id,
        |  CAST(year(d) AS BIGINT) AS year,
        |  CAST(month(d) AS BIGINT) AS month,
        |  CAST(day(d) AS BIGINT) AS day,
        |  CAST(isodow(d) AS BIGINT) AS day_of_week,
        |  dayname(d) AS day_name,
        |  monthname(d) AS month_name,
        |  CAST(quarter(d) AS BIGINT) AS quarter
        |FROM generate_series(DATE '2022-01-01', DATE '2024-01-01',
        |  INTERVAL 1 DAY) t(d)
        |ORDER BY date_id""".stripMargin) { (s, _) =>
      // date_id emitted as a string: DATE renders differently across the
      // two engines' client layers; the typed DateType variant is asserted
      // in DimBuildersSpec.
      DimBuilders.dimDate(s, "2022-01-01", "2024-01-01")
        .withColumn("date_id", date_format(col("date_id"), "yyyy-MM-dd"))
        .orderBy("date_id")
    },

    // ---- T5: CASE WHEN with the reference's string-'0' default.
    GQuery(
      "etl_case_default",
      """SELECT r_regionkey, r_name,
        |  CASE WHEN r_name = 'AFRICA' THEN 'Africa Zone'
        |       WHEN r_name = 'EUROPE' THEN 'Europe Zone'
        |       WHEN r_name = 'ASIA' THEN 'Asia Zone'
        |       ELSE '0' END AS zone_name
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "region").select(
          col("r_regionkey"), col("r_name"),
          when(col("r_name") === "AFRICA", "Africa Zone")
            .when(col("r_name") === "EUROPE", "Europe Zone")
            .when(col("r_name") === "ASIA", "Asia Zone")
            .otherwise("0").as("zone_name"))
        .orderBy("r_regionkey")
    },

    // ---- T11: timestamp → (date, time) string split. Explicit formats on
    // both engines (the bit-parity `str(ts).split(" ")` variant is covered
    // by FactBuildersSpec; events carry microseconds, so a format pin is
    // the deterministic cross-engine rendering).
    GQuery(
      "etl_ts_split",
      """SELECT event_id,
        |  strftime(ts, '%Y-%m-%d') AS created_date,
        |  strftime(ts, '%H:%M:%S') AS created_time
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin) { (s, dir) =>
      t(s, dir, "events").select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("created_date"),
          date_format(col("ts"), "HH:mm:ss").as("created_time"))
        .orderBy("event_id").limit(1000)
    },

    // ---- E2: watermark = 2-value MAX aggregate (map-side combined; one
    // row to the driver at any scale).
    GQuery(
      "etl_watermark",
      """SELECT CAST(max(ts) AS TIMESTAMP) AS max_created, count(*) AS n_rows
        |FROM events""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .agg(max(col("ts")).as("max_created"), count(lit(1)).as("n_rows"))
    },

    // ---- S3: strict-`>` CDC predicate, pushed into the scan.
    GQuery(
      "etl_incremental_delta",
      """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      // strict-> watermark on the RAW physical column (the converted
      // `ts` cannot push through its cast): the predicate
      // reaches the parquet row-group statistics (asserted by PlanAuditSpec)
      graft.core.Tables.eventsAfter(
          t(s, dir, "events"), "2024-01-25T00:00:00Z")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // ---- T7+T8: inner join + projection/rename + explicit sort
    // (dim_staff shape) with the dimension side broadcast.
    GQuery(
      "etl_join_rename_sort",
      """SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
        |  n_name AS nation_name, round(s_acctbal, 2) AS account_balance
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY supplier_id""".stripMargin) { (s, dir) =>
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"), "inner")
        .select(col("s_suppkey").as("supplier_id"),
          col("s_name").as("supplier_name"),
          col("n_name").as("nation_name"),
          round(col("s_acctbal"), 2).as("account_balance"))
        .orderBy("supplier_id")
    },

    // ---- T14 [EXT]: deterministic surrogate-key generation. The
    // reference delegates to warehouse SERIAL (and disables its own
    // range(); transform.py:169); the engine-side alternative is a global
    // row number over an explicit total order — deterministic, unlike
    // monotonically_increasing_id, and reproducible by the oracle. With
    // the LIMIT pushed in as a bound the Spark side plans a TakeOrdered
    // top-k — never the oracle's literal single-partition OVER (ORDER
    // BY) window over the corpus; unbounded keying runs TotalOrder's
    // two-pass range-partition form.
    GQuery(
      "etl_surrogate_keys",
      """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT)
        |    AS order_sk,
        |  o_orderkey, o_custkey
        |FROM orders
        |ORDER BY order_sk LIMIT 100""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      // the LIMIT pushes into the numbering as TotalOrder's top-k bound:
      // rank-with-LIMIT plans as one TakeOrderedAndProject scan (zero
      // data shuffle; plan-audit-pinned) — the two-pass boundary
      // machinery only engages for unbounded numbering (smp_*/txt_ppl)
      graft.operators.TotalOrder.globalRowNumber(base, "o_orderkey",
          "order_sk", upperBound = Some(100L))
        .select(col("order_sk"), col("o_orderkey"), col("o_custkey"))
        .orderBy("order_sk").limit(100)
    },

    // ---- [EXT] Keyed upsert as frame algebra (FrameLoads.upsertKeyed):
    // the lakehouse counterpart of the JDBC sink's upsert mode — batch
    // rows replace their keys in the snapshot, everything else is kept.
    // Snapshot = customer dim; batch = BUILDING customers with a +100
    // balance adjustment (a simulated re-run with changed rows).
    GQuery(
      "etl_upsert_keyed",
      """SELECT c_custkey, c_name, bal FROM (
        |  SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        |  FROM customer
        |  WHERE c_custkey NOT IN (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  UNION ALL
        |  SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS bal
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |) ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val current = cust.select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("bal"))
      val batch = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") + 100, 2).as("bal"))
      graft.etl.FrameLoads.upsertKeyed(current, batch, Seq("c_custkey"))
        .orderBy("c_custkey")
    },

    // ---- [EXT] SCD-2 merge as frame algebra (FrameLoads.scd2Merge):
    // the effective-dated history transition — the batch closes each
    // matched key's open version (valid_to := effective date) and opens
    // a new current one; the oracle replays the same transition as a
    // left join + union. valid_to is emitted with the 9999-12-31 open
    // sentinel so the hash never compares engine NULL renderings.
    GQuery(
      "etl_scd2_merge",
      """SELECT c_custkey, c_name, bal,
        |  strftime(valid_from, '%Y-%m-%d') AS valid_from,
        |  strftime(coalesce(valid_to, DATE '9999-12-31'), '%Y-%m-%d') AS valid_to,
        |  is_current
        |FROM (
        |  SELECT c.c_custkey, c.c_name, c.bal, c.valid_from,
        |    CASE WHEN b.c_custkey IS NOT NULL THEN DATE '1998-06-01'
        |         ELSE CAST(NULL AS DATE) END AS valid_to,
        |    b.c_custkey IS NULL AS is_current
        |  FROM (
        |    SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal,
        |      DATE '1992-01-01' AS valid_from
        |    FROM customer) c
        |  LEFT JOIN (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') b
        |    ON c.c_custkey = b.c_custkey
        |  UNION ALL
        |  SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS bal,
        |    DATE '1998-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    true AS is_current
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |) ORDER BY c_custkey, valid_from""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val current = cust.select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("bal"))
        .withColumn("valid_from", lit("1992-01-01").cast("date"))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val batch = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") + 100, 2).as("bal"))
      graft.etl.FrameLoads.scd2Merge(current, batch, Seq("c_custkey"),
          lit("1998-06-01"))
        .select(col("c_custkey"), col("c_name"), col("bal"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(coalesce(col("valid_to"), lit("9999-12-31").cast("date")),
            "yyyy-MM-dd").as("valid_to"),
          col("is_current"))
        .orderBy("c_custkey", "valid_from")
    },

    // ---- L2: append-only load = UNION ALL accumulation semantics.
    GQuery(
      "etl_append_union",
      """SELECT o_orderstatus, count(*) AS n_rows
        |FROM (
        |  SELECT o_orderstatus FROM orders WHERE o_totalprice < 50000
        |  UNION ALL
        |  SELECT o_orderstatus FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |) appended
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_totalprice") < 50000).select("o_orderstatus")
        .unionAll(o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
          .select("o_orderstatus"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus")
    }
  )
}
