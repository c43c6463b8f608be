package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Scale-safe total-order primitives: global row numbers and global
  * running sums WITHOUT the single-partition window collapse.
  *
  * `Window.orderBy(k)` with no partition spec moves the whole dataset to
  * one partition. The two-pass partition-offset form used here produces
  * identical output:
  *
  *  1. Bucket rows so buckets are globally ordered (every value in bucket
  *     i sorts before every value in bucket i+1): a global order = bucket
  *     order + order within the bucket.
  *  2. Per-bucket totals (count / sum of the weight) are aggregated to
  *     one row per bucket — at most `spark.sql.shuffle.partitions` rows,
  *     i.e. metadata-sized at any data scale.
  *  3. Each bucket's PREFIX offset (total over all lower buckets) is
  *     folded from that tiny totals frame and broadcast back onto the
  *     data.
  *  4. The global value = prefix offset + an intra-bucket window
  *     (hash-partitioned on the bucket id — linear, parallel).
  *
  * Two bucketing strategies, picked by the order column's type:
  *
  *  - ORDERED-NUMERIC (ints, floats, decimals, dates, timestamps): bucket
  *    boundaries are approximate quantiles of the order column, drawn ONCE
  *    per plan and carried in the plan as a one-row literal `_bnds` frame;
  *    the bucket id is a pure function of (row value, boundaries), so the
  *    totals branch and the data branch bucket every row identically.
  *    Boundary VALUES never affect correctness: any sorted array merely
  *    partitions the order, and prefix offsets aggregate from the
  *    actually-bucketed totals — a different draw only changes bucket
  *    balance. The data is never cached and is shuffled once (the
  *    window's hash exchange on the bucket id). A monotone NON-strict
  *    double image suffices: a long→double cast can collapse two adjacent
  *    keys (≥2^53) but never invert them, so a collision merges their
  *    buckets and the intra-bucket sort on the original column still
  *    orders them exactly.
  *
  *  - ANY ORDERABLE TYPE (strings, structs): `repartitionByRange(orderKey)`
  *    with the ranged frame materialized once ([[CacheOnce]]) so the totals
  *    branch and the data branch read the same physical partitioning. The
  *    cache is a correctness requirement: RangePartitioner seeds its
  *    reservoir sample from the runtime RDD id, so two range exchanges
  *    over one input can draw DIFFERENT boundaries. (percentile_approx has
  *    no order-preserving image for strings.)
  *
  * Determinism: `orderCol` must be a total order (unique per row) for the
  * running values to be well-defined — the same requirement any SQL
  * `OVER (ORDER BY k)` has under ties.
  */
object TotalOrder {

  /** Order-preserving (monotone non-strict) double image of the order
    * column, or None when the type has no such image and the caller must
    * take the range-partitioner fallback. */
  private def doubleImage(dt: DataType, c: Column): Option[Column] = dt match {
    case _: NumericType => Some(c.cast("double"))
    case DateType | TimestampType | TimestampNTZType =>
      Some(c.cast("timestamp").cast("double"))
    case _ => None
  }

  /** Attach `_pid` (globally-ordered bucket id) and `_prefix` (sum of
    * `weight` over all lower buckets). Internal: callers drop both. */
  private def withPrefixOffsets(df: DataFrame, orderCol: String,
      weight: Column): DataFrame =
    doubleImage(df.schema(orderCol).dataType, col(orderCol)) match {
      case Some(img) => quantilePrefixOffsets(df, img, weight)
      case None      => rangePrefixOffsets(df, orderCol, weight)
    }

  /** Session-memoized boundary arrays: nb-1 doubles per entry, keyed by
    * (input plan semantic hash, order image, nb). The sketch is a full
    * input scan; memoizing the VALUES driver-side lets later consumers of
    * the same (input, order) pair skip it, across `clearCache()` too. A
    * stale or colliding entry can only skew bucket balance, never results
    * (see the object doc). Weak session keys. */
  private val boundaryCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(Int, String, Int), Option[Seq[Double]]]]()

  /** Drop the session's memoized boundary arrays, so the next consumer
    * pays the sketch scan. Correctness never needs this. */
  def invalidateBoundaryMemo(spark: SparkSession): Unit =
    boundaryCache.synchronized {
      val m = boundaryCache.get(spark)
      if (m != null) m.clear()
    }

  /** No-op: TotalOrder persists no catalog tables. */
  def dropPersistedStats(spark: SparkSession): Unit = ()

  /** The boundary array for (df, img, nb): the session memo, else one
    * sketch scan (collected and memoized). None on an empty input. */
  private def boundariesFor(df: DataFrame, img: Column, nb: Int)
      : Option[Seq[Double]] = {
    val spark = df.sparkSession
    val perSession = boundaryCache.synchronized {
      val existing = boundaryCache.get(spark)
      if (existing != null) existing
      else {
        val m = scala.collection.concurrent.TrieMap
          .empty[(Int, String, Int), Option[Seq[Double]]]
        boundaryCache.put(spark, m)
        m
      }
    }
    perSession.getOrElseUpdate((df.semanticHash(), img.toString, nb), {
      val probs = (1 until nb).map(i => lit(i.toDouble / nb))
      val row = df.agg(
        percentile_approx(img, array(probs: _*), lit(10000)).as("_bnds"))
        .collect()(0)
      if (row.isNullAt(0)) None else Some(row.getSeq[Double](0))
    })
  }

  /** The one-row literal `_bnds` frame both bucketing branches
    * cross-join: one boundary draw per plan by construction. */
  private def boundariesFrame(df: DataFrame, img: Column, nb: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(boundariesFor(df, img, nb)).toDF("_bnds")
  }

  /** Bucket id of `img` against the broadcast `_bnds` array: count of
    * boundaries strictly below the value, as a static binary-search
    * when-tree (log2(nb) codegen'd comparisons per row; an `aggregate`
    * fold over _bnds evaluates its lambda interpreted). Monotone
    * non-decreasing in the total order, so bucket i < bucket i+1 holds.
    * Upper-bound search is duplicate-safe: at each node, if img >
    * bnds[mid+1] then every boundary at index <= mid+1 is < img (sorted),
    * so the count is >= mid+1; otherwise none above mid is. A null img
    * fails every comparison and descends to bucket 0 — the same place the
    * range path puts null-first keys. */
  private def bucketIdFor(img: Column, nb: Int): Column = {
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(img > element_at(col("_bnds"), mid + 1), search(mid + 1, hi))
          .otherwise(search(lo, mid))
      }
    search(0, nb - 1)
  }

  /** Ordered-numeric path: deterministic quantile-boundary bucketing.
    * Both branches bucket the input map-side against the one-row `_bnds`
    * literal: the totals branch aggregates per bucket before its exchange
    * (at most nb partial rows per task), and the data branch joins the
    * broadcast prefixes and then shuffles once on `_pid`, the
    * partitioning the window needs. A caller's filter on `_prefix`
    * pushes below that exchange and into the prefix side, so a bounded
    * cut shuffles only the buckets that survive it.
    *
    * PRECONDITION: the two branches read `df` independently, so its plan
    * must be DETERMINISTIC (no rand()/sample()/unordered limit upstream)
    * — a plan that realizes different rows per read would total one
    * realization and number another. Cache an expensive input projection
    * (the token gates cache their per-doc counts). */
  private def quantilePrefixOffsets(df: DataFrame, img: Column,
      weight: Column): DataFrame = {
    val nb = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (nb <= 1)
      // degenerate single bucket: the window itself is the whole order
      return df.withColumn("_pid", lit(0)).withColumn("_prefix", lit(0L))
    val bnds = boundariesFrame(df, img, nb)
    def bucketed = df.crossJoin(broadcast(bnds))
      .withColumn("_pid", bucketIdFor(img, nb))
      .drop("_bnds")
    val totals = bucketed.groupBy(col("_pid")).agg(sum(weight).as("_ptot"))
    bucketed.join(broadcast(prefixOf(totals)), Seq("_pid"))
      .repartition(col("_pid"))
  }

  /** Fallback for types without a numeric image: range partitioning with
    * a single cached materialization (see the object doc for why the
    * cache is a correctness requirement here, not an optimization). */
  private def rangePrefixOffsets(df: DataFrame, orderCol: String,
      weight: Column): DataFrame = {
    val parted = CacheOnce(df.repartitionByRange(col(orderCol))
      .withColumn("_pid", spark_partition_id()))
    val totals = parted.groupBy(col("_pid")).agg(sum(weight).as("_ptot"))
    parted.join(broadcast(prefixOf(totals)), Seq("_pid"))
  }

  /** Prefix sum over a ≤numPartitions-row totals frame, read ONCE: the
    * totals gather into one array and each bucket's prefix folds the
    * lower buckets' totals (nb² additions on nb numbers). A window would
    * itself be a single-partition WindowExec and trip the gate-wide plan
    * audit. The prefix has the type `sum(_ptot)` has. */
  private def prefixOf(totals: DataFrame): DataFrame = {
    val dt = totals.select(sum(col("_ptot"))).schema.head.dataType
    val zero = lit(0).cast(dt)
    totals.agg(collect_list(struct(col("_pid"), col("_ptot"))).as("_t"))
      .select(explode(transform(col("_t"), a => struct(
        a("_pid").as("_pid"),
        aggregate(filter(col("_t"), b => b("_pid") < a("_pid")), zero,
          (acc, b) => (acc + coalesce(b("_ptot").cast(dt), zero)).cast(dt))
          .as("_prefix")))).as("_p"))
      .select(col("_p._pid"), col("_p._prefix"))
  }

  /** Global `row_number() OVER (ORDER BY orderCol)` as `out` (LongType),
    * identical to the single-partition window on a unique key.
    *
    * For ordered-numeric order columns the FIRST call per (input, order)
    * pair in a session runs the boundary sketch scan at plan-BUILD time,
    * even if the returned frame is never executed; later calls build
    * lazily from the memo. */
  def globalRowNumber(df: DataFrame, orderCol: String, out: String): DataFrame =
    globalRowNumber(df, orderCol, out, None)

  /** Bounds under which the bounded row-number path is served as a
    * TakeOrdered top-k instead of the two-pass prune. TakeOrdered holds
    * up to `bound` rows per task heap and merges ≤ bound rows on the
    * driver — constant-bounded memory for a query-constant bound. Past
    * this the two-pass prune wins (nothing driver-resident). */
  val TopKLimitMax: Long = 1L << 20

  /** [[globalRowNumber]] with an optional bucket-pruning upper bound:
    * when the caller will keep only `out <= bound` (a global-order
    * LIMIT), every bucket whose row-count PREFIX is already >= bound is
    * dropped BEFORE the intra-bucket window — its rows all number past
    * the bound. Surviving rows' numbering is untouched (prefixes
    * aggregate over ALL buckets), so this is output-equivalent to
    * filtering after. */
  def globalRowNumber(df: DataFrame, orderCol: String, out: String,
      upperBound: Option[Long]): DataFrame = {
    upperBound.foreach(b => require(b >= 1,
      s"globalRowNumber upper bound must be >= 1, got $b (an empty " +
        "result wants limit(0) at the call site, not a rank bound)"))
    upperBound match {
    case Some(b) if b <= TopKLimitMax =>
      // Rank-with-LIMIT is a top-k: ONE scan with a per-partition heap
      // (TakeOrderedAndProject); the data never shuffles. Works for every
      // orderable type. The trailing rank window is unpartitioned but
      // BOUNDED by the ≤ b-row TakeOrdered output — the plan audit admits
      // unpartitioned windows only above a literal global LIMIT. Ranks
      // are exact for 1..min(b, n), which is the entire contract: the
      // caller keeps only out <= b.
      df.orderBy(col(orderCol)).limit(b.toInt)
        .withColumn(out,
          row_number().over(Window.orderBy(col(orderCol))).cast("long"))
    case _ =>
      val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      val offsets = withPrefixOffsets(df, orderCol, lit(1L))
      // out = prefix + rn >= prefix + 1, so a bucket with prefix >= b
      // numbers entirely past the bound
      val pruned = upperBound match {
        case Some(b) => offsets.filter(col("_prefix") < b)
        case None    => offsets
      }
      pruned
        .withColumn(out, (col("_prefix") + row_number().over(w)).cast("long"))
        .drop("_pid", "_prefix")
  }}

  /** Global running sum of `valueCol` over `orderCol` order as `out`.
    * `inclusive = true` is `ROWS UNBOUNDED PRECEDING AND CURRENT ROW`;
    * `false` is `... AND 1 PRECEDING` (0 for the first row).
    * Same plan-build sketch note as [[globalRowNumber]]. */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
      out: String, inclusive: Boolean = true): DataFrame =
    globalCumSum(df, orderCol, valueCol, out, inclusive, None)

  /** [[globalCumSum]] with an optional bucket-pruning upper bound: when
    * the caller will keep only rows with `out <= bound` (the token-budget
    * shard cut), every bucket whose PREFIX offset already exceeds the
    * bound is dropped BEFORE the intra-bucket window — its rows all have
    * running sums past the bound. Output-equivalent to filtering after:
    * the prefix aggregates over ALL buckets and the intra-bucket term
    * over the bucket's own rows, neither touched by the prune.
    *
    * PRECONDITION: `valueCol` must be NON-NEGATIVE when `upperBound` is
    * set — the prune reasons "prefix already past the bound ⇒ every
    * later running sum is too", which negative values break. Pass None
    * for signed values. */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
      out: String, inclusive: Boolean, upperBound: Option[Long]): DataFrame = {
    val upper = if (inclusive) 0L else -1L
    val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, upper)
    val withOffsets = withPrefixOffsets(df, orderCol, col(valueCol))
    val pruned = upperBound match {
      case Some(b) => withOffsets.filter(col("_prefix") <= b)
      case None    => withOffsets
    }
    pruned
      .withColumn(out,
        col("_prefix") + coalesce(sum(col(valueCol)).over(w), lit(0L)))
      .drop("_pid", "_prefix")
  }
}
