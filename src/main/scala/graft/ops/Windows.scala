package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.2 "Window functions").
  *
  * The reference's upsert keyed on (user_id, course_id)
  * (user_course_activity.py:73–102) is exactly latest-wins =
  * `row_number() over (partition by key order by recency) = 1`, and its
  * first/last-completion column pair (user_course_activity_database.sql:16–17)
  * is min/max-over-group. This object provides the full family: ranking,
  * running aggregates over row frames, lag/lead, and range (time-interval)
  * frames.
  *
  * Scale note: every window here partitions by a high-cardinality key
  * (o_custkey), so the single shuffle it costs spreads evenly across
  * executors; none of them ever orders the whole table globally.
  */
object Windows {

  /** Scalable per-group running prefix sum — the replacement for
    * `sum(value) OVER (PARTITION BY enumCol ORDER BY ...)` when the
    * group column has a handful of values (lang, l_returnflag): the
    * naive window hands each enum value's ENTIRE slice of the fact
    * table to one task. Three declarative steps instead:
    *
    *  1. local prefix sums within (group, `bucket`) — `bucket` must be
    *     RANGE-ALIGNED with `order` (bucket non-decreasing as the order
    *     columns increase), e.g. `l_orderkey div 256` for an orderkey
    *     sort or the first two hex chars of a salted md5 for a hash
    *     sort. Each window partition sorts only its bucket's slice.
    *  2. per-bucket totals cumulated into bucket OFFSETS via a window
    *     over the tiny |groups|×|buckets| counts frame (post-aggregation
    *     — the q144 principle, exempt from the low-cardinality rule).
    *  3. offsets broadcast back; prefix = bucket offset + local prefix.
    *
    * The bucket count is the parallelism knob. A caller-fixed bucket
    * WIDTH (`key div 256`) keeps each PARTITION bounded but lets the
    * bucket COUNT — and with it the offsets frame this helper broadcasts
    * — grow O(N); registry callers therefore use [[prefixSumScaled]],
    * which derives the width from the key's observed range so the COUNT
    * is fixed (hexBucket is the fixed-count form for hash-led orders).
    * Values are EXACTLY those of the naive window — specs
    * and oracles see no difference — for integer values and
    * integral-valued doubles (IEEE addition is exact below 2^53, the
    * q76/q90 token-count case); fractional doubles agree to ULP because
    * the bucketed form re-associates the additions.
    */
  def prefixSum(df: DataFrame, group: Seq[String], bucket: Column,
                order: Seq[Column], value: Column, out: String): DataFrame = {
    val gcols = group.map(col)
    val bucketed = df.withColumn("__pfx_cb", bucket)
    val wLoc = Window.partitionBy(gcols :+ col("__pfx_cb"): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(gcols: _*).orderBy(col("__pfx_cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // offsets branch aggregates the PRE-window frame: per-bucket totals
    // need no local prefix, so its scan reduces straight into a partial
    // agg (plan-audited — building it from the windowed frame left a
    // useless Window+Sort in the broadcast branch)
    val offsets = bucketed
      .groupBy(gcols :+ col("__pfx_cb"): _*)
      .agg(sum(value).as("__pfx_bt"))
      .withColumn("__pfx_off", coalesce(sum(col("__pfx_bt")).over(wOff), lit(0L)))
      .select(gcols ++ Seq(col("__pfx_cb"), col("__pfx_off")): _*)
    bucketed.withColumn("__pfx_lp", sum(value).over(wLoc))
      .join(broadcast(offsets), group :+ "__pfx_cb")
      .withColumn(out, col("__pfx_off") + col("__pfx_lp"))
      .drop("__pfx_cb", "__pfx_lp", "__pfx_off")
  }

  /** Dense 1-based position within each group under `order` — the
    * scalable `row_number() OVER (PARTITION BY enumCol ORDER BY ...)`.
    * A prefix sum of 1s; see [[prefixSum]] for the contract on `bucket`.
    */
  def densePos(df: DataFrame, group: Seq[String], bucket: Column,
               order: Seq[Column], out: String): DataFrame =
    prefixSum(df, group, bucket, order, lit(1L), out)

  /** Range-aligned bucket for an order that LEADS with a lowercase-hex
    * hash column (the salted-md5 rank idiom): the first two hex chars as
    * an integer — 256 buckets, lexicographic hex order ≡ numeric order.
    */
  def hexBucket(h: Column): Column =
    conv(substring(h, 1, 2), 16, 10).cast("long")

  /** Default bucket COUNT for the input-scaled prefix-sum helpers. */
  val DefaultBuckets = 1024

  /** [[prefixSum]] with the bucket DERIVED from the key's observed range
    * so the bucket COUNT is fixed at `nBuckets` regardless of input size.
    *
    * This closes the scale hole of a caller-fixed bucket WIDTH
    * (`doc_id div 256`): there the bucket count grows O(N), so the
    * offsets frame the helper broadcasts back is N/256 rows — an
    * unbounded broadcast — and the window cumulating it is partitioned
    * by the same enum-only keys it was built to avoid. Here the offsets
    * frame is ≤ |groups| × nBuckets rows AT ANY SCALE (a few KB), the
    * broadcast is bounded by construction, and each local-prefix window
    * partition holds ~N/nBuckets rows — the parallelism knob a cluster
    * deployment ties to executor count.
    *
    * Mechanics: a 1-row (min, max) bounds frame is crossJoined back, then
    * bucket = floor((key − min) · nBuckets / (max − min + 1)) ∈
    * [0, nBuckets), monotone in `key` — the range-alignment contract.
    * `key` must be non-null — a NULL key fails the query with
    * [[PrefixKeyNull]] — and |key − min| < 2^53 (the double mantissa;
    * every id column here is far below it). The extra bounds scan is a
    * column-pruned min/max aggregate — parquet answers it from footer
    * stats.
    */
  def prefixSumScaled(df: DataFrame, group: Seq[String], key: Column,
                      order: Seq[Column], value: Column, out: String,
                      nBuckets: Int = DefaultBuckets): DataFrame = {
    val bounds = df.agg(
        min(key.cast("long")).as("__pfx_mn"), max(key.cast("long")).as("__pfx_mx"),
        count(lit(1)).as("__pfx_n"), count(key).as("__pfx_keyed"))
      .select(nonNullKeys(col("__pfx_mn"), col("__pfx_n"), col("__pfx_keyed"))
        .as("__pfx_mn"), col("__pfx_mx"))
    val withB = df.crossJoin(broadcast(bounds))
      .withColumn("__pfx_rb",
        floor((key.cast("long") - col("__pfx_mn")).cast("double") * nBuckets /
              (col("__pfx_mx") - col("__pfx_mn") + lit(1L)).cast("double"))
          .cast("long"))
      .drop("__pfx_mn", "__pfx_mx")
    prefixSum(withB, group, col("__pfx_rb"), order, value, out)
      .drop("__pfx_rb")
  }

  /** Named error of the scaled helpers' non-null key contract. */
  private[graft] val PrefixKeyNull = "PREFIX_KEY_NULL"

  /** The bucket bound `v`, or [[PrefixKeyNull]] raised when the bounds
    * row counted fewer `keyed` rows (every key non-null) than `rows`:
    * evaluated once, in the one-row bounds aggregate that every input row
    * reads its bucket bounds from. Every plan branch that reads `v` thus
    * reads the row count too, so the branches' bounds aggregates stay
    * identical and share one exchange. */
  private def nonNullKeys(v: Column, rows: Column, keyed: Column): Column =
    when(rows > keyed, raise_error(concat(lit(s"$PrefixKeyNull: "),
      (rows - keyed).cast("string"), lit(" rows have a NULL bucket key"))))
      .otherwise(v)

  /** [[densePos]] with the input-scaled bucket of [[prefixSumScaled]]. */
  def densePosScaled(df: DataFrame, group: Seq[String], key: Column,
                     order: Seq[Column], out: String,
                     nBuckets: Int = DefaultBuckets): DataFrame =
    prefixSumScaled(df, group, key, order, lit(1L), out, nBuckets)

  /** Exact global `ntile(n) OVER (ORDER BY order)` without the
    * single-partition sort (r15, guide §2.5): the dense position comes
    * from the input-scaled prefix-sum machinery above, the total row
    * count N rides the same one-row bounds broadcast, and the tile is
    * the SQL-standard arithmetic both engines implement — with
    * q = N div n and r = N mod n, the first r tiles hold q+1 rows, so
    *
    *   tile(pos) = (pos−1) div (q+1) + 1              for pos ≤ r·(q+1)
    *             = r + (pos − r·(q+1) − 1) div q + 1   otherwise.
    *
    * (When N < n, q = 0: every row satisfies pos ≤ r·1, first branch,
    * tile = pos — exactly ntile's degenerate case. The dead q=0
    * division in the other branch is never selected; non-ANSI div
    * yields null, not an error.) Output type is LONG (callers of the
    * window form all cast). `key` must be range-aligned with `order` —
    * the [[prefixSum]] contract — and non-null ([[PrefixKeyNull]]).
    */
  def ntileScaled(df: DataFrame, key: Column, order: Seq[Column], n: Int,
                  out: String, nBuckets: Int = DefaultBuckets): DataFrame =
    ntileScaledMulti(df, Seq((key, order, out)), n, nBuckets)

  /** Several independent exact global ntile(n) columns over ONE frame
    * (q164's three RFM axes) with a SINGLE shared bounds/count
    * aggregate and broadcast. Each axis still pays its own prefix-sum
    * reshuffle — three different total orders are three shuffles in any
    * plan, exactly like the three sorts of the window form — but the
    * bounds scan, the N, and the q/r tile arithmetic are computed once.
    */
  def ntileScaledMulti(df: DataFrame,
                       axes: Seq[(Column, Seq[Column], String)], n: Int,
                       nBuckets: Int = DefaultBuckets): DataFrame = {
    val aggs = axes.zipWithIndex.flatMap { case ((k, _, _), i) =>
      Seq(min(k.cast("long")).as(s"__nt_mn$i"),
          max(k.cast("long")).as(s"__nt_mx$i")) } ++
      Seq(count(lit(1)).as("__nt_nn"), count(when(
          axes.map(_._1.isNotNull).reduce(_ && _), lit(1))).as("__nt_keyed"))
    val bounds = axes.indices.foldLeft(df.agg(aggs.head, aggs.tail: _*)) {
      (b, i) => b.withColumn(s"__nt_mn$i", nonNullKeys(col(s"__nt_mn$i"),
        col("__nt_nn"), col("__nt_keyed")))
    }.drop("__nt_keyed")
    var cur = df.crossJoin(broadcast(bounds))
      .withColumn("__nt_q", expr(s"__nt_nn div $n"))
      .withColumn("__nt_r", col("__nt_nn") - col("__nt_q") * n)
    axes.zipWithIndex.foreach { case ((k, order, out), i) =>
      val withB = cur.withColumn("__nt_rb",
        floor((k.cast("long") - col(s"__nt_mn$i")).cast("double") * nBuckets /
              (col(s"__nt_mx$i") - col(s"__nt_mn$i") + lit(1L)).cast("double"))
          .cast("long"))
      cur = prefixSum(withB, Seq.empty, col("__nt_rb"), order, lit(1L),
          "__nt_pos")
        .withColumn(out,
          when(col("__nt_pos") <= col("__nt_r") * (col("__nt_q") + 1L),
            expr("(__nt_pos - 1) div (__nt_q + 1) + 1"))
            .otherwise(expr(
              "__nt_r + (__nt_pos - __nt_r * (__nt_q + 1) - 1) div __nt_q" +
                " + 1")))
        .drop("__nt_rb", "__nt_pos")
    }
    cur.drop(axes.indices.flatMap(i =>
        Seq(s"__nt_mn$i", s"__nt_mx$i")) ++ Seq("__nt_nn", "__nt_q", "__nt_r"): _*)
  }

  // ─── q11: top-3 orders per customer (ranking) ──────────────────────────
  def q11TopOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q11Sql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ─── q12: running revenue per customer (row frame) ─────────────────────
  // Deterministic ORDER BY (orderdate, orderkey) means both engines add the
  // same doubles in the same order — results are bit-identical pre-round.
  def q12RunningTotal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q12Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ─── q13: days between consecutive orders (lag) ────────────────────────
  def q13OrderGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
              datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q13Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  date_diff('day',
      |    lag(o_orderdate) OVER (PARTITION BY o_custkey
      |                           ORDER BY o_orderdate, o_orderkey),
      |    o_orderdate) AS gap_days
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ─── q14: 90-day trailing order stats (range frame) ────────────────────
  // Spark range frames need a numeric ORDER BY → order by epoch seconds and
  // frame [-90 days, 0]; the oracle uses the identical numeric formulation
  // so peer-row semantics (equal timestamps share a frame) match exactly.
  // count/max only: windowed sum/avg accumulate in engine-specific order
  // (DuckDB uses a segment tree) and diverge in the last ulp; count and max
  // are order-independent and exact.
  def q14TrailingStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-90L * 86400, 0)
    orders(s, d)
      .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
      .withColumn("trailing_n", count(lit(1)).over(w))
      .withColumn("trailing_max", round(max(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"),
              col("trailing_n"), col("trailing_max"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q14Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  count(*) OVER w AS trailing_n,
      |  round(max(o_totalprice) OVER w, 2) AS trailing_max
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY epoch(o_orderdate)
      |    RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ─── q15: first/last/nth per group (analytic functions) ────────────────
  def q15FirstLast(s: SparkSession, d: String): DataFrame = {
    val wOrdered = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .withColumn("first_order", first(col("o_orderkey")).over(wOrdered))
      .withColumn("last_order", last(col("o_orderkey")).over(wOrdered))
      .groupBy(col("o_custkey"), col("first_order"), col("last_order"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey"))
  }

  val q15Sql: String =
    """SELECT o_custkey, first_order, last_order, count(*) AS n_orders
      |FROM (SELECT o_custkey,
      |        first_value(o_orderkey) OVER w AS first_order,
      |        last_value(o_orderkey)  OVER w AS last_order
      |      FROM orders
      |      WINDOW w AS (PARTITION BY o_custkey
      |                   ORDER BY o_orderdate, o_orderkey
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |GROUP BY o_custkey, first_order, last_order
      |ORDER BY o_custkey""".stripMargin

  // ─── q142: positional window access (nth_value, lead/lag defaults) ───
  // The navigation forms q11–q15 don't reach: nth_value needs the FULL
  // frame (unbounded both ways — a specified row may be ahead of the
  // current one), while lead/lag run frame-less with explicit DEFAULTS
  // (the "next/previous or sentinel" report shape that otherwise needs a
  // coalesce over a self-join). Same partition/order tuple as the rest
  // of the family, so at scale this is one sort per customer partition
  // shared by all three functions (a single Window node in the plan).
  def q142PositionalWindows(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    orders(s, d)
      .withColumn("second_order", nth_value(col("o_orderkey"), 2).over(wAll))
      .withColumn("next_price",
        round(lead(col("o_totalprice"), 1, 0.0).over(w), 2))
      .withColumn("prev2_price",
        round(lag(col("o_totalprice"), 2, -1.0).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("second_order"),
              col("next_price"), col("prev2_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q142Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS second_order,
      |  round(lead(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey), 2) AS next_price,
      |  round(lag(o_totalprice, 2, -1.0) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey), 2) AS prev2_price
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ─── q160: EXACT running median over sliding frames ──────────────────
  // Distribution stats over a moving frame. Spark REJECTS median/
  // percentile with an ordered+framed window spec (INVALID_WINDOW_SPEC
  // _FOR_AGGREGATION_FUNC), so the frame is collected explicitly (a
  // BOUNDED 20-row trailing frame — the frame cap keeps the array and
  // the per-row cost O(frame) at any partition size), array_sorted, and
  // the middle taken explicitly (odd → middle element, even → mean of
  // the two middles, the interpolating median both engines implement
  // natively for whole groups).
  //
  // The naive spec — PARTITION BY l_returnflag — has CARDINALITY 3:
  // three tasks would own the whole fact table (the round-6 30×
  // regression; PlanLint's low-cardinality-window rule now flags it).
  // Instead the total order is materialized as a DENSE per-flag
  // position with the scalable three-step:
  //   1. local row_number within (flag, coarse range-bucket of the
  //      leading sort key) — high-cardinality window, each partition
  //      sorts only its slice;
  //   2. per-bucket counts → cumulative offsets via a window over the
  //      TINY counts frame (|flags|×|buckets| rows — the q144
  //      "window over an aggregate" allowlist shape), broadcast back;
  //   3. the median window re-keyed to (flag, pos div B): every
  //      partition holds ≤ B+19 rows REGARDLESS of data size. Rows in
  //      the last 19 positions of each bucket are duplicated into the
  //      next bucket (carry-in), so each row's 19-preceding frame is
  //      complete — positions are dense, so the previous bucket is
  //      always full and the frame never spans two buckets back.
  // Output thinned to every 20th order; the window still computes over
  // every row (filter AFTER the window).
  def q160WindowMedian(s: SparkSession, d: String): DataFrame = {
    // the synthetic lineitem has DUPLICATE (orderkey, linenumber) pairs,
    // so that pair alone is not a total order and frame contents would
    // be engine-dependent; adding (quantity, partkey, suppkey) makes the
    // order total up to full-duplicate rows, whose permutation cannot
    // change any frame's quantity multiset
    val ordCols = Seq(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"), col("l_partkey"), col("l_suppkey"))
    val li = lineitem(s, d).select(col("l_returnflag") +: ordCols: _*)
    // steps 1–2: dense per-flag position via the scalable prefix-sum
    // helper (coarse range-buckets on the leading sort key)
    val positioned = densePosScaled(li, Seq("l_returnflag"),
      col("l_orderkey"), ordCols, "pos")
    // step 3: fixed-size position buckets + 19-row carry-in. The carry
    // duplication is an EXPLODE over a 1-or-2 element array, not a
    // union — a union's two branches would each recompute the whole
    // densePos pipeline (plan-audited: the fact scanned 4× vs 2×)
    val B = 1024L
    val pb = expr(s"(pos - 1) div $B")
    val wMed = Window.partitionBy(col("l_returnflag"), col("pb"))
      .orderBy(col("pos")).rowsBetween(-19, 0)
    positioned
      .select(col("*"), explode(
        when(((col("pos") - lit(1L)) % B) >= (B - 19),
          array(struct(pb.as("pb"), lit(false).as("carry")),
                struct((pb + lit(1L)).as("pb"), lit(true).as("carry"))))
        .otherwise(array(struct(pb.as("pb"), lit(false).as("carry")))))
        .as("dup"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("pos"),
        col("dup.pb").as("pb"), col("dup.carry").as("carry"))
      .withColumn("arr", array_sort(collect_list(col("l_quantity")).over(wMed)))
      .where(!col("carry"))
      .withColumn("n", size(col("arr")))
      .withColumn("med",
        when(col("n") % 2 === 1,
          element_at(col("arr"), ((col("n") + 1) / 2).cast("int")).cast("double"))
          .otherwise((element_at(col("arr"), (col("n") / 2).cast("int")) +
            element_at(col("arr"), (col("n") / 2).cast("int") + 1)) / 2.0))
      .where(col("l_orderkey") % 20 === 0 && col("l_linenumber") === 1)
      .select(col("l_returnflag"), col("l_orderkey"), col("med"),
        col("n").cast("long").as("frame_n"))
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("med"))
  }

  val q160Sql: String =
    """SELECT l_returnflag, l_orderkey, med, frame_n FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber,
      |    median(l_quantity) OVER w AS med,
      |    CAST(count(*) OVER w AS BIGINT) AS frame_n
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_returnflag
      |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_partkey, l_suppkey
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |WHERE l_orderkey % 20 = 0 AND l_linenumber = 1
      |ORDER BY l_returnflag, l_orderkey, med""".stripMargin


  // ─── q144: percent-of-total (window OVER an aggregate) ───────────────
  // The report shape "each group's share of the grand total" computed by
  // COMPOSITION: aggregate first (5 rows), then an unpartitioned window
  // over the AGGREGATE output — so the global window that would be a
  // scale-killer on the fact table (PlanLint's global-window rule) runs
  // over O(groups) rows instead, and the fact table is scanned ONCE
  // (vs the naive grand-total-subquery second scan). The allowlist
  // entry documents exactly this: the global window is fine BECAUSE its
  // input is post-aggregation.
  def q144PercentOfTotal(s: SparkSession, d: String): DataFrame = {
    val byPriority = orders(s, d).groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice")).as("vol"), count(lit(1)).as("n"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing)
    byPriority
      .withColumn("share_pct",
        round(col("vol") * 100.0 / sum(col("vol")).over(wAll), 3))
      .select(col("o_orderpriority"), round(col("vol"), 2).as("vol"),
              col("n"), col("share_pct"))
      .orderBy(col("o_orderpriority"))
  }

  val q144Sql: String =
    """SELECT o_orderpriority, round(vol, 2) AS vol, n,
      |  round(vol * 100.0 / sum(vol) OVER (), 3) AS share_pct
      |FROM (SELECT o_orderpriority, sum(o_totalprice) AS vol,
      |        count(*) AS n
      |      FROM orders GROUP BY 1)
      |ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_positional_windows" -> (q142PositionalWindows _),
    "q144_percent_of_total"   -> (q144PercentOfTotal _),
    "q160_window_median"      -> (q160WindowMedian _),
    "q11_topk_per_customer" -> (q11TopOrdersPerCustomer _),
    "q12_running_total"     -> (q12RunningTotal _),
    "q13_order_gaps"        -> (q13OrderGaps _),
    "q14_trailing_stats"    -> (q14TrailingStats _),
    "q15_first_last"        -> (q15FirstLast _),
  )

  val oracleSql: Map[String, String] = Map(
    "q142_positional_windows" -> q142Sql,
    "q144_percent_of_total"   -> q144Sql,
    "q160_window_median"      -> q160Sql,
    "q11_topk_per_customer" -> q11Sql,
    "q12_running_total"     -> q12Sql,
    "q13_order_gaps"        -> q13Sql,
    "q14_trailing_stats"    -> q14Sql,
    "q15_first_last"        -> q15Sql,
  )
}
