package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scope

/** Relational coverage over the TPC-H-ish testdata tables: aggregation,
  * multi-way joins, window functions, rollup, and event analytics.
  *
  * Numeric determinism: double sums are NOT associative, so any summed
  * money amount is cast to DECIMAL first (exact, order-independent) and
  * the final result cast back to double — bit-identical across Spark
  * partitions AND vs the DuckDB oracle. Inputs are exact 2-dp doubles,
  * so the decimal casts are lossless.
  */
object Relational {

  private def dec(c: Column, scale: Int = 2): Column =
    c.cast(s"decimal(18,$scale)")

  /** Registers `df` under a fresh view name, builds the SQL plan, and
    * drops the view before returning: `spark.sql` analyzes eagerly, so
    * the returned DataFrame holds the resolved relation and the catalog
    * entry is pure leakage afterwards (repeated bench runs in one
    * session would otherwise accrete a view per call). */
  private def withTempView(df: DataFrame, prefix: String)
                          (buildSql: String => String): DataFrame = {
    val view =
      s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(view)
    try df.sparkSession.sql(buildSql(view))
    finally df.sparkSession.catalog.dropTempView(view)
  }

  /** TPC-H Q1-flavored pricing summary over lineitem. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))

  /** Revenue per nation: lineitem ⋈ supplier ⋈ nation ⋈ region.
    * Dimension tables are broadcast (they are tiny at every scale). */
  def revenueByNation(lineitem: DataFrame, supplier: DataFrame,
                      nation: DataFrame, region: DataFrame): DataFrame =
    lineitem
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** Top-3 customers by order revenue within each market segment —
    * join + window rank. */
  def topCustomersBySegment(orders: DataFrame, customer: DataFrame,
                            k: Int = 3): DataFrame = {
    val rev = orders.groupBy("o_custkey")
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("revenue").desc, col("c_custkey").asc)
    customer.join(rev, col("c_custkey") === col("o_custkey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("c_mktsegment", "rnk", "c_custkey", "c_name", "revenue")
  }

  /** Rollup over region/nation of customer counts + balance.
    * Routed through a temp view + SQL ROLLUP: the DataFrame `.rollup`
    * API trips Spark 4's ambiguous-self-join false positive on
    * join-derived grouping columns (the Expand node re-tags them);
    * SQL resolution sidesteps it with the identical plan. */
  def customerRollup(customer: DataFrame, nation: DataFrame,
                     region: DataFrame): DataFrame = {
    val joined = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "c_acctbal")
    withTempView(joined, "graft_rollup") { view =>
      s"""SELECT r_name, n_name, count(*) AS n_customers,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_acctbal
         |FROM $view GROUP BY ROLLUP(r_name, n_name)""".stripMargin
    }
  }

  /** CUBE over (status, priority): all grouping-set combinations.
    * Same temp-view SQL route as [[customerRollup]] (Spark 4 Dataset
    * rollup/cube ambiguity false positive on join-derived columns does
    * not bite here, but one consistent route is simpler). */
  def orderCube(orders: DataFrame): DataFrame = {
    withTempView(
      orders.select("o_orderstatus", "o_orderpriority", "o_totalprice"),
      "graft_cube") { view =>
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_price
         |FROM $view GROUP BY CUBE(o_orderstatus, o_orderpriority)"""
        .stripMargin
    }
  }

  /** Window-function breadth over per-customer order history: rank,
    * dense_rank, lag, lead, ntile — all over a fully-pinned ordering. */
  def orderWindowFuncs(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
  }

  /** Orders with a running per-customer order index and revenue total —
    * window functions over event-time order. */
  def customerOrderHistory(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("order_idx", row_number().over(w).cast("long"))
      .withColumn("running_total",
        sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .drop("o_orderdate")
  }

  /** Hourly tumbling-window event rollup (batch twin of the streaming
    * query). Window start kept as a formatted string so Spark (µs) and
    * DuckDB (ns) timestamps compare identically. */
  def eventsHourly(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"), 6)).cast("double").as("sum_value"))

  /** Sessionization: a session breaks after a >30-minute gap per user;
    * emits per-session row via lag + cumulative-sum session ids. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc,
      col("event_id").asc)
    val withGap = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            > gapMinutes * 60L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_sec"))
  }

  /** As-of join: for each left row, the single latest right row with
    * `rightTime <= leftTime` and matching key (inner: unmatched left rows
    * drop). Spark has no ASOF JOIN; the scalable formulation is a tagged
    * UNION + one running `last(ignoreNulls)` window — ONE shuffle on the
    * key, no range-join row explosion (a naive join-then-filter is
    * O(left × right-per-key)). Right rows sort before left rows at equal
    * timestamps so `>=` matches same-instant rows.
    *
    * `right` must be unique per (key, time) — pre-dedupe with a
    * deterministic rule; [[eventsAsofOrders]] shows the pattern.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String): DataFrame =
    asofImpl(left, right, leftKey, rightKey, leftTime, rightTime,
      forward = false)

  /** Forward as-of join: for each left row, the single EARLIEST right
    * row with `rightTime > leftTime` (strictly after — an equal-time
    * right row does not match) and matching key. The "what happened
    * next" attribution shape (event → next order). Same one-shuffle
    * tagged-union formulation as [[asofJoin]], scanned in descending
    * time with left rows sorting first at equal timestamps (that flip
    * IS the strictness) — the running fill then carries the smallest
    * right time above each left row. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTime: String, rightTime: String): DataFrame =
    asofImpl(left, right, leftKey, rightKey, leftTime, rightTime,
      forward = true)

  private def asofImpl(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       forward: Boolean): DataFrame = {
    val rightPayload = right.columns.filterNot(c =>
      c == rightKey || c == rightTime).toSeq
    val leftCols = left.columns.toSeq
    // the whole right row travels as ONE struct, so the running
    // last(ignoreNulls) fill is atomic — per-column fills would tear
    // rows when a matched right row carries a NULL payload value
    val payloadStruct = struct(
      (col(rightTime).as("_rt") +: rightPayload.map(col)): _*)
    // NULL join keys never match (SQL semantics; window partitioning
    // would otherwise group NULL with NULL). NULL TIMES are equally
    // non-matching — the as-of predicate `rt <op> lt` is NULL-false —
    // but the window ordering would instead park NULL `_t` rows at one
    // end of the key partition (which end depends on sort direction),
    // silently matching them to the key's extreme row. Filter both
    // sides up front so a NULL-time row matches (and fills) nothing,
    // symmetric across the forward and backward directions.
    val r0 = right.filter(col(rightKey).isNotNull &&
        col(rightTime).isNotNull)
      .withColumn("_k", col(rightKey)).withColumn("_t", col(rightTime))
      .withColumn("_is_left", lit(0))
      .withColumn("_p", payloadStruct)
    val lPadded = left.filter(col(leftKey).isNotNull &&
        col(leftTime).isNotNull)
      .withColumn("_k", col(leftKey)).withColumn("_t", col(leftTime))
      .withColumn("_is_left", lit(1))
      .withColumn("_p", lit(null).cast(r0.schema("_p").dataType))
    val rPadded = leftCols.foldLeft(r0)((d, c) =>
      if (c == "_k" || c == "_t") d
      else d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val cols = Seq("_k", "_t", "_is_left", "_p") ++ leftCols
    val unioned = lPadded.select(cols.map(col): _*)
      .unionByName(rPadded.select(cols.map(col): _*))
    // backward: time-ascending, right(0) before left(1) at equal _t
    // so `>=` matches same-instant rows. Forward: time-DESCENDING,
    // left before right at equal _t — equal-time rows excluded, the
    // fill carries the smallest right time strictly above each left.
    val w =
      if (forward)
        Window.partitionBy("_k")
          .orderBy(col("_t").desc, col("_is_left").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
      else
        Window.partitionBy("_k")
          .orderBy(col("_t").asc, col("_is_left").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
    val filled = unioned
      .withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
    // every emitted right-side column (time AND payload) is renamed with
    // a _right suffix when it would collide with a left column (e.g.
    // both sides carrying "v") — an unqualified duplicate name would
    // make every downstream select(name) ambiguous
    def rightOut(c: String): String =
      if (leftCols.contains(c)) s"${c}_right" else c
    filled.filter(col("_is_left") === 1 && col("_p").isNotNull)
      .select(leftCols.map(col) ++
        rightPayload.map(c => col(s"_p.$c").as(rightOut(c))) :+
        col("_p._rt").as(rightOut(rightTime)): _*)
  }

  /** Events as-of joined to the customer's latest preceding order.
    * Orders deduped to one per (custkey, orderdate) by max orderkey —
    * the same rule the oracle applies, so ASOF tie semantics are pinned. */
  def eventsAsofOrders(events: DataFrame, orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey", "o_orderdate")
      .orderBy(col("o_orderkey").desc)
    val dedupedOrders = orders
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
    val e = events.select(col("event_id"), col("user_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ets"), col("ts"))
    asofJoin(e, dedupedOrders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"), col("ets"),
        col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
          .as("order_date"))
  }

  /** Forward mirror of [[eventsAsofOrders]]: each order attributed to
    * the customer's FIRST event strictly after it — the conversion-lag
    * attribution shape ("what did they do next"). Events deduped to
    * one per (user, ts) by max event_id, pinning tie semantics the
    * same way the backward direction pins orders. */
  def orderNextEvent(orders: DataFrame, events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "ts")
      .orderBy(col("event_id").desc)
    val dedupedEvents = events
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .as("order_date"), col("o_orderdate"))
    asofJoinForward(o, dedupedEvents, "o_custkey", "user_id",
        "o_orderdate", "ts")
      .select(col("o_orderkey"), col("o_custkey"), col("order_date"),
        col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ets"))
  }

  /** Arbitrary GROUPING SETS — the non-hierarchical slices neither
    * [[customerRollup]] (prefix hierarchy) nor [[orderCube]] (full
    * lattice) can express: per-status totals AND per-priority totals
    * in ONE pass (Spark plans one Expand ×|sets| + one shuffle, vs two
    * scans for two GROUP BYs). Absent dimensions surface as explicit
    * `grouping(col)` flags — cross-engine-stable, unlike the packed
    * grouping_id bit vector whose bit order is engine-specific. Same
    * temp-view SQL route as rollup/cube (one consistent path). */
  def orderGroupingSets(orders: DataFrame): DataFrame = {
    withTempView(
      orders.select("o_orderstatus", "o_orderpriority", "o_totalprice"),
      "graft_rollup_gs") { view =>
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
         |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
         |  count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_price
         |FROM $view
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
         |  ())""".stripMargin
    }
  }

  /** Bucketed (banded) range join: inner join of `points` to
    * `intervals` on `point BETWEEN lo AND hi` with NO equi-key. Spark
    * plans a bare range predicate as a nested-loop join — broadcast
    * when one side fits, O(|P|·|I|) cartesian otherwise — which is the
    * canonical 100 TB cliff. Banding manufactures the missing equi-key:
    * both sides map onto fixed-width buckets of the numeric domain — a
    * point to exactly ONE bucket, an interval to every bucket it
    * overlaps — so the join runs as a plain shuffled hash join on the
    * bucket id with the exact range predicate evaluated inside. Exact
    * and duplicate-free by construction: an interval meets a point
    * only in the point's own bucket. Pick `bucketWidth` at or above
    * the typical interval width so each interval explodes to O(1)
    * buckets (2 at one-interval-width buckets).
    *
    * `pointCol`/`loCol`/`hiCol` are numeric (map time domains to epoch
    * seconds first). Backwards intervals (lo > hi) match nothing and
    * are dropped up front — also keeps Spark's `sequence` from running
    * backwards. Column names must be disjoint across the two inputs.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
                intervals: DataFrame, loCol: String, hiCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1: $bucketWidth")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty,
      s"rangeJoin inputs share column names: ${overlap.mkString(", ")}")
    val p = points.withColumn("_pb",
      floor(col(pointCol) / bucketWidth).cast("long"))
    val iv = intervals.filter(col(loCol) <= col(hiCol))
      .withColumn("_ib", explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    p.join(iv, p("_pb") === iv("_ib") &&
        col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_pb", "_ib")
  }

  /** Cross-user co-occurrence: every event (any user, any type) within
    * ±`windowSec` of each `anchorType` event — the gate query for
    * [[rangeJoin]] (NO key relates the two sides; a naive formulation
    * is an all-pairs nested loop, unrunnable at scale). Buckets are one
    * interval-width (2·window) wide, so each anchor explodes to at most
    * 2 buckets. The anchor matches itself, so every anchor emits.
    * Whole-second epoch basis on both engines; the value sum is
    * decimal-routed (partition-order-independent).
    * Output: (event_id, n_nearby, sum_value).
    */
  def eventCooccurrence(events: DataFrame, windowSec: Long = 60,
                        anchorType: String = "purchase"): DataFrame = {
    val iv = events.filter(col("event_type") === anchorType)
      .select(col("event_id"),
        (unix_timestamp(col("ts")) - windowSec).as("lo"),
        (unix_timestamp(col("ts")) + windowSec).as("hi"))
    val pts = events.select(unix_timestamp(col("ts")).as("pt"),
      col("value").as("near_value"))
    rangeJoin(pts, "pt", iv, "lo", "hi", bucketWidth = 2 * windowSec)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_nearby"),
        sum(dec(col("near_value"))).cast("double").as("sum_value"))
  }

  /** Keyed INTERVAL overlap join — both sides are interval sets and a
    * pair matches when the key is equal and the half-open intervals
    * [lStart, lEnd) and [rStart, rEnd) overlap. The naive form is a
    * key-equi-join with a residual overlap filter, which degenerates
    * to per-key quadratic work on hot keys; this plan stays keyed and
    * bucket-bounded:
    *  - each interval expands to the `bucketUs`-grain buckets it
    *    covers (an interval of span S covers at most S/bucket + 1),
    *  - the join is an EQUI-join on (key, bucket),
    *  - and each overlapping pair is emitted in exactly ONE bucket —
    *    the bucket containing greatest(lStart, rStart), which both
    *    intervals cover by construction — so there is NO distinct()
    *    over the candidate expansion (invariant 10: nothing to dedup
    *    in the first place).
    * At 100 TB the shuffle key is (key, bucket), so a hot key's work
    * splits across its active time range instead of landing on one
    * reducer. Pick bucketUs near the typical interval span: expansion
    * stays O(1) per row while buckets stay selective.
    *
    * Inputs carry epoch-µs long start/end columns; empty or inverted
    * intervals (end <= start) match nothing and are filtered up front
    * (also keeps ANSI `sequence` ascending). Column names must not
    * collide across the two sides.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftStart: String, leftEnd: String,
                   rightStart: String, rightEnd: String,
                   bucketUs: Long = 86400000000L): DataFrame = {
    require(bucketUs >= 1, s"bucketUs must be >= 1: $bucketUs")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalJoin inputs share column names: ${overlap.mkString(", ")}")
    def buckets(s: String, e: String): Column =
      explode(sequence(expr(s"$s div $bucketUs"),
        expr(s"($e - 1) div $bucketUs")))
    val l = left.filter(col(leftEnd) > col(leftStart))
      .withColumn("_lb", buckets(leftStart, leftEnd))
    val r = right.filter(col(rightEnd) > col(rightStart))
      .withColumn("_rb", buckets(rightStart, rightEnd))
    l.join(r, l("_lb") === r("_rb") &&
        col(leftKey) === col(rightKey) &&
        col(leftStart) < col(rightEnd) &&
        col(rightStart) < col(leftEnd) &&
        l("_lb") === expr(
          s"greatest($leftStart, $rightStart) div $bucketUs"))
      .drop("_lb", "_rb")
  }

  /** Purchase attribution via [[intervalJoin]]: each purchase's 6-hour
    * lookback window joined to the same user's click engagement spans
    * (click ts + 30 min) — "which clicks could have driven this
    * purchase". Bucket grain 6 h = the lookback span, so a purchase
    * expands to at most 2 buckets and a click span to at most 2.
    * Output: (purchase_id, click_id, user_id, overlap_us) — the
    * overlap length is exact integer µs arithmetic.
    */
  def purchaseClickAttribution(events: DataFrame): DataFrame = {
    val HourUs = 3600000000L
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"),
        (unix_micros(col("ts")) - lit(6 * HourUs)).as("win_start"),
        unix_micros(col("ts")).as("win_end"))
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"),
        unix_micros(col("ts")).as("click_start"),
        (unix_micros(col("ts")) + lit(HourUs / 2)).as("click_end"))
    intervalJoin(p, c, "user_id", "c_user", "win_start", "win_end",
        "click_start", "click_end", bucketUs = 6 * HourUs)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (least(col("win_end"), col("click_end")) -
          greatest(col("win_start"), col("click_start"))).as("overlap_us"))
  }

  /** Exact per-group order statistics (min/p25/median/p75/max) WITHOUT
    * interpolation: the q-quantile is the element at 1-based rank
    * floor(q·(n-1)) + 1 — pure rank selection, so the emitted values
    * are raw input doubles untouched by any arithmetic and the oracle
    * matches bit-for-bit (percentile_cont-style interpolation would
    * diverge in the last ulp between engines).
    *
    * Plan shape: a (group, value) count histogram, a cumulative-count
    * window over the DISTINCT values of each group (the
    * curriculum_scalable discipline — the window input is
    * |distinct values| rows, not N), then one aggregate picking the
    * smallest value whose cumulative count reaches each target rank.
    * For a group whose value column is nearly continuous the histogram
    * degenerates to ~N rows; at that scale quantize first (or use the
    * approx-quantile contract) — the boundary-bucket rewrite in
    * [[Sampling.capPerStratum]] shows the exact-within-one-bucket
    * recipe.
    * NULL values are excluded (SQL aggregate convention; NULL ordering
    * differs between engines, so they must not reach the window).
    * Output: (group, n, min_v, p25_v, med_v, p75_v, max_v).
    */
  def orderStats(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val nn = df.filter(col(valueCol).isNotNull)
    val hist = nn.groupBy(col(groupCol), col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(groupCol).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("_cum", sum(col("_c")).over(w))
    val n = nn.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
    def pick(k: Column): Column = min(when(col("_cum") >= k, col("_v")))
    cum.join(n, groupCol)
      .groupBy(col(groupCol), col("n"))
      .agg(
        pick(lit(1L)).as("min_v"),
        // integer `div`, not `/` (Spark long / long is DOUBLE division)
        pick(expr("(n - 1) div 4 + 1")).as("p25_v"),
        pick(expr("(n - 1) div 2 + 1")).as("med_v"),
        pick(expr("((n - 1) * 3) div 4 + 1")).as("p75_v"),
        pick(col("n")).as("max_v"))
  }

  /** Tukey-fence outlier flags — the box-plot rule ("outside
    * quartile ± 1.5·IQR") applied per group, on the EXACT
    * rank-selection quartiles of [[orderStats]] (no interpolation —
    * the fences derive from raw input values through a fixed chain of
    * IEEE ops, so the flag replays bit-identically). Scale posture:
    * the stats side is |groups| rows (the planner broadcasts it);
    * flagging is one scan with a pushed comparison — output only the
    * outliers. Output: (event_id, event_type, value, side).
    */
  def iqrOutliers(df: DataFrame, groupCol: String = "event_type",
                  valueCol: String = "value",
                  idCol: String = "event_id"): DataFrame = {
    val stats = orderStats(df, groupCol, valueCol)
      .select(col(groupCol), col("p25_v"), col("p75_v"))
    val lo = col("p25_v") - (col("p75_v") - col("p25_v")) * 1.5
    val hi = col("p75_v") + (col("p75_v") - col("p25_v")) * 1.5
    df.join(stats, groupCol)
      .filter(col(valueCol) < lo || col(valueCol) > hi)
      .select(col(idCol), col(groupCol), col(valueCol),
        when(col(valueCol) < lo, "low").otherwise("high").as("side"))
  }

  /** TPC-H Q14-flavored promo revenue share: lineitem ⋈ part on partkey,
    * monthly revenue split by whether the part is a promo type.
    * The join is a plain equi-join — part is a fraction of lineitem but
    * NOT broadcast-hinted: at 100 TB part outgrows any broadcast
    * threshold, and AQE promotes the join to broadcast automatically
    * whenever the scanned part side is actually small.
    * Output: (o_ym, promo_revenue, total_revenue, promo_share).
    */
  def promoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    lineitem
      .join(part.select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("o_ym"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(dec(lit(0), 4))).cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .withColumn("promo_share",
        graft.functions.Fns.round2(
          lit(100.0) * col("promo_revenue") / col("total_revenue")))
  }

  /** Distinct-user cardinalities per event type: exact countDistinct
    * next to approx_count_distinct (HyperLogLog++) — the sketch is the
    * 100 TB path (mergeable, fixed memory); exact is its small-scale
    * check. rsd = 0.02 (not the 0.05 default): the gate asserts the
    * |approx−exact| ≤ 5%·exact contract, and the default sketch
    * measurably exceeds 5% error at ~1.5k cardinalities (observed at
    * sf0.1). 0.02 holds the contract at every test SF (spec-asserted)
    * at ~3× the default's cost; 0.01 would add 2.5σ more margin but
    * measured another ~2.5× slower. The raw estimate itself is
    * engine-specific, hence the derived contract surface in the gate.
    */
  def approxUsers(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"))

  /** Approximate quantiles with an accuracy contract — the
    * mergeable-sketch (Greenwald–Khanna) answer to "what is p50/p90/p99
    * latency over 100 TB", where an exact quantile would sort the world.
    * Emits, per probability, an EXACT rank check of the estimate; the
    * contract surface (gate-checked like [[approxUsers]]) is the
    * sketch's published rank-error guarantee (eps = 1/accuracy) stated
    * duplicate-safely: the estimate's true rank INTERVAL
    * [frac(< e), frac(≤ e)] must come within eps of p — frac(< e) ≤
    * p + eps AND frac(≤ e) ≥ p − eps. (A two-sided check on frac(≤ e)
    * alone would reject a perfect estimate whenever duplicate mass sits
    * at the quantile value.) The estimate itself is engine-specific;
    * the contract is not.
    * Output: (p, rank_within_eps boolean) per probability.
    */
  def approxQuantiles(lineitem: DataFrame,
                      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
                      accuracy: Int = 1000): DataFrame = {
    val eps = 1.0 / accuracy
    val qs = lineitem.agg(
      percentile_approx(col("l_extendedprice"),
        array(probs.map(lit): _*), lit(accuracy)).as("est"),
      count(lit(1)).as("n"))
    // one pass for the sketch + one broadcast-join pass for the exact
    // rank check — both full-scan-shaped, no sort anywhere
    val checks = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"), get(col("est"), lit(i)).as("e"))
    }
    lineitem.crossJoin(broadcast(
        qs.select(explode(array(checks: _*)).as("c"), col("n"))
          .select(col("c.p").as("p"), col("c.e").as("e"), col("n"))))
      .groupBy("p", "n")
      .agg(
        sum(when(col("l_extendedprice") < col("e"), 1L).otherwise(0L))
          .as("n_lt"),
        sum(when(col("l_extendedprice") <= col("e"), 1L).otherwise(0L))
          .as("n_le"))
      .select(col("p"),
        (col("n_lt") / col("n") <= col("p") + lit(eps) &&
          col("n_le") / col("n") >= col("p") - lit(eps))
          .as("rank_within_eps"))
  }

  /** Customers with no recent orders — left-anti join (the Spark-native
    * form of the reference's sink-existence resume check, SURVEY §2.5 J2).
    */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame,
                             since: String = "2000-01-01"): DataFrame =
    customer.join(
        orders.filter(col("o_orderdate") >= lit(since).cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")

  /** Scalar-function breadth over orders: date parts, string functions,
    * math — every expression chosen for bit-identical cross-engine
    * semantics (no rounding-mode or locale dependence). */
  def scalarFuncs(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      month(col("o_orderdate")).cast("long").as("o_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
      date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"),
      upper(col("o_orderstatus")).as("status_u"),
      lower(col("o_orderpriority")).as("prio_l"),
      substring(col("o_orderpriority"), 1, 1).as("prio_code"),
      length(col("o_orderpriority")).cast("long").as("prio_len"),
      concat_ws("#", col("o_orderstatus"), col("o_orderpriority"))
        .as("status_prio"),
      reverse(col("o_orderstatus")).as("status_rev"),
      abs(col("o_totalprice") - 100000.0).as("price_dist"),
      greatest(col("o_totalprice"), lit(250000.0)).as("price_floor"),
      least(col("o_totalprice"), lit(250000.0)).as("price_cap"),
      sqrt(col("o_totalprice")).as("price_sqrt"),
      (col("o_orderkey") % 7).as("key_mod"))

  /** Set operations: customers who ordered in both eras (INTERSECT)
    * minus the very large spenders (EXCEPT). */
  def setOps(orders: DataFrame): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val early = orders.filter(col("o_orderdate") < cut).select("o_custkey")
    val late = orders.filter(col("o_orderdate") >= cut).select("o_custkey")
    val big = orders.filter(col("o_totalprice") > 400000.0)
      .select("o_custkey")
    early.intersect(late).except(big)
  }

  /** Event-type shares via JSON props extraction + conditional agg —
    * exercises get_json_object / semi-structured access. */
  def eventProps(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        sum(when(col("k") % 2 === 0, 1L).otherwise(0L)).as("n_even_k"))

  /** Ordered conversion funnel over the event stream: a user reaches
    * stage i iff they have a stage-i event STRICTLY AFTER their earliest
    * stage-(i−1)-reaching event (the classic first-touch funnel; re-entry
    * and repeats don't double-count because only the earliest qualifying
    * timestamp per user advances).
    *
    * Timestamps compare as epoch MICROSECONDS (`unix_micros`): the
    * events table is parquet TIMESTAMP(NANOS) and Spark truncates to µs
    * on read (Tables.normalizeTs), so µs is the finest granularity both
    * this engine and an oracle reading the raw ns values can agree on.
    *
    * Output: one row per stage — (stage 1-based, event_type, n_users).
    *
    * Scale posture: each stage is a type-filtered scan (predicate pushes
    * to parquet) + one agg and one join, ALL keyed on user_id — AQE
    * broadcasts the shrinking stage frontier as it drops below the
    * threshold; no windows over the full stream, no driver collects.
    */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("view", "click", "purchase"))
    : DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))
    // frontier: (user_id, t) = earliest qualifying ts per reaching user
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("tus").as("t"))
    val frontiers = stages.tail.scanLeft(first) { (prev, stage) =>
      e.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("prev_t")),
          "user_id")
        .filter(col("tus") > col("prev_t"))
        .groupBy("user_id").agg(min("tus").as("t"))
    }
    stages.zip(frontiers).zipWithIndex.map { case ((stage, f), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage"), lit(stage).as("event_type"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** [[funnel]] with a conversion deadline — the form product
    * analytics actually reports ("purchased within 24h of clicking"):
    * each stage's qualifying event must land strictly after the
    * previous frontier AND within `maxGapHours` of it. Same
    * iterated-frontier shape (per-stage keyed min joins — never a
    * whole-stream window), same strictly-after µs discipline; the gap
    * bound is measured against the previous stage's FRONTIER (its
    * earliest qualifying time), the standard first-touch attribution
    * rule. Output: (stage, event_type, n_users).
    */
  def funnelWindowed(events: DataFrame,
                     stages: Seq[String] = Seq("view", "click", "purchase"),
                     maxGapHours: Long = 24L): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(maxGapHours >= 1, s"maxGapHours must be >= 1: $maxGapHours")
    val gapUs = maxGapHours * 3600L * 1000000L
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("tus").as("t"))
    val frontiers = stages.tail.scanLeft(first) { (prev, stage) =>
      e.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("prev_t")),
          "user_id")
        .filter(col("tus") > col("prev_t") &&
          col("tus") <= col("prev_t") + gapUs)
        .groupBy("user_id").agg(min("tus").as("t"))
    }
    stages.zip(frontiers).zipWithIndex.map { case ((stage, f), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage"), lit(stage).as("event_type"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Revenue decile concentration — the "how concentrated is revenue
    * across customers" report (decile shares, the table behind a
    * Lorenz curve / Gini figure): customers bucket into 10 spend
    * deciles and each decile reports its customer count and exact
    * share of total revenue.
    *
    * Scale posture: the deciles come from `ntile` over the PER-CUSTOMER
    * aggregate (|customers| rows — one keyed agg over N first), with
    * the total order pinned (spend desc, custkey asc) so tie placement
    * is deterministic; a |customers|-row single-partition window is
    * the documented small-dimension case (same argument as the day
    * spine — at true catalog scale swap in the curriculum histogram
    * binning, which samp_curriculum_scalable already demonstrates).
    * Revenue sums stay DECIMAL end-to-end; the share is one division
    * of exact decimals, round2'd at 4 dp via micro-basis-points
    * (floor(x·10000+0.5)/10000 — the round2 discipline at 4 digits).
    * Output: (decile, n_customers, revenue, share_bp).
    */
  def revenueDeciles(orders: DataFrame): DataFrame = {
    val perCust = Scope.hold(orders
      .select(col("o_custkey"), dec(col("o_totalprice")).as("p"))
      .groupBy("o_custkey").agg(sum(col("p")).as("spend")))
    val tot = perCust.agg(sum(col("spend")).as("total"))
    // r14 (VERDICT-r13 item 5): ntile over the |customers|-sized
    // global window → two-pass range-partitioned rank + ntile's
    // bucket arithmetic (Sampling.ntileOf) — bit-identical deciles,
    // no single-partition sort of the customer spine
    Sampling.globalRowNumber(perCust,
        Seq(col("spend").desc, col("o_custkey").asc), "_i")
      .crossJoin(broadcast(perCust.agg(count(lit(1)).as("_n"))))
      .withColumn("decile", Sampling.ntileOf(col("_i"), col("_n"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).as("rev"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        col("rev").cast("double").as("revenue"),
        (floor(col("rev").cast("double") / col("total").cast("double")
          * 10000 + 0.5)).cast("long").as("share_bp"))
  }

  /** Exact Gini coefficient of customer spend — the single-number
    * companion of [[revenueDeciles]]: G = (2·Σ i·x_i) / (n·Σx) −
    * (n+1)/n over spends x sorted ASCENDING (ties broken by custkey
    * so the rank assignment is total). Everything up to the final
    * division is exact integer arithmetic in DECIMAL — spends become
    * cents (exact BIGINT-valued decimals), rank·cents products and
    * both Σ route through DECIMAL(38,0), so partition order cannot
    * move a unit — and the result is two IEEE divisions and one
    * subtraction, round2-pinned at 4 dp. Same |customers|-window
    * posture argument as the deciles. Output: one row
    * (n_customers, total_revenue, gini).
    */
  def giniSpend(orders: DataFrame): DataFrame = {
    val perCust = orders
      .select(col("o_custkey"), dec(col("o_totalprice")).as("p"))
      .groupBy("o_custkey")
      .agg((sum(col("p")) * 100).cast("decimal(38,0)").as("cents"))
    // r14 (VERDICT-r13 item 5): the |customers|-sized rank window →
    // the two-pass range-partitioned global row_number (bit-identical
    // ranks; the (cents, custkey) order is total)
    Sampling.globalRowNumber(perCust,
        Seq(col("cents").asc, col("o_custkey").asc), "i")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total_cents"),
        sum(col("cents") * col("i")).cast("decimal(38,0)").as("wsum"))
      .select(col("n").as("n_customers"),
        (col("total_cents").cast("double") / 100.0)
          .as("total_revenue"),
        (floor((col("wsum").cast("double") * 2.0
            / (col("n").cast("double") * col("total_cents").cast("double"))
          - (col("n") + 1).cast("double") / col("n").cast("double"))
          * 10000 + 0.5) / 10000).as("gini"))
  }

  /** Data-quality audit — the constraint sweep a pipeline runs before
    * promoting a batch: key uniqueness, referential integrity,
    * value-range and enum-domain checks, timestamp bounds. One output
    * row per check: (check_name, table_name, violations, total).
    *
    * Pinned semantics (so the oracle twin is exact):
    *  - NULL keys are the `null_key` check's business only: a NULL FK is
    *    NOT an `fk_orphan` (standard SQL referential integrity exempts
    *    NULL FKs) and NULL PKs are excluded from `dup_key` grouping.
    *  - `dup_key.total` counts the non-NULL-key rows it actually
    *    inspected; `fk_orphan.total` likewise counts non-NULL-FK rows.
    *  - `ts_bounds` compares epoch MICROSECONDS against fixed UTC
    *    constants ([2024-01-01, 2025-01-01) as µs) — immune to the
    *    session time zone, same µs discipline as `funnel`.
    *  - Empty inputs report 0 violations / 0 total (sums coalesced), so
    *    an empty batch reads as a pass rather than a NULL row.
    *
    * Scale posture: every check is a single filtered/keyed aggregation
    * (dup counts via groupBy on the key; FK checks via left-anti join —
    * AQE broadcasts the small dimension side); checks are independent
    * branches of one union, so the scheduler runs them concurrently and
    * a 100 TB fact table is scanned once per check with only the checked
    * columns read.
    */
  def dqAudit(customer: DataFrame, orders: DataFrame,
              lineitem: DataFrame, events: DataFrame): DataFrame = {
    def row(check: String, table: String, violations: Column,
            total: DataFrame): DataFrame = {
      val v = coalesce(violations.cast("long"), lit(0L)).as("violations")
      total.agg(count(lit(1)).as("total"), v)
        .select(lit(check).as("check_name"), lit(table).as("table_name"),
          col("violations"), col("total"))
    }
    // duplicate primary keys: rows beyond the first per non-NULL key
    def dupKeys(df: DataFrame, key: String, table: String): DataFrame =
      df.filter(col(key).isNotNull)
        .groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") - 1L), lit(0L)).cast("long")
          .as("violations"),
          coalesce(sum(col("c")), lit(0L)).cast("long").as("total"))
        .select(lit("dup_key").as("check_name"),
          lit(table).as("table_name"), col("violations"), col("total"))
    // FK orphans: non-NULL fact keys with no matching dimension row
    def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
                table: String): DataFrame = {
      val keyed = fact.select(col(fk)).filter(col(fk).isNotNull)
      val n = keyed.agg(count(lit(1)).as("total"))
      val bad = keyed
        .join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("violations"))
      bad.crossJoin(n)
        .select(lit("fk_orphan").as("check_name"),
          lit(table).as("table_name"),
          col("violations"), col("total"))
    }
    val knownTypes = Seq("view", "click", "signup", "purchase", "error")
    // [2024-01-01T00:00:00Z, 2025-01-01T00:00:00Z) as epoch µs
    val tsLoUs = 1704067200000000L
    val tsHiUs = 1735689600000000L
    Seq(
      row("null_key", "customer",
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)), customer),
      dupKeys(orders, "o_orderkey", "orders"),
      dupKeys(customer, "c_custkey", "customer"),
      orphans(orders, "o_custkey", customer, "c_custkey", "orders"),
      orphans(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem"),
      row("range_nonpositive", "lineitem",
        sum(when(col("l_quantity").isNull || col("l_quantity") <= 0, 1L)
          .otherwise(0L)), lineitem),
      row("range_nonpositive", "orders",
        sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0,
          1L).otherwise(0L)), orders),
      row("enum_domain", "events",
        sum(when(!col("event_type").isin(knownTypes: _*), 1L)
          .otherwise(0L)), events),
      row("ts_bounds", "events",
        sum(when(col("ts").isNull ||
          unix_micros(col("ts")) < tsLoUs ||
          unix_micros(col("ts")) >= tsHiUs, 1L)
          .otherwise(0L)), events),
    ).reduce(_.unionByName(_))
  }

  /** Heavy hitters with a Count-Min-Sketch accuracy contract — the
    * bounded-memory frequency surface a 100 TB pipeline actually
    * deploys (the sketch is w·d counters regardless of input size, and
    * Spark merges per-partition sketches associatively), gated the
    * sketch-contract way ([[approxQuantiles]] / the HLL gate
    * precedent): CMS estimates are hash-implementation-specific, so
    * the OUTPUT carries the exact top-k counts plus a boolean per key
    * asserting the sketch's guarantee — `est ≥ exact` (always, CMS
    * never undercounts) and `est ≤ exact + ⌈eps·N⌉` (holds with
    * probability ≥ confidence per key; at these parameters the slack
    * exceeds any plausible collision mass, so the gate is
    * deterministic in practice and the oracle pins `TRUE`).
    *
    * The k-row top list is probed against the driver-held sketch — a
    * bounded model artifact (the whole point of a sketch is that it is
    * driver-sized); the exact counts come from a plain keyed agg +
    * TakeOrderedAndProject.
    * Output: (key, exact_cnt, est_ok), (exact_cnt desc, key asc).
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int = 5,
                   eps: Double = 0.001,
                   confidence: Double = 0.99): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val cms = df.select(col(keyCol).cast("string").as("k"))
      .stat.countMinSketch("k", eps, confidence, 42)
    val top = df.select(col(keyCol).cast("string").as("key"))
      .groupBy("key").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("key").asc).limit(k)
      .collect() // ≤ k rows — bounded by the parameter
    val slack = math.ceil(eps * n).toLong
    top.toSeq.map { r =>
      val key = r.getString(0)
      val exact = r.getLong(1)
      val est = cms.estimateCount(key)
      (key, exact, est >= exact && est <= exact + slack)
    }.toDF("key", "exact_cnt", "est_ok")
  }

  /** Weekly cohort retention over the event stream — the classic
    * growth-analytics matrix: users are grouped by their FIRST active
    * week (the cohort), and each (cohort, week-offset) cell counts how
    * many of them were active that many weeks later. Weeks are plain
    * epoch-week integers (`unix_micros div week-µs` — the house µs
    * discipline; no calendar arithmetic to align across engines;
    * weekly because the synthetic stream spans one month). Two keyed
    * aggregates and a cohort join — per-user state is one long, so
    * the shape holds at any event volume. Offset 0 is the cohort size
    * by construction.
    * Output: (cohort_week, week_offset, n_users).
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weekIdx = expr("unix_micros(ts) div 604800000000")
    val active = events
      .select(col("user_id"), weekIdx.as("w")).distinct()
    val cohort = active.groupBy("user_id").agg(min(col("w")).as("w0"))
    active.join(cohort, "user_id")
      .groupBy(col("w0"), (col("w") - col("w0")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("w0").as("cohort_week"), col("week_offset"),
        col("n_users"))
  }

  /** Per-user daily activity with gap filling — the dense date spine a
    * time-series model trains on: one row per (user, day) between the
    * user's first and last event day, zero-filled where the user was
    * idle. The spine is generated per user with `sequence` (span-
    * bounded, no global calendar cross join) and left-joined to the
    * daily counts on (user, day) — both sides keyed, so the shape is
    * a per-user explode plus one equi-join at any scale. Days travel
    * as formatted strings for cross-engine timestamp hygiene.
    * Output: (user_id, day "yyyy-MM-dd", n_events).
    */
  def activitySpine(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val spine = daily
      .groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("cnt"), lit(0L)).as("n_events"))
  }

  /** SEASONAL-NAIVE forecast over the per-type daily event counts —
    * the zero-parameter baseline every forecasting system is measured
    * against (ŷ(t) = y(t − period)): project `horizon` days past the
    * corpus's last day, reading each forecast off the dense zero-filled
    * per-type day spine (the [[activitySpine]] device over the GLOBAL
    * day range, so a day with no events forecasts from an explicit 0,
    * not a missing row). `horizon ≤ period` keeps every lookup inside
    * observed history (no recursive forecasting-from-forecasts).
    * Exact integer counts end to end — nothing to round, bit-exact
    * cross-engine. Scale shape: one keyed daily aggregation, one
    * enum×days spine explode, one self-join on (type, day−period).
    * Output: (event_type, day, yhat) — horizon rows per type, day as
    * epoch days. */
  def seasonalForecast(events: DataFrame, horizon: Int = 7,
                       period: Int = 7): DataFrame =
    seasonalForecastFromDaily(dailyCounts(events), horizon, period)

  /** [[seasonalForecast]] from an already-aggregated (event_type, day,
    * n) table — the entry point the STREAMING maintainer serves from
    * (daily counts are exact integer sums over disjoint batches, so a
    * foreachBatch-merged table feeds the identical forecast —
    * stream_forecast_maintain's ≡-batch argument). */
  def seasonalForecastFromDaily(daily: DataFrame, horizon: Int = 7,
                                period: Int = 7): DataFrame = {
    require(horizon >= 1 && horizon <= period,
      s"need 1 <= horizon <= period (lookups stay in history): " +
        s"$horizon/$period")
    // max spine day == max daily day by construction, so the 1-row
    // bound comes straight off the pre-spine table and the spine has
    // exactly one consumer — no persist to leak (ADVICE r12)
    val spine = spineFromDaily(daily)
    val maxd = daily.agg(max("day").as("d1"))
    spine.crossJoin(broadcast(maxd))
      .select(col("event_type"), (col("day") + period).as("day"),
        col("n").as("yhat"), col("d1"))
      .filter(col("day") > col("d1") &&
        col("day") <= col("d1") + horizon)
      .select("event_type", "day", "yhat")
  }

  /** Backtest of [[seasonalForecast]] on the last `window` in-sample
    * days: per type, MAE of ŷ(t) = y(t − period) against the actual
    * count — the one-number check that the seasonal-naive baseline is
    * (or is not) beatable on this stream. Absolute errors are exact
    * BIGINT differences; MAE is their sum over ONE IEEE division,
    * round2. Days whose lookback falls before the spine are excluded
    * (n_backtest reports how many scored). Output 1 row per type:
    * (event_type, n_backtest, mae). */
  def seasonalBacktest(events: DataFrame, window: Int = 14,
                       period: Int = 7): DataFrame = {
    require(window >= 1 && period >= 1,
      s"need window >= 1 and period >= 1: $window/$period")
    val daily = dailyCounts(events)
    // bounds off the pre-spine table (same min/max by construction);
    // the spine cache stays live in the returned plan — its two
    // consumers (preds + actuals) are both downstream
    val spine = Scope.hold(spineFromDaily(daily))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val base = spine.crossJoin(broadcast(bounds))
    val preds = base
      .select(col("event_type"), (col("day") + period).as("day"),
        col("n").as("yhat"), col("d0"), col("d1"))
      .filter(col("day") > col("d1") - window && col("day") <= col("d1"))
    base.filter(col("day") > col("d1") - window)
      .join(preds.select("event_type", "day", "yhat"),
        Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_backtest"),
        graft.functions.Fns.round2(
          sum(abs(col("n") - col("yhat"))) / count(lit(1))).as("mae"))
  }

  /** WEEKLY-SEASONAL MEAN forecast — the next rung above the
    * seasonal-naive baseline (round-12 verdict task 5): ŷ(t) = mean of
    * the last `k` same-weekday counts instead of the single y(t−7), so
    * one noisy week no longer IS the forecast. Weekday = epoch-day mod
    * `period` (pure integer arithmetic — no calendar/locale
    * dependence), history read off the dense zero-filled spine so
    * silent days average as explicit 0s. Exact integers until ONE
    * division (Σ of ≤ k counts / count), round2 — bit-stable
    * cross-engine. Scale shape: one keyed daily agg, the enum×days
    * spine, one (type, weekday)-keyed top-k window over the spine
    * (|types|·|days| rows, calendar-bounded), one broadcast join of
    * horizon rows. Output: (event_type, day, n_hist, yhat). */
  def seasonalMeanForecast(events: DataFrame, horizon: Int = 7,
                           period: Int = 7, k: Int = 4): DataFrame =
    seasonalMeanFromDaily(dailyCounts(events), horizon, period, k)

  /** [[seasonalMeanForecast]] from an already-aggregated (event_type,
    * day, n) table — the share point with the streaming maintainer
    * (exact integer counters merge across batches, the
    * seasonalForecastFromDaily argument). */
  def seasonalMeanFromDaily(daily: DataFrame, horizon: Int = 7,
                            period: Int = 7, k: Int = 4): DataFrame = {
    require(horizon >= 1 && horizon <= period && k >= 1,
      s"need 1 <= horizon <= period and k >= 1: $horizon/$period/$k")
    val spine = spineFromDaily(daily)
    val maxd = daily.agg(max("day").as("d1"))
    // last k same-weekday history values per (type, weekday)
    val w = Window.partitionBy(col("event_type"), col("wd"))
      .orderBy(col("day").desc)
    val hist = spine
      .withColumn("wd", col("day") % period)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy("event_type", "wd")
      .agg(count(lit(1)).as("n_hist"),
        graft.functions.Fns.round2(
          sum(col("n")) / count(lit(1))).as("yhat"))
    daily.select("event_type").distinct()
      .crossJoin(broadcast(maxd))
      .select(col("event_type"),
        explode(sequence(col("d1") + 1, col("d1") + horizon)).as("day"))
      .withColumn("wd", col("day") % period)
      .join(hist, Seq("event_type", "wd"))
      .select("event_type", "day", "n_hist", "yhat")
  }

  /** SPLIT-CONFORMAL interval for the seasonal-naive forecast — the
    * distribution-free uncertainty quantification a forecast consumer
    * actually wants next to the point estimate (Vovk et al.; the
    * "conformal prediction" recipe): on a CALIBRATION window of
    * in-sample days, collect the absolute residuals of
    * ŷ(t) = y(t − period); the interval half-width q is the
    * ⌈(n_cal+1)(1−α)⌉-th smallest calibration residual (guaranteeing
    * ≥ 1−α coverage on exchangeable days without any distributional
    * assumption); then audit the EMPIRICAL coverage of ŷ ± q on the
    * disjoint TEST window (the most recent `window` days — calibration
    * is the `window` days before that, so no residual is scored on a
    * day that chose q).
    *
    * Everything until the final ratio is exact integer arithmetic:
    * counts and seasonal-naive predictions are BIGINTs, residuals are
    * |BIGINT − BIGINT|, and the rank-q selection is a row_number over
    * (event_type) partitions ordered (resid, day) — bounded by the
    * window GEOMETRY, never the data volume. One round2 division
    * emits the coverage. Output 1 row per type: (event_type, n_cal,
    * q, n_test, n_covered, coverage). */
  def conformalForecast(events: DataFrame, window: Int = 14,
                        period: Int = 7,
                        alphaNum: Int = 1, alphaDen: Int = 10)
      : DataFrame =
    conformalFromDaily(dailyCounts(events), window, period,
      alphaNum, alphaDen)

  /** [[conformalForecast]] as a pure function of the (event_type,
    * day, n) daily table — the derivation the streaming maintainer
    * re-runs per micro-batch (daily counters are the mergeable state;
    * a pure derivation rides `dailyDeriveMaintain` with a batch-≡
    * guarantee for free). */
  def conformalFromDaily(daily: DataFrame, window: Int = 14,
                         period: Int = 7,
                         alphaNum: Int = 1, alphaDen: Int = 10)
      : DataFrame = {
    require(window >= 1 && period >= 1,
      s"need window >= 1 and period >= 1: $window/$period")
    require(alphaNum >= 0 && alphaDen >= 1 && alphaNum < alphaDen,
      s"need 0 <= alpha < 1 as a fraction: $alphaNum/$alphaDen")
    // the spine cache stays live in the returned plan — residuals and
    // the test audit both consume it (the seasonalBacktest lifecycle)
    val spine = Scope.hold(spineFromDaily(daily))
    val bounds = daily.agg(max("day").as("d1"))
    val base = spine.crossJoin(broadcast(bounds))
    // ŷ(t) = y(t − period), joined onto actuals over BOTH windows
    val preds = base
      .select(col("event_type"), (col("day") + period).as("day"),
        col("n").as("yhat"))
    val scored = base
      .filter(col("day") > col("d1") - 2L * window)
      .join(preds, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("d1"),
        abs(col("n") - col("yhat")).as("resid"))
    val cal = scored.filter(col("day") <= col("d1") - window)
    // exact conformal rank: k = ceil((n_cal + 1)(1 - alpha)), capped
    // at n_cal; the integer ceil form (a + b - 1) div b avoids any
    // float rank arithmetic (div truncates; operands positive)
    val nCal = cal.groupBy("event_type")
      .agg(count(lit(1)).as("n_cal"))
      .select(col("event_type"), col("n_cal"),
        least(col("n_cal"),
          expr(s"((n_cal + 1) * ${alphaDen - alphaNum} " +
            s"+ ${alphaDen - 1}) div $alphaDen")).as("k"))
    val wq = Window.partitionBy("event_type")
      .orderBy(col("resid").asc, col("day").asc)
    val q = cal.withColumn("_rn", row_number().over(wq))
      .join(broadcast(nCal), Seq("event_type"))
      .filter(col("_rn") === col("k"))
      .select(col("event_type"), col("n_cal"), col("resid").as("q"))
    scored.filter(col("day") > col("d1") - window)
      .join(broadcast(q), Seq("event_type"))
      .groupBy("event_type", "n_cal", "q")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("resid") <= col("q"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("event_type"), col("n_cal"), col("q"), col("n_test"),
        col("n_covered"),
        graft.functions.Fns.round2(col("n_covered") / col("n_test"))
          .as("coverage"))
  }

  /** Deterministic A/B experiment read-out — the two-sample test the
    * analytics surface was missing next to the one-sample bootstrap
    * CI: users split into arms by the standard salted-hash assignment
    * (every sampler's device — stable across runs, engines, and
    * cluster sizes), then per event_type a Welch z-statistic on the
    * per-event `value` metric. Sums are exact DECIMAL(18,6) (the
    * engine's deterministic-double-sum device) accumulated in ONE
    * keyed pass (conditional per-arm sums — no join, no second scan);
    * the mean/variance/z tail is a fixed chain of IEEE ops on
    * identical doubles, emitted floored to the 1e-6 grid, and the
    * significance verdict compares the UNfloored |z| to 1.96 (the
    * lrScore pred discipline). Types where either arm has < 2 events
    * emit NULL z (nullif guards — no 0-division).
    * Output 1 row per type: (event_type, n_a, n_b, mean_a, mean_b,
    * z_q, significant). */
  /** CUPED-adjusted A/B read-out (Deng et al. 2013 — the variance
    * reduction every experimentation platform runs): each user's
    * PRE-period activity predicts their post-period metric, so
    * regressing it out (y′ = y − θ(x − x̄), θ = cov(x,y)/var(x) pooled
    * across arms — pre-period data is arm-independent by construction,
    * so the adjustment is unbiased) shrinks the variance the z-test
    * divides by without touching the treatment effect. Pre/post split
    * at the fixed `cutoffMicros` (the artifact-gate cutoff); the unit
    * of analysis is the USER (per-user value sums), users with no
    * pre-period activity carry x = 0 (the additive-zero convention —
    * documented, not imputed).
    *
    * Determinism discipline: per-user x/y are exact DECIMAL(18,6)
    * sums; every user-level product that feeds a Σ (x·y, x², y′, y′²)
    * is quant12-floored then DECIMAL-summed (the [[abTest]] sumsq
    * device — doubles never sum in data order); θ, x̄ and the final
    * mean/variance/z chain are fixed IEEE sequences on identical
    * doubles, emitted floored to the 1e-6 grid with the verdict on
    * the unfloored |z|. Types with zero pre-period variance get NULL
    * θ → NULL z (nullif — no adjustment is estimable).
    *
    * Scale: three keyed aggregations — (type, user) metric sums, the
    * types-sized moment row (broadcast back), the types-sized arm
    * read-out — plus one broadcast join; nothing wider than
    * (type, user) ever shuffles.
    * Output 1 row per type: (event_type, n_a, n_b, theta_q, mean_a,
    * mean_b, z_q, significant). */
  def abTestCuped(events: DataFrame,
                  cutoffMicros: Long = 1706616000000000L): DataFrame = {
    val arm = graft.operators.Sampling
      .hashValue(col("user_id"), "graft-ab") % 2
    val pre = expr(s"unix_micros(ts) < ${cutoffMicros}L")
    // per-(type, user): exact pre/post value sums; arm rides along
    val pu = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        coalesce(sum(when(pre, col("value").cast("decimal(18,6)"))),
          lit(0).cast("decimal(18,6)")).as("x"),
        coalesce(sum(when(!pre, col("value").cast("decimal(18,6)"))),
          lit(0).cast("decimal(18,6)")).as("y"))
      .select(col("event_type"), col("user_id"),
        col("x").cast("double").as("x"),
        col("y").cast("double").as("y"),
        (arm === 0).as("isA"))
    // pooled per-type moments for theta and the covariate mean
    val mom = pu.groupBy("event_type")
      .agg(count(lit(1)).as("nu"),
        sum(col("x").cast("decimal(18,6)")).as("sx"),
        sum(col("y").cast("decimal(18,6)")).as("sy"),
        sum(graft.functions.Fns.quant12(col("x") * col("y"))
          .cast("decimal(24,12)")).as("sxy"),
        sum(graft.functions.Fns.quant12(col("x") * col("x"))
          .cast("decimal(24,12)")).as("sxx"))
      .select(col("event_type"), col("nu"),
        (col("sx").cast("double") / col("nu")).as("xbar"),
        ((col("sxy").cast("double")
          - col("nu") * (col("sx").cast("double") / col("nu"))
            * (col("sy").cast("double") / col("nu")))
          / nullif(col("sxx").cast("double")
            - col("nu") * (col("sx").cast("double") / col("nu"))
              * (col("sx").cast("double") / col("nu")), lit(0.0)))
          .as("theta"))
    // per-user adjusted metric, quant12-floored before the arm sums
    val adj = pu.join(broadcast(mom), Seq("event_type"))
      .select(col("event_type"), col("isA"), col("theta"),
        graft.functions.Fns.quant12(
          col("y") - col("theta") * (col("x") - col("xbar"))).as("ya"))
    val g = adj.groupBy("event_type")
      .agg(max(col("theta")).as("theta"),
        sum(when(col("isA"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("isA"), col("ya").cast("decimal(20,12)")))
          .as("sv_a"),
        sum(when(!col("isA"), col("ya").cast("decimal(20,12)")))
          .as("sv_b"),
        sum(when(col("isA"),
          graft.functions.Fns.quant12(col("ya") * col("ya"))
            .cast("decimal(24,12)"))).as("sq_a"),
        sum(when(!col("isA"),
          graft.functions.Fns.quant12(col("ya") * col("ya"))
            .cast("decimal(24,12)"))).as("sq_b"))
    val ma = col("sv_a").cast("double") / col("n_a")
    val mb = col("sv_b").cast("double") / col("n_b")
    val va = (col("sq_a").cast("double") - col("n_a") * ma * ma) /
      nullif((col("n_a") - 1).cast("double"), lit(0.0))
    val vb = (col("sq_b").cast("double") - col("n_b") * mb * mb) /
      nullif((col("n_b") - 1).cast("double"), lit(0.0))
    val z = (ma - mb) / sqrt(va / col("n_a") + vb / col("n_b"))
    g.select(col("event_type"), col("n_a"), col("n_b"),
      (floor(col("theta") * 1000000 + lit(0.5)) / 1000000)
        .as("theta_q"),
      (floor(ma * 1000000 + lit(0.5)) / 1000000).as("mean_a"),
      (floor(mb * 1000000 + lit(0.5)) / 1000000).as("mean_b"),
      (floor(z * 1000000 + lit(0.5)) / 1000000).as("z_q"),
      (abs(z) >= 1.96).as("significant"))
  }

  def abTest(events: DataFrame): DataFrame = {
    val arm = graft.operators.Sampling
      .hashValue(col("user_id"), "graft-ab") % 2
    val g = events
      .select(col("event_type"), col("value"), (arm === 0).as("isA"))
      .groupBy("event_type")
      .agg(
        sum(when(col("isA"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("isA"), col("value").cast("decimal(18,6)")))
          .as("sv_a"),
        sum(when(!col("isA"), col("value").cast("decimal(18,6)")))
          .as("sv_b"),
        sum(when(col("isA"),
          graft.functions.Fns.quant12(col("value") * col("value"))
            .cast("decimal(20,12)"))).as("sq_a"),
        sum(when(!col("isA"),
          graft.functions.Fns.quant12(col("value") * col("value"))
            .cast("decimal(20,12)"))).as("sq_b"))
    val ma = col("sv_a").cast("double") / col("n_a")
    val mb = col("sv_b").cast("double") / col("n_b")
    val va = (col("sq_a").cast("double") - col("n_a") * ma * ma) /
      nullif((col("n_a") - 1).cast("double"), lit(0.0))
    val vb = (col("sq_b").cast("double") - col("n_b") * mb * mb) /
      nullif((col("n_b") - 1).cast("double"), lit(0.0))
    val z = (ma - mb) /
      sqrt(va / col("n_a") + vb / col("n_b"))
    g.select(col("event_type"), col("n_a"), col("n_b"),
      (floor(ma * 1000000 + lit(0.5)) / 1000000).as("mean_a"),
      (floor(mb * 1000000 + lit(0.5)) / 1000000).as("mean_b"),
      (floor(z * 1000000 + lit(0.5)) / 1000000).as("z_q"),
      (abs(z) >= 1.96).as("significant"))
  }

  /** Residual anomaly on the weekly-seasonal lattice — the
    * [[rateAnomaly]] z-score device composed with the forecast
    * family's day spine (round-12 verdict task 5): each (type, day)
    * scores against the TRAILING `k` same-weekday counts (its own
    * seasonal baseline — Mondays against Mondays, so weekly shape
    * never reads as anomaly), z = (n − mean)/stdev over exact-integer
    * trailing sums, round2, NULL below `minBaseline` history or at
    * zero variance; anomaly = |z| ≥ `zThreshold`. One window over the
    * calendar-bounded spine — no corpus-sized state.
    * Output: (event_type, day, n, base_n, z, anomaly). */
  def seasonalAnomaly(events: DataFrame, period: Int = 7, k: Int = 4,
                      minBaseline: Int = 3,
                      zThreshold: Double = 3.0): DataFrame =
    seasonalAnomalyFromDaily(dailyCounts(events), period, k,
      minBaseline, zThreshold)

  /** [[seasonalAnomaly]] from an already-aggregated daily table — the
    * streaming-maintainer share point. */
  def seasonalAnomalyFromDaily(daily: DataFrame, period: Int = 7,
                               k: Int = 4, minBaseline: Int = 3,
                               zThreshold: Double = 3.0): DataFrame = {
    require(k >= 2 && minBaseline >= 2 && minBaseline <= k,
      s"need 2 <= minBaseline <= k: $k/$minBaseline")
    val tw = Window.partitionBy(col("event_type"), col("wd"))
      .orderBy(col("day").asc)
      .rowsBetween(-k.toLong, -1L)
    val withBase = spineFromDaily(daily)
      .withColumn("wd", col("day") % period)
      .withColumn("base_n", count(col("n")).over(tw))
      .withColumn("sx", coalesce(sum(col("n")).over(tw), lit(0L)))
      .withColumn("sxx",
        coalesce(sum(col("n") * col("n")).over(tw), lit(0L)))
    val varNum = col("base_n") * col("sxx") - col("sx") * col("sx")
    val z = graft.functions.Fns.round2(
      (col("n") - col("sx") / col("base_n")) /
        sqrt(varNum / (col("base_n") * (col("base_n") - 1))))
    withBase
      .select(col("event_type"), col("day"), col("n"), col("base_n"),
        when(col("base_n") >= minBaseline && varNum > 0, z).as("z"))
      .withColumn("anomaly",
        coalesce(abs(col("z")) >= zThreshold, lit(false)))
  }

  /** Bounded-lag PERIOD DETECTOR over the day spine — the drift-aware
    * complement of the fixed period=7 forecasts (round-12 close's
    * candidate list): per type, the raw-moment autocorrelation
    * score(L) = mean of n(d)·n(d−L) over the zero-filled spine for L ∈
    * [2, maxLag], detected period = argmax (score desc, lag asc — the
    * tie pin). Products and sums are exact BIGINTs (counts); the mean
    * is ONE IEEE division per (type, lag), round2 — so cross-engine
    * determinism holds and a per-lag overlap difference (n_days − L
    * pairs) is normalized away. Cost is calendar-bounded:
    * |types|·|days|·|lags| joined rows, never event-sized.
    * Output 1 row per type: (event_type, period, score). */
  def periodDetect(events: DataFrame, maxLag: Int = 14): DataFrame = {
    require(maxLag >= 2, s"need maxLag >= 2: $maxLag")
    val spark = events.sparkSession
    // base + shifted arms of the lag join
    val spine = Scope.hold(spineFromDaily(dailyCounts(events)))
    val lags = spark.range(2, maxLag + 1)
      .select(col("id").as("lag"))
    val shifted = spine.crossJoin(broadcast(lags))
      .select(col("event_type"), (col("day") + col("lag")).as("day"),
        col("lag"), col("n").as("n_lag"))
    // products route through DECIMAL(38,0): day counts at petabyte
    // scale put n·n_lag past Long range (DuckDB sums in HUGEINT)
    val scored = spine.join(shifted, Seq("event_type", "day"))
      .groupBy("event_type", "lag")
      .agg(sum(col("n").cast("decimal(19,0)") *
          col("n_lag").cast("decimal(19,0)")).as("s"),
        count(lit(1)).as("c"))
      .select(col("event_type"), col("lag"),
        graft.functions.Fns.round2(
          col("s").cast("double") / col("c")).as("score"))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("score").desc, col("lag").asc)
    scored.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .select(col("event_type"), col("lag").as("period"), col("score"))
  }

  /** The dense zero-filled per-type day spine shared by the forecast
    * pair: every (event_type, day) over the GLOBAL day range with its
    * exact event count, 0 where the type was silent. Day = epoch days
    * from the µs timestamp (UTC — the normalizeTs contract). */
  private def dailySpine(events: DataFrame): DataFrame =
    spineFromDaily(dailyCounts(events))

  /** Per-type daily event counts: (event_type, day, n), day = epoch
    * days (UTC µs, exact BIGINT floor-div). Mergeable across disjoint
    * batches by integer sum — the streaming maintainer's state. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))

  private def spineFromDaily(daily: DataFrame): DataFrame = {
    val range = daily.agg(min("day").as("d0"), max("day").as("d1"))
    daily.select("event_type").distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Snapshot diff (the SCD/CDC change feed): classify every key of
    * two same-schema snapshots as `insert` (new only), `delete` (old
    * only), or `update` (both present, any payload column differs —
    * null-safe `<=>` per column, no hash-collision caveat), dropping
    * unchanged keys. One full-outer equi-join on the key — both sides
    * shuffle once on the key and the payload comparison is codegen'd
    * column equality, so the shape is two scans + one join at any
    * snapshot size. Emitted payload is the NEW side for
    * insert/update and the OLD side for delete (the row a consumer
    * must apply / retract).
    * Output: (op, keyCols..., payloadCols...).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      "snapshotDiff requires same-schema snapshots")
    val payload = newDf.columns.filterNot(keyCols.contains).toSeq
    val o = payload.foldLeft(oldDf)((d, c) =>
      d.withColumnRenamed(c, s"_old_$c"))
      .withColumn("_old_present", lit(1))
    val n = newDf.withColumn("_new_present", lit(1))
    val unchanged = payload.map(c => col(s"_old_$c") <=> col(c))
      .reduce(_ && _)
    o.join(n, keyCols, "full_outer")
      .withColumn("op",
        when(col("_new_present").isNull, lit("delete"))
          .when(col("_old_present").isNull, lit("insert"))
          .when(!unchanged, lit("update")))
      .filter(col("op").isNotNull)
      .select((col("op") +: keyCols.map(col)) ++
        payload.map(c =>
          when(col("op") === "delete", col(s"_old_$c"))
            .otherwise(col(c)).as(c)): _*)
  }

  /** Keep-latest compaction (CDC upsert semantics): one surviving row
    * per key — the greatest (time, tie) — the step that turns an
    * append-only change log into current state before a training read.
    * The tie column must make the order TOTAL (here event_id, unique).
    * `max(struct(time, tie, payload))` under a keyed groupBy — struct
    * comparison is lexicographic, so the max IS the (time, tie)-argmax,
    * carrying its payload atomically (no per-column max tearing rows).
    * One hash aggregate with map-side partial combine: each partition
    * sends one candidate row per key it saw, instead of shuffling and
    * sorting every key's full history — state-sized, not log-sized,
    * exchange on an append-heavy log.
    * Output: (user_id, event_type, last_ts, last_event_id, last_value).
    */
  def latestEventState(events: DataFrame): DataFrame =
    events
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .as("_w"))
      .select(col("user_id"), col("event_type"),
        date_format(col("_w.ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("_w.event_id").as("last_event_id"),
        col("_w.value").as("last_value"))

  /** Exact ROC-AUC (Mann-Whitney with midrank tie handling) of a
    * bounded-cardinality score, one-vs-rest per event type — the
    * model-eval primitive a training-data pipeline runs after every
    * quality-scorer change.
    *
    * Scale shape: exact AUC over a CONTINUOUS score needs a global
    * total order (a scale-killer), so the operator scores on the
    * 2-dp-quantized value (`round2`) — midranks then derive from a
    * histogram over DISTINCT scores only: one keyed (score, class)
    * count, one bounded cumulative window over the score histogram
    * (cardinality = score range × 100, independent of row count — the
    * same distinct-values-window argument as samp_curriculum_scalable),
    * one class-keyed aggregate. AUC is computed in exact BIGINT rank
    * sums; the single final division is one IEEE op, then round6.
    * For rows with score s: midrank = below(s) + (cnt(s)+1)/2, kept as
    * mr2 = 2·below + cnt + 1 to stay integral.
    * Output: (event_type, pos_cnt, neg_cnt, auc) — auc of predicting
    * "this event type" from the quantized value, NULL if a class has
    * no complement (degenerate single-class input).
    */
  def aucByType(events: DataFrame): DataFrame = {
    val scored = events.select(
      col("event_type"),
      graft.functions.Fns.round2(col("value")).as("score"))
    // per-(score, class) counts — the only data-sized aggregate
    val g = Scope.hold(scored.groupBy("score", "event_type")
      .agg(count(lit(1)).as("cnt_sc")))
    // score histogram + cumulative count of strictly-smaller scores:
    // window over DISTINCT scores only (bounded), never over rows
    val hist = g.groupBy("score").agg(sum("cnt_sc").as("cnt_s"))
    val wBelow = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val below = hist
      .select(col("score"), col("cnt_s"),
        (sum("cnt_s").over(wBelow) - col("cnt_s")).as("below"))
    // Σ mr2 over a class's rows at score s = cnt_sc · (2·below+cnt_s+1)
    val perClass = g.join(below, "score")
      .groupBy("event_type")
      .agg(sum(col("cnt_sc") * (col("below") * 2 + col("cnt_s") + 1))
          .as("s2"),
        sum("cnt_sc").as("p"))
    val n = perClass.agg(sum("p").as("n"))
    perClass.crossJoin(broadcast(n))
      .select(col("event_type"), col("p").as("pos_cnt"),
        (col("n") - col("p")).as("neg_cnt"),
        // nullif: a single-class input makes the pair count 0 — ANSI
        // would raise DIVIDE_BY_ZERO; NULL is the documented output
        (floor((col("s2") - col("p") * (col("p") + 1)).cast("double") /
          nullif((col("p") * (col("n") - col("p")) * 2).cast("double"),
            lit(0.0))
          * 1000000 + lit(0.5)) / 1000000).as("auc"))
  }

  /** MERGE INTO semantics — apply a compacted change feed to a base
    * snapshot in one keyed full-outer join (the step after
    * [[latestEventState]] turns a raw CDC log into one row per
    * key): a delta row with `opCol = 'D'` deletes the key, any other
    * delta row upserts its payload (update when the key exists, insert
    * when it doesn't), untouched base rows pass through.
    *
    * `delta` must be pre-compacted to one row per key (feed a raw log
    * through keep-latest compaction first — the op rides the payload
    * struct so the winning row's op is the one applied); `base` and
    * `delta` share the key + payload columns, `delta` adds `opCol`.
    *
    * Scale posture: one hash-partitioned full-outer join on the key —
    * state-sized exchange on both sides, no window, no sort; the
    * `action` column comes from the same presence flags the join
    * already computed. This is the batch twin of what a MERGE-capable
    * table format executes, expressed as a plain Catalyst plan.
    * Output: key ++ payload ++ action ('insert'|'update'|'keep').
    */
  def mergeApply(base: DataFrame, delta: DataFrame, keyCols: Seq[String],
                 opCol: String = "op"): DataFrame = {
    val payload = base.columns.filterNot(keyCols.contains).toSeq
    require(delta.columns.sorted
      .sameElements((base.columns :+ opCol).sorted),
      s"delta must be base's schema plus '$opCol'")
    val b = payload.foldLeft(base)((d, c) =>
      d.withColumnRenamed(c, s"_b_$c"))
      .withColumn("_b_present", lit(1))
    val d = delta.withColumn("_d_present", lit(1))
    b.join(d, keyCols, "full_outer")
      .filter(col("_d_present").isNull || col(opCol) =!= "D")
      .withColumn("action",
        when(col("_d_present").isNull, lit("keep"))
          .when(col("_b_present").isNull, lit("insert"))
          .otherwise(lit("update")))
      .select(keyCols.map(col) ++
        payload.map(c =>
          when(col("_d_present").isNotNull, col(c))
            .otherwise(col(s"_b_$c")).as(c)) :+ col("action"): _*)
  }

  /** Pinned-values pivot: per-user event-type matrix (count + exact
    * decimal-routed value sum per type, as columns), as CONDITIONAL
    * aggregation — one hash aggregate, one user_id exchange. Spark's
    * relational `.pivot(col, values)` plans TWO aggregate passes (a
    * (user, type)-keyed agg, then a pivotfirst agg) with two
    * exchanges; the conditional form ships one partial-state row per
    * (user × pinned column) and shuffles once. The value list is
    * EXPLICIT either way — a values-less pivot adds a distinct
    * discovery scan AND a schema that drifts with the data; a 100 TB
    * pivot pins its columns. Absent (user, type) cells surface as 0
    * count / NULL sum, matching SQL FILTER-aggregate semantics.
    * Output: (user_id, <type>_n, <type>_sum ... per pinned type).
    */
  def pivotEventTypes(events: DataFrame,
                      types: Seq[String]): DataFrame = {
    val cells = types.flatMap(t => Seq(
      count(when(col("event_type") === t, lit(1))).as(s"${t}_n"),
      sum(when(col("event_type") === t,
        col("value").cast("decimal(18,6)")))
        .cast("double").as(s"${t}_sum")))
    events.groupBy("user_id").agg(cells.head, cells.tail: _*)
  }

  /** Gap-aware trailing-window stats over the daily revenue spine: per
    * order DAY, total revenue plus the `windowDays`-day trailing sum /
    * mean / day count under a RANGE frame on the epoch-day integer — a
    * calendar window, so missing days SHRINK it (day 10 with no orders
    * on days 5-9 averages over its lone self), where the ROWS frames of
    * [[customerOrderHistory]] would silently reach back across the gap.
    * Scale posture: the windowed input is the per-day AGGREGATE — one
    * keyed groupBy shuffle over N rows, then a single-partition window
    * over |distinct days| rows, bounded by the calendar domain (~2.5k
    * for seven years), not by N; at 100 TB the day table is still tiny.
    * Sums route through DECIMAL (invariant 2); the trailing mean is one
    * deterministic double division, round2-pinned. Output: (day,
    * revenue, trail_sum, trail_avg, n_days).
    */
  def rollingDailyRevenue(orders: DataFrame,
                          windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val daily = orders
      .select(to_date(col("o_orderdate")).as("d"),
        dec(col("o_totalprice")).as("p"))
      .groupBy("d").agg(sum(col("p")).as("rev"))
      .select(col("d"),
        datediff(col("d"), to_date(lit("1970-01-01")))
          .cast("long").as("ed"), col("rev"))
    val trail = Window.orderBy(col("ed").asc)
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .select(col("d").cast("string").as("day"),
        col("rev").cast("double").as("revenue"),
        sum(col("rev")).over(trail).cast("double").as("trail_sum"),
        graft.functions.Fns.round2(
          sum(col("rev")).over(trail).cast("double")
            / count(lit(1)).over(trail)).as("trail_avg"),
        count(lit(1)).over(trail).as("n_days"))
  }

  /** Incremental distinct-count maintenance via mergeable HLL
    * sketches — the state shape that makes "distinct users per type,
    * updated nightly" an O(delta) job instead of an O(history)
    * rescan: the stored state is a Datasketches HLL sketch per key,
    * each delta batch is sketched alone, and the union of the two
    * sketches IS the sketch of the union (HLL merge takes the
    * register-wise max — so the union covers exactly the union of the
    * streams). NOTE, measured at sf0.1: the union's ESTIMATE is not
    * bit-equal to the single-pass one — Datasketches HLL serves
    * estimates from the stream-order-dependent HIP estimator, which a
    * union cannot preserve (it falls back to the composite estimator)
    * — so the honest mergeability contract is "both estimates land
    * within the error bound", not bitwise equality.
    *
    * Sketch estimates are implementation-specific, so the gate
    * follows the CMS/HLL contract pattern (rel_heavy_hitters): emit
    * the EXACT count plus engine-stable booleans the oracle pins TRUE
    * — the incremental and the full-rescan estimate each land within
    * the 5% relative-error contract (lgK 12 → rsd ~1.6%).
    * Scale posture: sketches are KB-sized mergeable state,
    * the classic lambda-architecture aggregate; the exact distinct
    * exists only to audit the contract (a production job would drop
    * it — it is the O(history) cost being replaced).
    * Output: (event_type, n_exact, inc_within_rel_err,
    * full_within_rel_err).
    */
  def hllMaintain(events: DataFrame,
                  cutoffMicros: Long = 1706616000000000L): DataFrame = {
    val pre = events.filter(expr(s"unix_micros(ts) < ${cutoffMicros}L"))
    val post = events.filter(expr(s"unix_micros(ts) >= ${cutoffMicros}L"))
    val sPre = pre.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk_pre"))
    val sPost = post.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk_post"))
    val full = events.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk_full"),
        countDistinct(col("user_id")).as("n_exact"))
    full.join(sPre, Seq("event_type"), "left")
      .join(sPost, Seq("event_type"), "left")
      .select(col("event_type"), col("n_exact"),
        expr("""hll_sketch_estimate(CASE
          WHEN sk_pre IS NULL THEN sk_post
          WHEN sk_post IS NULL THEN sk_pre
          ELSE hll_union(sk_pre, sk_post) END)""").as("est_inc"),
        expr("hll_sketch_estimate(sk_full)").as("est_full"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est_inc") - col("n_exact"))
          <= col("n_exact") * 0.05).as("inc_within_rel_err"),
        (abs(col("est_full") - col("n_exact"))
          <= col("n_exact") * 0.05).as("full_within_rel_err"))
  }

  /** Persist the per-type HLL sketches as a parquet artifact (binary
    * sketch column) — the mergeable-sketch half of the artifact family
    * (the ivf/bpe/rollup pattern applied to approximate state): at
    * 100 TB the per-partition sketches are materialized once and every
    * refresh absorbs a delta at delta cost, never re-reading history.
    * A parquet binary round-trips byte-exact, so the re-read sketch
    * unions identically to the in-memory one. */
  def hllArtifactWrite(events: DataFrame, dir: String): Unit =
    events.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .write.mode("overwrite").parquet(dir)

  /** Merge a DELTA's sketches against the STORED artifact and gate the
    * union estimate against the exact distinct over the full history —
    * the [[hllMaintain]] sketch-contract shape with the pre-cutoff
    * side arriving from parquet instead of a scan: the old events are
    * never read (their entire contribution is the |types|-sized
    * artifact). Output: (event_type, n_exact,
    * merged_within_rel_err). */
  def hllArtifactMerge(delta: DataFrame, full: DataFrame,
                       dir: String): DataFrame = {
    val spark = delta.sparkSession
    val stored = spark.read.parquet(dir)
      .withColumnsRenamed(Map("sk" -> "sk_pre"))
    val sDelta = delta.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk_post"))
    val exact = full.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(stored, Seq("event_type"), "left")
      .join(sDelta, Seq("event_type"), "left")
      .select(col("event_type"), col("n_exact"),
        expr("""hll_sketch_estimate(CASE
          WHEN sk_pre IS NULL THEN sk_post
          WHEN sk_post IS NULL THEN sk_pre
          ELSE hll_union(sk_pre, sk_post) END)""").as("est"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact"))
          <= col("n_exact") * 0.05).as("merged_within_rel_err"))
  }

  /** Incremental-processing partition diff — the "which partitions
    * must recompute" primitive a 100 TB nightly pipeline runs INSTEAD
    * of full recomputation: fingerprint every (day) partition of the
    * old and new snapshots and classify each day as added / removed /
    * changed / unchanged. Downstream jobs then touch only the
    * non-unchanged days.
    *
    * The fingerprint is (bit_xor over a 60-bit md5 slice of the
    * canonical row rendering, row count) — xor because it is
    * order-independent and overflow-free (sum of longs would wrap
    * under ANSI), md5 because the oracle must replay it (invariant 8),
    * and the COUNT alongside because xor alone is parity-blind:
    * adding or removing an EVEN number of copies of one identical row
    * cancels in the xor (x⊕x = 0), so without the count a
    * duplicate-doubling day would read 'unchanged'. The count catches
    * every multiplicity change of a single row value; what remains
    * undetectable is a count-preserving swap of xor-cancelling row
    * SETS (e.g. drop 2×A, add 2×B) — astronomically unlikely unless
    * rowCols fails to identify rows, so callers on duplicate-bearing
    * tables should still include a unique id in rowCols. A residual
    * md5 collision (2^-60 per pair) would mark a changed day
    * unchanged in BOTH engines identically — the trade every
    * content-hash diff makes. Scale posture: one keyed agg per
    * snapshot over its rows, one |days|-sized full-outer join;
    * nothing is ever row-joined across snapshots.
    * Output: (day, status), status ∈ added|removed|changed|unchanged.
    */
  def partitionDiff(oldDf: DataFrame, newDf: DataFrame,
                    rowCols: Seq[String]): DataFrame =
    diffFingerprints(dayFingerprints(oldDf, rowCols),
      dayFingerprints(newDf, rowCols))

  /** The per-day (fp, cnt) fingerprint aggregate [[partitionDiff]]'s
    * scaladoc specifies — factored out so the persisted-artifact
    * refresh ([[rollupArtifactWrite]] / [[incrementalRefreshFromArtifact]])
    * stores and replays the IDENTICAL fingerprint it would compute
    * in-plan. Output: (day, fp, cnt). */
  private def dayFingerprints(df: DataFrame,
                              rowCols: Seq[String]): DataFrame = df
    .select(to_date(col("ts")).cast("string").as("day"),
      conv(substring(md5(concat_ws("|",
        rowCols.map(c => col(c).cast("string")): _*)), 1, 15), 16, 10)
        .cast("long").as("h"))
    .groupBy("day").agg(expr("bit_xor(h)").as("fp"),
      count(lit(1)).as("cnt"))

  /** Classify days between two (day, fp, cnt) fingerprint frames —
    * shared by the two-snapshot [[partitionDiff]] and the
    * stored-fingerprint artifact refresh. */
  private def diffFingerprints(oldFps: DataFrame,
                               newFps: DataFrame): DataFrame =
    oldFps.select(col("day"), col("fp").as("fp_old"),
        col("cnt").as("cnt_old"))
      .join(newFps.select(col("day"), col("fp").as("fp_new"),
        col("cnt").as("cnt_new")), Seq("day"), "full_outer")
      .select(col("day"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new")
            && col("cnt_old") === col("cnt_new"), "unchanged")
          .otherwise("changed").as("status"))

  /** Partition-diff-DRIVEN incremental refresh — the composition the
    * [[partitionDiff]] scaladoc promises ("downstream jobs then touch
    * only the non-unchanged days"), run end to end: fingerprint-diff
    * the old and new snapshots, KEEP the old daily aggregate for
    * unchanged days, recompute ONLY added/changed days from the new
    * snapshot, and drop removed days. The gate pins the contract that
    * makes the optimization safe: the spliced result must equal the
    * full recompute over the new snapshot bit-for-bit (decimal-routed
    * sums make the splice exact under any partitioning).
    *
    * Scale posture: the dirty-day set is |days|-sized and broadcast;
    * filtering the new snapshot to dirty days BEFORE its aggregation
    * is a partition-pruned scan when the table is day-partitioned —
    * the whole point of the nightly-refresh shape (touch GBs, not the
    * 100 TB history). The old snapshot is read only for its (already
    * materialized, in production) daily aggregate and the
    * fingerprints. Output: (day, n_events, sum_value).
    *
    * The per-row fingerprint hashes `rowCols` PLUS the aggregate's
    * input column (`value`) — `rowCols` identifies rows, but a row
    * whose identity survived while its `value` mutated between
    * snapshots must still classify its day 'changed', or the splice
    * would keep a stale sum (round-8 ADVICE). */
  def incrementalRefresh(oldDf: DataFrame, newDf: DataFrame,
                         rowCols: Seq[String]): DataFrame = {
    // persisted: the diff feeds BOTH splice branches — without the
    // cache each branch re-fingerprints both snapshots (the
    // ExplainAudit round-8 finding: two extra full scans per branch);
    // |days|-sized
    val diff = Scope.hold(partitionDiff(oldDf, newDf, fpCols(rowCols)))
    val unchanged = diff.filter(col("status") === "unchanged")
      .select("day")
    val dirty = diff.filter(col("status").isin("added", "changed"))
      .select("day")
    val kept = dailyRollup(oldDf).join(broadcast(unchanged), Seq("day"),
      "left_semi")
    val recomputed = dailyRollup(newDf
      .join(broadcast(dirty),
        to_date(col("ts")).cast("string") === dirty("day"), "left_semi"))
    kept.unionByName(recomputed)
      .select(col("day"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
  }

  /** Fingerprint columns for the daily-rollup refresh family: the
    * caller's row identity plus every column [[dailyRollup]] reads
    * beyond the day key (`value`, the sum input) — see the
    * [[incrementalRefresh]] scaladoc for why the aggregate inputs
    * must be folded in. */
  private def fpCols(rowCols: Seq[String]): Seq[String] =
    (rowCols :+ "value").distinct

  /** The daily aggregate the refresh family maintains. `sv` stays
    * DECIMAL(18,6) internally (and in the stored artifact): the splice
    * is only exact because partial sums are decimal — and a parquet
    * decimal round-trips bit-exactly, so kept artifact rows equal
    * recomputed ones. */
  private[graft] def dailyRollup(df: DataFrame): DataFrame = df
    .groupBy(to_date(col("ts")).cast("string").as("day"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,6)")).as("sv"))

  /** MATERIALIZE the daily rollup as a parquet artifact — the missing
    * half of the nightly-refresh story (round-8 verdict #3): in
    * production the rollup is a stored table maintained night over
    * night, not something recomputed from the old snapshot on every
    * refresh. Layout under `dir`:
    *  - `rollup/` — (day, n_events, sv DECIMAL(18,6)): the aggregate;
    *  - `fingerprints/` — (day, fp, cnt): the [[partitionDiff]]
    *    fingerprints of the snapshot the rollup was built from, so the
    *    NEXT refresh can classify days without ever reading the old
    *    snapshot.
    */
  def rollupArtifactWrite(df: DataFrame, dir: String,
                          rowCols: Seq[String]): Unit = {
    dailyRollup(df).write.mode("overwrite").parquet(s"$dir/rollup")
    dayFingerprints(df, fpCols(rowCols))
      .write.mode("overwrite").parquet(s"$dir/fingerprints")
  }

  /** Refresh FROM the materialized artifact: diff the STORED
    * fingerprints against the new snapshot's, keep stored rollup rows
    * for unchanged days, recompute only added/changed days from the
    * new snapshot, drop removed days — then WRITE the refreshed
    * artifact (rollup + fingerprints) to `newDir`, ready to serve the
    * next night. Returns the refreshed rollup RE-READ from `newDir`,
    * so the gate pins the full write→refresh→write→read round-trip
    * against the full recompute's twin.
    *
    * Scale posture: the OLD SNAPSHOT IS NEVER SCANNED — its entire
    * contribution arrives through the |days|-sized artifact (this is
    * what [[incrementalRefresh]]'s scaladoc could only promise). The
    * new snapshot is scanned once for fingerprints (a cheap hash agg —
    * and the scan next night's refresh needs anyway) plus a
    * dirty-day-pruned pass for the recompute; with a day-partitioned
    * source that second pass touches only the dirty partitions.
    */
  def incrementalRefreshFromArtifact(newDf: DataFrame, oldDir: String,
                                     newDir: String,
                                     rowCols: Seq[String]): DataFrame = {
    require(oldDir != newDir,
      "newDir must differ from oldDir (overwrite-while-read)")
    val spark = newDf.sparkSession
    // persisted: feeds the artifact write AND the diff (|days|-sized)
    val newFps = Scope.hold(dayFingerprints(newDf, fpCols(rowCols)))
    val diff = Scope.hold(diffFingerprints(
      spark.read.parquet(s"$oldDir/fingerprints"), newFps))
    val unchanged = diff.filter(col("status") === "unchanged")
      .select("day")
    val dirty = diff.filter(col("status").isin("added", "changed"))
      .select("day")
    val kept = spark.read.parquet(s"$oldDir/rollup")
      .join(broadcast(unchanged), Seq("day"), "left_semi")
    val recomputed = dailyRollup(newDf
      .join(broadcast(dirty),
        to_date(col("ts")).cast("string") === dirty("day"), "left_semi"))
    kept.unionByName(recomputed)
      .write.mode("overwrite").parquet(s"$newDir/rollup")
    newFps.write.mode("overwrite").parquet(s"$newDir/fingerprints")
    spark.read.parquet(s"$newDir/rollup")
      .select(col("day"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
  }

  /** k-anonymity / l-diversity audit — the privacy-governance check a
    * training-data release runs before publishing quasi-identifiable
    * records: group by the quasi-identifier tuple (market segment ×
    * nation), and flag every group that is either smaller than `k`
    * (re-identification risk: fewer than k records share the QI
    * combination) or carries fewer than `l` distinct sensitive values
    * (homogeneity risk: knowing the QI reveals the sensitive
    * attribute even inside a large group). The sensitive attribute is
    * the account-balance band (negative / mid / high) — banded because
    * l-diversity is defined over a categorical domain.
    *
    * Scale posture: one keyed aggregation (count + exact distinct over
    * a 3-value band — a tiny holistic agg); output is |QI domain|
    * rows, bounded by the attribute domains, never by N.
    * Output: (c_mktsegment, c_nationkey, n, l_div, at_risk).
    */
  def kAnonymityAudit(customer: DataFrame, k: Long = 5L,
                      l: Long = 2L): DataFrame = {
    val band = when(col("c_acctbal") < 0, "neg")
      .when(col("c_acctbal") < lit(5000.0), "mid").otherwise("high")
    customer
      .select(col("c_mktsegment"), col("c_nationkey"), band.as("sens"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("sens")).as("l_div"))
      .withColumn("at_risk", col("n") < k || col("l_div") < l)
  }

  /** Exponentially-decayed daily revenue (EWMA with a one-day
    * half-life, 8-day horizon): ewma(t) = Σ over k=0..7 of
    * rev(t−k) / 2^k — the "recent revenue, older days count half as
    * much per day" trend signal, with missing days contributing 0
    * (a gap genuinely decays the average, unlike a ROWS frame that
    * would reach across it).
    *
    * Numeric determinism via integer fixed-point, the pageRank
    * discipline: daily revenue becomes exact BIGINT cents, each
    * contribution is cents × 2^(7−k) (exact integer — power-of-two
    * decay is WHY this is gate-able; w^k for general w needs pow,
    * which IEEE only bounds within 1 ulp), and the per-day sum of
    * longs is order-independent. The human-unit `ewma` column is that
    * one exact integer divided by 12800.0 (2^7 × 100 cents) — a single
    * correctly-rounded IEEE op — then round2-pinned.
    *
    * Shape: instead of a distance-weighted window (RANGE frames cannot
    * weight by lag), each day EXPLODES its bounded 8-row contribution
    * list onto the target days it decays into — an 8× expansion of the
    * per-day aggregate, then one keyed agg. Scale posture: the
    * windowed input is the per-day aggregate (|days| rows, bounded by
    * the calendar), and even that never needs a single partition here —
    * the contribution agg is keyed on target day. Only days that have
    * revenue themselves are emitted (semi join back onto the day set).
    * Output: (day, ewma_scaled, ewma), ewma_scaled = Σ cents·2^(7−k).
    */
  def ewmaDailyRevenue(orders: DataFrame): DataFrame = {
    val horizon = 7
    val daily = Scope.hold(orders
      .select(to_date(col("o_orderdate")).as("d"),
        dec(col("o_totalprice")).as("p"))
      .groupBy("d").agg((sum(col("p")) * 100).cast("long").as("cents")))
    val contrib = daily
      .select(col("d"), col("cents"),
        explode(sequence(lit(0), lit(horizon))).as("k"))
      .select(date_add(col("d"), col("k")).as("td"),
        (col("cents") * expr(s"shiftleft(1L, $horizon - k)")).as("w"))
    contrib
      .join(daily.select(col("d").as("td")), Seq("td"), "left_semi")
      .groupBy("td").agg(sum(col("w")).as("ewma_scaled"))
      .select(col("td").cast("string").as("day"), col("ewma_scaled"),
        graft.functions.Fns.round2(
          col("ewma_scaled").cast("double") / 12800.0).as("ewma"))
  }

  /** Single-pass column profiler — the data-quality reconnaissance step
    * before promotion rules exist ([[dqAudit]] checks KNOWN contracts;
    * this measures the unknowns): per column, row/null/exact-distinct
    * counts and typed min/max rendered to one canonical string form
    * (integers and strings verbatim, doubles as floor(x·1e6 + 0.5)
    * micro-unit longs, timestamps as epoch-µs longs — every rendering
    * is engine-exact, no float formatting anywhere). One aggregation
    * pass computes all columns' stats (Spark plans the multi-DISTINCT
    * agg via a single Expand ×|cols| — one shuffle, vs |cols| separate
    * scans); the one-row result then unpivots via `stack` into a row
    * per column, so the output shape is |cols|, never N. NULL
    * semantics pinned: n_distinct and min/max ignore NULLs (SQL
    * aggregate semantics); an all-NULL column yields NULL min/max
    * strings. Output: (col_name, n_rows, n_null, n_distinct, min_str,
    * max_str).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(df.columns.contains),
      s"profile columns must exist: $cols")
    def render(c: Column, dt: org.apache.spark.sql.types.DataType)
    : Column = dt match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        // widen BEFORE the multiply: Int×Float stays FLOAT, which is
        // lossy above ~16 in micro-units and would diverge from a
        // double-precision oracle on float columns
        floor(c.cast("double") * 1000000 + lit(0.5))
          .cast("long").cast("string")
      case _: org.apache.spark.sql.types.TimestampType =>
        unix_micros(c).cast("string")
      // parquet NTZ timestamps (isAdjustedToUTC=false) load as NTZ; the
      // UTC session makes the cast to instant-typed timestamp lossless
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(c.cast("timestamp")).cast("string")
      case _ => c.cast("string")
    }
    val dts = cols.map(c => c -> df.schema(c).dataType).toMap
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      render(min(col(c)), dts(c)).as(s"mn_$c"),
      render(max(col(c)), dts(c)).as(s"mx_$c")))
    val stacked = cols
      .map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(s"stack(${cols.size}, $stacked) AS " +
        "(col_name, n_nonnull, n_distinct, min_str, max_str)"))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  /** Hourly event-rate anomaly flags: per (event_type, hour), the
    * z-score of that hour's count against the type's TRAILING
    * `trailingHours` baseline (RANGE frame on the epoch-hour int,
    * current hour excluded — the detector must not let the spike
    * inflate its own baseline; gaps shrink the frame, the
    * [[rollingDailyRevenue]] calendar-window argument). Determinism
    * with no decimal routing anywhere: the window aggregates are EXACT
    * integers (count, Σx, Σx² of integer counts), and every double is
    * a fixed chain of individually-correctly-rounded IEEE ops on them
    * — mean = Σx/n, var = (n·Σx² − (Σx)²)/(n·(n−1)), std = sqrt, z =
    * (x − mean)/std — so both engines replay it bit-for-bit; only the
    * final z is round2'd for output, and the anomaly flag tests the
    * ROUNDED z (boundary-stable). z is NULL (flag false) below
    * `minBaseline` hours of history or at zero variance. Scale shape:
    * one keyed groupBy to hourly counts (N rows in, |hours|·|types|
    * out), then windows over that aggregate — bounded by the calendar
    * × type domain, not by N. Output: (hour, event_type, n_events,
    * base_n, z, anomaly).
    */
  /** CUSUM change-point detection over the daily volume series — the
    * LEVEL-SHIFT detector next to [[rateAnomaly]]'s spike detector
    * (a gradual regime change never trips a z-score against its own
    * recent baseline; the cumulative deviation from the global mean
    * peaks AT the shift): per event_type, the day d maximizing
    * |Σ_{i≤d} c_i − rank_d · mean|. All arithmetic is INTEGER-exact —
    * the statistic is scaled by n_days (S*_d = n·Σ_{i≤d} c_i −
    * rank_d·total, an integer), so no double prefix sum ever
    * accumulates and both engines agree bit-for-bit; ties pin to the
    * earliest day. The windows run over the per-type DAY spine
    * (bounded cardinality), not the event table; the day aggregation
    * is one map-side-combined pass over the corpus.
    * Output: (event_type, cp_day, max_cusum, n_days) — max_cusum the
    * scaled integer statistic, one row per event_type. Overflow
    * bound: |S*| ≤ n_days·total, so a 10-year daily series stays
    * exact up to ~2.5e15 events per type — far past the BIGINT edge
    * any realistic log reaches. */
  def cusumChangepoint(events: DataFrame): DataFrame =
    cusumFromDaily(events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt")))

  /** The CUSUM solve over an already-aggregated (event_type, day, cnt)
    * table — the share point between the batch [[cusumChangepoint]]
    * and the streaming maintainer (daily counters are exact integer
    * sums over disjoint batches, so a maintained counter table feeds
    * the identical solve). */
  def cusumFromDaily(daily: DataFrame): DataFrame = {
    val ow = Window.partitionBy("event_type").orderBy(col("day").asc)
    val cum = ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.groupBy("event_type")
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_days"))
    val scored = daily.join(broadcast(tot), "event_type")
      .withColumn("rk", row_number().over(ow))
      .withColumn("csum", sum(col("cnt")).over(cum))
      .withColumn("s",
        abs(col("n_days") * col("csum") - col("rk") * col("total")))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("s").desc, col("day").asc)
    scored.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        col("s").as("max_cusum"), col("n_days"))
  }

  def rateAnomaly(events: DataFrame, trailingHours: Int = 24,
                  minBaseline: Int = 8,
                  zThreshold: Double = 3.0): DataFrame = {
    require(trailingHours >= 2 && minBaseline >= 2,
      s"need >= 2 baseline hours: $trailingHours/$minBaseline")
    val hourly = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("eh"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"))
      .groupBy("event_type", "eh", "hour")
      .agg(count(lit(1)).as("cnt"))
    val tw = Window.partitionBy("event_type").orderBy(col("eh").asc)
      .rangeBetween(-trailingHours.toLong, -1L)
    val withBase = hourly
      .withColumn("base_n", count(col("cnt")).over(tw))
      .withColumn("sx", coalesce(sum(col("cnt")).over(tw), lit(0L)))
      .withColumn("sxx",
        coalesce(sum(col("cnt") * col("cnt")).over(tw), lit(0L)))
    val varNum = col("base_n") * col("sxx") - col("sx") * col("sx")
    val z = graft.functions.Fns.round2(
      (col("cnt") - col("sx") / col("base_n")) /
        sqrt(varNum / (col("base_n") * (col("base_n") - 1))))
    withBase
      .select(col("hour"), col("event_type"), col("cnt").as("n_events"),
        col("base_n"),
        when(col("base_n") >= minBaseline && varNum > 0, z).as("z"))
      .withColumn("anomaly",
        coalesce(abs(col("z")) >= zThreshold, lit(false)))
  }

  /** Daily active / new / cumulative-distinct user curve — the growth
    * dashboard query whose naive form (COUNT(DISTINCT) over an
    * ever-expanding frame) is quadratic and not even expressible as a
    * window: a running distinct is NOT an associative aggregate. The
    * standard linear rewrite: a user's FIRST day (one user-keyed min),
    * new_users = count per first day, cumulative = prefix sum of
    * new_users over the day aggregate — so the running-distinct window
    * never exists and the windowed input is |days| rows (calendar-
    * bounded, the [[rollingDailyRevenue]] argument). active_users per
    * day is a plain keyed distinct count. Days with no new users
    * zero-fill via the left join. Output: (day, active_users,
    * new_users, cum_users).
    */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val daily = events.select(to_date(col("ts")).as("d"), col("user_id"))
    val active = daily.groupBy("d")
      .agg(countDistinct(col("user_id")).as("active_users"))
    val firstSeen = daily.groupBy("user_id").agg(min(col("d")).as("d"))
    val fresh = firstSeen.groupBy("d").agg(count(lit(1)).as("nu"))
    val cum = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    active.join(fresh, Seq("d"), "left")
      .select(col("d"), col("active_users"),
        coalesce(col("nu"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(cum))
      .select(col("d").cast("string").as("day"), col("active_users"),
        col("new_users"), col("cum_users"))
  }

  /** Type-2 slowly-changing-dimension build from an append-only change
    * feed: every change event becomes a VERSION row effective
    * [valid_from, valid_to), valid_to being the key's next change time
    * (NULL while current) — the warehouse-standard interval form that
    * [[latestEventState]]'s keep-latest compaction throws away. ONE
    * window (`lead` over each key's time-ordered history): the shuffle
    * is keyed by (user_id, event_type) and each partition's work is
    * that key's history — bounded by per-key activity, never corpus-
    * sized, the same skew posture as sessionize. Ties pinned by
    * (ts, event_id). Output: (user_id, event_type, valid_from,
    * valid_to, event_id, value, is_current).
    */
  def scd2Build(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("_nts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("_nts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("event_id"), col("value"),
        col("_nts").isNull.as("is_current"))
  }

  /** Incremental aggregate maintenance — the materialized-view update
    * step: fold a delta batch into a stored per-key aggregate state
    * without touching the history that produced the state. The batch
    * partial-aggregates FIRST (map-side combine; the only shuffle is
    * batch-keys-sized), then one keyed full-outer merge against the
    * state adds counts and DECIMAL-routed sums (invariant: double
    * addition is order-dependent; decimal is exact, so
    * state + delta == full recompute BIT-IDENTICALLY, which is the
    * gate: merged pre-cutoff state + post-cutoff batch must hash-match
    * the plain groupBy over the whole feed). At 100 TB the state is
    * |keys| rows and the recompute this replaces is corpus-sized —
    * this op IS the reason to keep aggregate state.
    * `state` is (user_id, n_events, sum_value) as produced by
    * [[aggState]]; output the same shape.
    */
  def mergeAggState(state: DataFrame, batch: DataFrame): DataFrame = {
    val delta = batch.groupBy("user_id")
      .agg(count(lit(1)).as("_dn"),
        sum(col("value").cast("decimal(18,6)")).as("_dsum"))
    state
      .join(delta, Seq("user_id"), "full")
      .select(col("user_id"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("_dn"),
          lit(0L))).as("n_events"),
        (coalesce(col("sum_value"), lit(0).cast("decimal(18,6)")) +
          coalesce(col("_dsum"), lit(0).cast("decimal(18,6)")))
          .cast("decimal(18,6)").as("sum_value"))
  }

  /** Per-key aggregate state in [[mergeAggState]]'s shape: (user_id,
    * n_events, sum_value DECIMAL(18,6)). */
  def aggState(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))

  /** Last-touch marketing attribution — for every purchase, the most
    * recent click/view by the same user within the horizon (default 7
    * days), or NULL columns when nothing qualifies. ONE window pass:
    * a per-user range frame on epoch-µs `[-horizon, -1]` (strictly
    * earlier, horizon-bounded — the deadline lives in the FRAME, not
    * a post-filter) takes `max(struct(ts, id, type))` over touch rows
    * only — the as-of argmax without a join, so the cost is a single
    * user-keyed sort whatever the touch fan-in. Ties (same µs) break
    * to the higher event_id, pinned by the twin's ORDER BY.
    * Output: (event_id, user_id, touch_id, touch_type, mins_before).
    */
  def lastTouchAttribution(events: DataFrame,
                           horizonDays: Int = 7): DataFrame = {
    val horizonUs = horizonDays * 86400000000L
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-horizonUs, -1)
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("att",
        max(when(col("event_type").isin("click", "view"),
          struct(col("us").as("tus"), col("event_id").as("tid"),
            col("event_type").as("tty")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("att.tid").as("touch_id"),
        col("att.tty").as("touch_type"),
        expr("(us - att.tus) div 60000000L").as("mins_before"))
  }

  /** Next-event Markov transition matrix — the first-order behavioral
    * model an event pipeline fits for journey analysis, anomaly
    * scoring ("this session's transitions are improbable"), and
    * simulation: per user, order events by (ts, event_id) (event_id
    * pins timestamp ties to a total order), pair each event with its
    * successor via lead(), and count (from, to) transitions; the row
    * probability is the count over the from-state's outgoing total.
    * The per-user window never sees more than one user's events; the
    * (from, to) aggregation is enum²-sized and map-side combined; the
    * totals join is a broadcast of the enum-sized from-state sums —
    * nothing scales past the one sort-per-user-partition shuffle.
    * Output: (event_type, next_type, n, p), p round2, last event per
    * user has no successor and contributes nothing. */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val pairs = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("event_type").agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("next_type"), col("n"),
        graft.functions.Fns.round2(col("n") / col("tot")).as("p"))
  }

  /** Per-user sequence ANOMALY score from the Markov model — the
    * consumer of [[markovTransitions]]: fit the transition matrix on
    * the whole log, then score every user by the mean negative
    * log10-probability of their own transitions ("how improbable is
    * this journey under the population model") — the
    * sequence-behavioral outlier signal next to [[spendOutliers]]'
    * value outliers. Log-probs sum through DECIMAL(20,12) (the
    * [[TextStats.lmScore]] invariant: double addition is
    * partition-order-dependent; a 1e-12 quantization absorbs last-ulp
    * libm divergence). The transition table is enum²-sized and
    * broadcast back onto the sequence — the only corpus-sized work is
    * the one per-user window the model fit already does.
    * Output: (user_id, n_transitions, avg_nll) — avg_nll round2, ≥ 0,
    * higher = more anomalous; single-event users emit nothing. */
  def markovScore(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    // two consumers: the model fit + the scoring join
    val seq0 = Scope.hold(events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select("user_id", "event_type", "next_type"))
    val model = seq0.groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val totals = model.groupBy("event_type").agg(sum(col("n")).as("tot"))
    val probs = model.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("next_type"),
        (col("n") / col("tot")).as("pp"))
    seq0.join(broadcast(probs), Seq("event_type", "next_type"))
      .select(col("user_id"),
        log10(col("pp")).cast("decimal(20,12)").as("lp"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_transitions"),
        graft.functions.Fns.round2(
          -sum(col("lp")).cast("double") / count(lit(1))).as("avg_nll"))
  }

  // ---- Count-min sketch artifact -----------------------------------

  /** Count-min sketch geometry. Depth 4 × width 1024 bounds the
    * artifact at 4096 counter rows regardless of key cardinality —
    * the point-lookup sibling of the HLL artifact (HLL answers "how
    * many distinct", CMS answers "how often does THIS key occur"
    * without storing per-key state). */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** CMS bucket of `key` under hash row `d` — a 60-bit md5 slice of
    * the salted rendering, mod width. md5 (invariant: the one
    * cross-engine-stable hash) makes every estimate EXACTLY
    * replayable by the oracle, so the gate hash-matches the estimates
    * themselves rather than falling back to a contract band. */
  private def cmsBucket(key: Column, d: Column): Column =
    (conv(substring(md5(concat_ws("#", key, d)), 1, 15), 16, 10)
      .cast("long") % CmsWidth).as("b")

  /** Build the SPARSE count-min sketch of per-key row counts: one
    * (d, b, cnt) row per TOUCHED counter, never the dense d×w grid.
    * One hash aggregate over 4N map-side-combined rows collapsing to
    * ≤ 4·width rows per partition before the exchange — at 100 TB the
    * sketch build is a single scan with KB-sized reducer output. */
  def cmsBuild(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("k"))
      .withColumn("d",
        explode(lit((0 until CmsDepth).map(_.toString).toArray)))
      .groupBy(col("d"), cmsBucket(col("k"), col("d")))
      .agg(count(lit(1)).as("cnt"))

  /** Persist the sketch as a parquet artifact (≤ depth·width rows). */
  def cmsArtifactWrite(df: DataFrame, keyCol: String, dir: String): Unit =
    cmsBuild(df, keyCol).write.mode("overwrite").parquet(dir)

  /** Merge a DELTA's sketch into the STORED artifact — counters sum
    * linearly, so merged(pre) + delta ≡ a from-scratch sketch of the
    * union, at delta cost (history is never re-scanned). */
  def cmsArtifactMerge(delta: DataFrame, keyCol: String,
                       dir: String): DataFrame = {
    val stored = delta.sparkSession.read.parquet(dir)
    stored.unionByName(cmsBuild(delta, keyCol))
      .groupBy("d", "b").agg(sum("cnt").as("cnt"))
  }

  /** Point-estimate each probe key against the sketch: min over the
    * depth rows of its counters (the CMS guarantee: est ≥ true count,
    * overcount bounded by collisions). The sketch side is ≤ 4096 rows
    * → broadcast; the probe side never shuffles. The sketch is SPARSE
    * (untouched counters are absent rows), so the join is a LEFT join
    * with absent counters coalesced to 0 — a probe key never seen by
    * the sketched data correctly estimates 0 instead of silently
    * emitting no row (ADVICE r9). */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame): DataFrame =
    probes
      .withColumn("d",
        explode(lit((0 until CmsDepth).map(_.toString).toArray)))
      .withColumn("b", cmsBucket(col("k"), col("d")))
      .join(broadcast(sketch), Seq("d", "b"), "left")
      .groupBy("k", "n_exact")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  // ---- Equi-width histogram artifact -------------------------------

  /** Histogram geometry: 128 buckets of width 8.0 (width a power of
    * two, so `value / 8.0` only shifts the exponent — the floor is
    * the same IEEE double in every engine), last bucket absorbs the
    * overflow tail. */
  val HistWidth = 8.0
  val HistBuckets = 128

  private def histBucket(v: Column): Column =
    least(floor(v / HistWidth).cast("long"), lit(HistBuckets - 1L))

  /** Sparse per-type equi-width histogram of `value` — ≤ types×128
    * counter rows whatever the data volume; one map-side-combined
    * keyed aggregation. The third mergeable-sketch artifact (HLL =
    * distinct, CMS = point frequency, histogram = DISTRIBUTION):
    * counts sum linearly, so delta merges are exact. */
  def histBuild(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        histBucket(col("value")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Persist the histogram as a parquet artifact. */
  def histArtifactWrite(events: DataFrame, dir: String): Unit =
    histBuild(events).write.mode("overwrite").parquet(dir)

  /** Sum a delta's histogram into the STORED artifact — merged ≡
    * from-scratch over the union, at delta cost. */
  def histArtifactMerge(delta: DataFrame, dir: String): DataFrame =
    delta.sparkSession.read.parquet(dir)
      .unionByName(histBuild(delta))
      .groupBy("event_type", "bucket").agg(sum("cnt").as("cnt"))

  /** Quantile estimates OFF the histogram: for each p, the smallest
    * bucket whose running count reaches ⌈p·total⌉ (the comparison is
    * the exact integer cross-multiplication `cum·den ≥ total·num` —
    * no float rank arithmetic), estimate = that bucket's upper edge.
    * Error is bounded by the bucket width by construction; every
    * emitted value is exact, so the oracle hash-matches the estimates
    * themselves (the CMS argument applied to distributions). The
    * cumulative window runs over ≤ 128 rows per type — bounded by the
    * GEOMETRY, not the data. Output: (event_type, p, bucket,
    * est_upper). */
  def histQuantiles(hist: DataFrame): DataFrame = {
    val t = hist.groupBy("event_type").agg(sum("cnt").as("total"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val ps = explode(array(
      struct(lit(0.5).as("p"), lit(1L).as("num"), lit(2L).as("den")),
      struct(lit(0.9).as("p"), lit(9L).as("num"), lit(10L).as("den")),
      struct(lit(0.99).as("p"), lit(99L).as("num"),
        lit(100L).as("den"))))
    hist.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(t), "event_type")
      .select(col("event_type"), col("bucket"), col("cum"),
        col("total"), ps.as("ps"))
      .filter(col("cum") * col("ps.den") >= col("total") * col("ps.num"))
      .groupBy(col("event_type"), col("ps.p").as("p"))
      .agg(min("bucket").as("bucket"))
      .withColumn("est_upper",
        ((col("bucket") + 1) * HistWidth).cast("double"))
  }

  /** The artifact cycle under one gate: write the pre-cutoff
    * histogram, merge the post-cutoff delta against the RE-READ
    * parquet (old events never scanned), estimate quantiles off the
    * merged state — equal to a full-history build by count linearity,
    * which is exactly what the oracle replays. */
  def histArtifactAudit(events: DataFrame, dir: String,
                        cutoffMicros: Long = 1706616000000000L)
      : DataFrame = {
    histArtifactWrite(
      events.filter(expr(s"unix_micros(ts) < ${cutoffMicros}L")), dir)
    histQuantiles(histArtifactMerge(
      events.filter(expr(s"unix_micros(ts) >= ${cutoffMicros}L")), dir))
  }

  /** Heavy-hitter audit off the artifact: write the pre-cutoff
    * sketch, merge the post-cutoff delta against the RE-READ parquet,
    * then estimate the top-20 users (by exact full-history count) and
    * report estimate vs exact. Because counters sum linearly and the
    * buckets are md5-derived, the estimates are deterministic and
    * equal to a full-data sketch — the oracle replays them exactly.
    * Output: (user_id, n_exact, est, overcount). */
  def cmsArtifactAudit(events: DataFrame, dir: String,
                       cutoffMicros: Long = 1706616000000000L,
                       topK: Int = 20): DataFrame = {
    cmsArtifactWrite(
      events.filter(expr(s"unix_micros(ts) < ${cutoffMicros}L")),
      "user_id", dir)
    val merged = cmsArtifactMerge(
      events.filter(expr(s"unix_micros(ts) >= ${cutoffMicros}L")),
      "user_id", dir)
    val probes = events
      .groupBy(col("user_id").cast("string").as("k"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("k"))
      .limit(topK)
    cmsEstimate(merged, probes)
      .select(col("k").as("user_id"), col("n_exact"), col("est"),
        (col("est") - col("n_exact")).as("overcount"))
  }
}
