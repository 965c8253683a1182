package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import core._

/** Window functions (SURVEY §2.5). Every window order includes a
  * unique tiebreaker (event_id / orderkey / partkey) so that ranks,
  * ntiles and frames are identical across engines (SURVEY §5.3).
  */
object Windows extends Family {

  /** Per-customer order sequence by date. */
  def qWinRownumber(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .withColumn("rn", row_number().over(w))
      .orderBy($"o_custkey", $"rn")
  }

  /** rank / dense_rank with real ties (p_size within brand). */
  def qWinRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_size")
    t(s, dir, "part")
      .select($"p_brand", $"p_partkey", $"p_size")
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .orderBy($"p_brand", $"p_size", $"p_partkey")
  }

  /** Quartiles of customers by account balance — executes the
    * distributed [[ntileRangePartitioned]] path. (The r2 registered
    * form ran the whole table through ONE unpartitioned-window task;
    * the output is pinned row-identical to global `ntile(4)` by
    * WindowAggSpec, so the oracle stays the plain window
    * formulation.)
    */
  def qWinNtile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer")
      .select($"c_custkey", cents($"c_acctbal").as("acctbal_c"))
    ntileRangePartitioned(cust, 4, 32, $"acctbal_c", $"c_custkey")
      .withColumnRenamed("ntile", "quartile")
      .orderBy($"c_custkey")
  }

  /** Distributed ntile with EXACT `ntile(k)` semantics and no
    * single-task global window. `ord.head` must be a non-null numeric
    * ranking column (long-castable); the rest are tiebreakers.
    *
    * Strategy: deterministic order-aligned bucketing — the bucket id
    * is a pure monotone function of the ranking value, linear between
    * the global min/max (one 2-long driver fetch), so every execution
    * assigns identical buckets. (r2 used `repartitionByRange`, whose
    * sampled boundaries are seeded from the per-execution RDD id and
    * had to be pinned with a `persist()` the caller then leaked —
    * ADVICE r2. Determinism by construction removes the cache
    * entirely.) Rows then rank within each bucket in parallel, add
    * broadcast per-bucket offsets (one long per bucket, same class as
    * AQE stats), and apply ntile's remainder rule (first total%k
    * buckets get one extra row) as an expression. Value-skewed data
    * skews bucket SIZES (the price of determinism over sampling);
    * the ntile output is exact regardless because offsets are exact.
    * Ties stay inside one bucket by construction (same value ⇒ same
    * bucket), so tiebreaker ordering never crosses buckets.
    */
  def ntileRangePartitioned(df: DataFrame, k: Int, numParts: Int,
      ord: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val v = ord.head
    val bounds = df.agg(min(v).cast("long"), max(v).cast("long")).head()
    if (bounds.isNullAt(0))                        // empty input
      return df.withColumn("ntile", lit(0).cast("int")).limit(0)
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    // double math: monotone in v (mult/div by positive constants
    // round monotonically), overflow-safe for any long span
    val span = math.max(1.0, (mx - mn).toDouble + 1.0)
    val parted = df.withColumn("_pid",
      least(lit(numParts - 1),
        floor((v.cast("long") - mn).cast("double") * numParts / span))
        .cast("int"))
    val counts = parted.groupBy($"_pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val offsets = (0 until numParts).map { p =>
      (p, (0 until p).map(q => counts.getOrElse(q, 0L)).sum)
    }
    val offsetsDf = s.createDataFrame(offsets).toDF("_pid", "_off")
    val base = total / k
    val rem = total % k
    val cut = rem * (base + 1)
    val safeBase = math.max(base, 1L)
    val w = Window.partitionBy($"_pid").orderBy(ord: _*)
    parted
      .withColumn("_rn", row_number().over(w).cast("long"))
      .join(broadcast(offsetsDf), "_pid")
      .withColumn("_rank", $"_off" + $"_rn")
      // SQL DIV: Column./ is double division — exact integer floor
      // division keeps ranks safe beyond 2^53
      .withColumn("ntile", expr(
        s"""CAST(CASE WHEN _rank <= $cut
           |  THEN (_rank - 1) DIV ${base + 1} + 1
           |  ELSE $rem + (_rank - 1 - $cut) DIV $safeBase + 1
           |END AS INT)""".stripMargin))
      .drop("_pid", "_rn", "_off", "_rank")
  }

  /** Inter-event gap per user via lag; next event id via lead. */
  def qWinLagLead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    t(s, dir, "events")
      .select($"user_id", $"event_id", $"ts")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("gap_sec", unix_timestamp($"ts") - unix_timestamp($"prev_ts"))
      .withColumn("next_id", lead($"event_id", 1).over(w))
      .select($"user_id", $"event_id", $"gap_sec", $"next_id")
      .orderBy($"event_id")
  }

  /** Running revenue per customer (rows unbounded preceding). */
  /** SCD type-2 history build: turn each user's purchase change-log
    * into validity intervals — `valid_from` = the event's timestamp,
    * `valid_to` = the NEXT purchase's timestamp (NULL while current),
    * `is_current` on the open row. The slowly-changing-dimension
    * pattern every warehouse load runs; distinct from q_win_lag_lead
    * (which exercises the functions — this is the semantic shape,
    * interval construction + current-row flag).
    *
    * Determinism: (ts, event_id) is a total order per user (unique
    * event_id breaks timestamp ties identically in both engines).
    * Scale shape: ONE window shuffle keyed by user_id — millions of
    * small partitions, the shape that scales linearly with users.
    */
  def qScd2Intervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    core.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", core.cents($"value").as("value_c"))
      .withColumn("seq", row_number().over(w))
      .withColumn("valid_to", lead($"ts", 1).over(w))
      .select($"user_id", $"seq", $"value_c",
        $"ts".as("valid_from"), $"valid_to",
        $"valid_to".isNull.as("is_current"))
      .orderBy($"user_id", $"seq")
  }

  def qWinRunsum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        cents($"o_totalprice").as("total_c"))
      .withColumn("run_total_c", sum($"total_c").over(w))
      .select($"o_custkey", $"o_orderkey", $"total_c", $"run_total_c")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** 3-row moving average of event value per user. */
  def qWinMoving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-2, Window.currentRow)
    t(s, dir, "events")
      .select($"user_id", $"event_id", $"ts", cents($"value").as("value_c"))
      .withColumn("mov_sum_c", sum($"value_c").over(w))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_avg", r6($"mov_sum_c" / 100.0 / $"mov_n"))
      .select($"user_id", $"event_id", $"mov_avg")
      .orderBy($"event_id")
  }

  /** Value-range frame: sum of orders within ±1000.00 of the current
    * order's totalprice, within (status, order month). The composite
    * partition key keeps every window partition bounded as data grows
    * — r2 partitioned by o_orderstatus alone, so 3 tasks carried the
    * whole table at any scale. Range frames need a numeric order key
    * in both engines — hence cents.
    */
  def qWinRangeframe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // O(n·frame) → O(n) (round 12): Spark evaluates a TWO-SIDED
    // sliding RANGE frame by re-aggregating the whole in-frame buffer
    // for every row (no aggregate retraction), which the 100x gate
    // measured at 2357 s — dense prices put thousands of rows inside
    // ±$1000, so the cost is quadratic in value density. The same
    // frame as the difference of two UNBOUNDED-PRECEDING cumulative
    // frames is incremental (one add per row, O(n) per partition) and
    // EXACT in integer cents: Σ[v−C, v+C] = Σ(≤ v+C) − Σ(≤ v−C−1).
    // Identical values, one Window node (same partition+order), same
    // single sort — only the frame evaluation strategy changes.
    val base = Window.partitionBy($"o_orderstatus", $"o_month")
      .orderBy($"total_c")
    val hi = base.rangeBetween(Window.unboundedPreceding, 100000L)
    val lo = base.rangeBetween(Window.unboundedPreceding, -100001L)
    t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        date_format($"o_orderdate", "yyyy-MM").as("o_month"),
        cents($"o_totalprice").as("total_c"))
      .withColumn("sum_near_c",
        sum($"total_c").over(hi) -
          coalesce(sum($"total_c").over(lo), lit(0L)))
      .withColumn("n_near",
        count(lit(1)).over(hi) - count(lit(1)).over(lo))
      .orderBy($"o_orderkey")
  }

  /** first/last over an explicit full-partition frame. */
  def qWinFirstlast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"price_c", $"p_partkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "part")
      .select($"p_brand", $"p_partkey", cents($"p_retailprice").as("price_c"))
      .withColumn("cheapest_key", first($"p_partkey").over(w))
      .withColumn("priciest_key", last($"p_partkey").over(w))
      .orderBy($"p_partkey")
  }

  /** Distribution analytics: cume_dist / percent_rank (exact count
    * ratios — identical doubles in both engines) and nth_value over
    * the explicit full-partition frame.
    */
  def qWinDistribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"price_c", $"p_partkey")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "part")
      .select($"p_brand", $"p_partkey", cents($"p_retailprice").as("price_c"))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("second_cheapest", nth_value($"p_partkey", 2).over(wf))
      .orderBy($"p_partkey")
  }

  /** Top-3 orders per customer by totalprice (row_number + filter). */
  def qWinTopkGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"total_c".desc, $"o_orderkey".asc)
    t(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", cents($"o_totalprice").as("total_c"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .orderBy($"o_custkey", $"rn")
  }

  /** Batch sessionization: a gap of strictly more than 30 min starts
    * a new session (matching the streaming session-window boundary
    * pinned in StreamingSpec), sessions numbered per user by a
    * running sum over boundary flags, then per-session stats. The
    * batch twin of `q_stream_session`: ONE shuffle on user_id serves
    * the lag, the numbering and (via partial aggregation) the
    * session rollup.
    */
  def qWinSessionize(s: SparkSession, dir: String): DataFrame =
    sessionize(t(s, dir, "events"))

  /** Core of [[qWinSessionize]] over any (user_id, event_id, ts)
    * frame — split out so the spec can pin the exact-30-min boundary
    * on a synthetic fixture.
    */
  private[graft] def sessionize(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"event_id", $"ts")
      // microsecond gap, not unix_timestamp (whole-second truncation
      // would merge a 1800.8 s gap the streaming session splits)
      .withColumn("gap",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byUser)))
      .withColumn("new_sess",
        when($"gap".isNull || $"gap" > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"new_sess")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp($"ts")).as("start_sec"),
        max(unix_timestamp($"ts")).as("end_sec"))
      .withColumn("dur_sec", $"end_sec" - $"start_sec")
      .orderBy($"user_id", $"session_seq")
  }

  /** Forward-fill imputation: value = 0.00 is treated as a dropped
    * reading (the sf0.1 fixture really contains such rows — the ln(0)
    * trap), nulled, then filled from the most recent non-null reading
    * per user via `last(…, ignoreNulls)` over a running frame —
    * never-seen users keep −1. The standard time-series gap-fill; at
    * scale it's one user-keyed shuffle like every other per-user
    * window here.
    */
  def qWinGapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select($"user_id", $"event_id", $"ts", cents($"value").as("v_c"))
      .withColumn("v_null",
        when($"v_c" === 0L, lit(null).cast("long")).otherwise($"v_c"))
      .withColumn("v_filled",
        coalesce(last($"v_null", ignoreNulls = true).over(w), lit(-1L)))
      .select($"user_id", $"event_id", $"v_c", $"v_filled")
      .orderBy($"user_id", $"event_id")
  }

  /** Longest same-event-type streak per user — the gaps-and-islands
    * pattern in its second form (change-detection islands, vs
    * [[qWinSessionize]]'s time-gap islands): island id = global row
    * number − per-type row number (both over the user's (ts,
    * event_id) order), then the longest island wins with a
    * deterministic (length desc, first event_id asc) tiebreak.
    *
    * Scale shape: two window functions over the SAME user-keyed sort
    * (one shuffle + one sort, second window reuses the partitioning),
    * then two combinable aggregations.
    */
  def qWinStreak(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wAll = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wTyp = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val islands = t(s, dir, "events")
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("grp",
        row_number().over(wAll) - row_number().over(wTyp))
      .groupBy($"user_id", $"event_type", $"grp")
      .agg(count(lit(1)).as("len"), min($"event_id").as("first_id"))
    val pick = Window.partitionBy($"user_id")
      .orderBy($"len".desc, $"first_id".asc)
    islands.withColumn("rn", row_number().over(pick))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("streak_type"),
        $"len".as("streak_len"), $"first_id")
      .orderBy($"user_id")
  }

  val keys: Seq[Key] = Seq(
    Key("q_scd2_intervals", qScd2Intervals,
      """SELECT user_id, CAST(seq AS INTEGER) AS seq, value_c,
        |  valid_from, valid_to, (valid_to IS NULL) AS is_current
        |FROM (
        |  SELECT user_id, ts AS valid_from, event_id,
        |    CAST(round(value*100) AS BIGINT) AS value_c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS seq,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_type = 'purchase')
        |ORDER BY user_id, seq""".stripMargin),

    Key("q_win_streak", qWinStreak,
      """WITH numbered AS (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    - row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts, event_id) AS grp
        |  FROM events),
        |islands AS (
        |  SELECT user_id, event_type, grp, count(*) AS len,
        |    min(event_id) AS first_id
        |  FROM numbered GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY len DESC, first_id ASC) AS rn
        |  FROM islands)
        |SELECT user_id, event_type AS streak_type, len AS streak_len,
        |  first_id
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin),

    Key("q_win_gap_fill", qWinGapFill,
      """SELECT user_id, event_id,
        |  CAST(round(value*100) AS BIGINT) AS v_c,
        |  coalesce(
        |    last_value(nullif(CAST(round(value*100) AS BIGINT), 0)
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    -1) AS v_filled
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    Key("q_win_sessionize", qWinSessionize,
      """WITH l AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(date_diff('microseconds',
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |      ts) AS BIGINT) AS gap
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END
        |      AS new_sess
        |  FROM l),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM f)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  CAST(min(date_diff('second', TIMESTAMP '1970-01-01', ts))
        |    AS BIGINT) AS start_sec,
        |  CAST(max(date_diff('second', TIMESTAMP '1970-01-01', ts))
        |    AS BIGINT) AS end_sec,
        |  CAST(max(date_diff('second', TIMESTAMP '1970-01-01', ts))
        |    - min(date_diff('second', TIMESTAMP '1970-01-01', ts))
        |    AS BIGINT) AS dur_sec
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin),

    Key("q_win_rownumber", qWinRownumber,
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders ORDER BY o_custkey, rn""".stripMargin),

    Key("q_win_rank", qWinRank,
      """SELECT p_brand, p_partkey, p_size,
        |  rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS rnk,
        |  dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS drnk
        |FROM part ORDER BY p_brand, p_size, p_partkey""".stripMargin),

    Key("q_win_ntile", qWinNtile,
      """SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_c,
        |  ntile(4) OVER (ORDER BY CAST(round(c_acctbal*100) AS BIGINT),
        |                 c_custkey) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Key("q_win_lag_lead", qWinLagLead,
      """SELECT user_id, event_id,
        |  CAST(date_diff('second',
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |    ts) AS BIGINT) AS gap_sec,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS next_id
        |FROM events ORDER BY event_id""".stripMargin),

    Key("q_win_runsum", qWinRunsum,
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS run_total_c
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    Key("q_win_moving", qWinMoving,
      """SELECT user_id, event_id,
        |  round(CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
        |    / 100.0 / count(*) OVER w, 6) AS mov_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    Key("q_win_rangeframe", qWinRangeframe,
      """SELECT o_orderkey, o_orderstatus,
        |  strftime(o_orderdate, '%Y-%m') AS o_month,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS BIGINT)
        |    AS sum_near_c,
        |  count(*) OVER w AS n_near
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus, strftime(o_orderdate, '%Y-%m')
        |  ORDER BY CAST(round(o_totalprice*100) AS BIGINT)
        |  RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin),

    Key("q_win_firstlast", qWinFirstlast,
      """SELECT p_brand, p_partkey,
        |  CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
        |  first_value(p_partkey) OVER w AS cheapest_key,
        |  last_value(p_partkey) OVER w AS priciest_key
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand
        |  ORDER BY CAST(round(p_retailprice*100) AS BIGINT), p_partkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY p_partkey""".stripMargin),

    Key("q_win_distribution", qWinDistribution,
      """SELECT p_brand, p_partkey,
        |  CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
        |  cume_dist() OVER w AS cd,
        |  percent_rank() OVER w AS pr,
        |  nth_value(p_partkey, 2) OVER (PARTITION BY p_brand
        |    ORDER BY CAST(round(p_retailprice*100) AS BIGINT), p_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_cheapest
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand
        |  ORDER BY CAST(round(p_retailprice*100) AS BIGINT), p_partkey)
        |ORDER BY p_partkey""".stripMargin),

    Key("q_win_topk_group", qWinTopkGroup,
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC,
        |    o_orderkey ASC) AS rn
        |FROM orders
        |QUALIFY rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)
  )
}
