package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import core._

/** Advanced aggregation surface (SURVEY §2.4 remainder): grouping
  * analytics (rollup / cube / grouping sets), statistical aggregates,
  * ordered collect, exact percentiles, and the approximate sketches
  * (HLL distinct, approximate quantile — unit-test-only, no oracle).
  */
object Aggregates extends Family {

  /** NULL grouping keys from rollup/cube replaced by a sentinel so the
    * cross-engine sort order is stable (SURVEY §7.3 hard part 6).
    */
  private val All = "<all>"

  def qAggRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus", cents($"l_quantity").as("qty_c"))
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"qty_c").as("sum_qty_c"),
        grouping_id().as("gid"))
      .select(
        coalesce($"l_returnflag", lit(All)).as("flag_s"),
        coalesce($"l_linestatus", lit(All)).as("status_s"),
        $"gid", $"n", $"sum_qty_c")
      .orderBy($"gid", $"flag_s", $"status_s")
  }

  def qAggCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus", cents($"l_quantity").as("qty_c"))
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"qty_c").as("sum_qty_c"),
        grouping_id().as("gid"))
      .select(
        coalesce($"l_returnflag", lit(All)).as("flag_s"),
        coalesce($"l_linestatus", lit(All)).as("status_s"),
        $"gid", $"n", $"sum_qty_c")
      .orderBy($"gid", $"flag_s", $"status_s")
  }

  /** Explicit GROUPING SETS ((a,b),(a),()) via the SQL front end. */
  def qAggGroupingsets(s: SparkSession, dir: String): DataFrame = {
    // dir-tagged view name: concurrent invocations on different
    // fixture dirs must not clobber each other (Relational.scala:106)
    val tag = (dir.hashCode & 0x7fffffff).toHexString
    t(s, dir, "lineitem").createOrReplaceTempView(s"gs_lineitem_$tag")
    s.sql(s"""
      SELECT coalesce(l_returnflag, '$All') AS flag_s,
             coalesce(l_linestatus, '$All') AS status_s,
             grouping_id(l_returnflag, l_linestatus) AS gid,
             count(1) AS n,
             sum(CAST(round(l_quantity*100) AS BIGINT)) AS sum_qty_c
      FROM gs_lineitem_$tag
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, flag_s, status_s""")
  }

  /** Statistical aggregates from exact integer sums: variance, stddev,
    * covariance and correlation are derived from bit-exact Σx, Σx²,
    * Σxy (DecimalType — no overflow, no float summation order), with
    * one identical final double expression in both engines. This keeps
    * the values deterministic where naive stddev() over doubles is not
    * (SURVEY §5.3 float rule).
    */
  def qAggStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val agg = t(s, dir, "lineitem")
      .select($"l_returnflag",
        cents($"l_quantity").as("x"), cents($"l_extendedprice").as("y"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum($"x".cast(dec)).cast("double").as("sx"),
        sum($"y".cast(dec)).cast("double").as("sy"),
        sum(($"x" * $"x").cast(dec)).cast("double").as("sxx"),
        sum(($"y".cast(dec) * $"y".cast(dec))).cast("double").as("syy"),
        sum(($"x".cast(dec) * $"y".cast(dec))).cast("double").as("sxy"))
    // degenerate-group guards (mirrored as CASE WHEN in the oracle):
    // n = 1 makes the sample terms 0/0 — Spark IEEE NaN vs DuckDB
    // x/0.0 = NULL; a tiny-negative m2 residue (possible once the
    // double products round independently past 2^53) would make
    // DuckDB sqrt() ABORT while Spark returns NaN. Both engines
    // compare the identical doubles, so the guards fire identically
    // and the degenerate answer is NULL on both sides.
    agg
      .withColumn("m2x", $"n" * $"sxx" - $"sx" * $"sx")
      .withColumn("m2y", $"n" * $"syy" - $"sy" * $"sy")
      .withColumn("mxy", $"n" * $"sxy" - $"sx" * $"sy")
      .select($"l_returnflag",
        when($"n" > 1 && $"m2x" >= 0,
          r4(sqrt($"m2x" / ($"n" * ($"n" - 1))) / 100.0))
          .as("stddev_samp_qty"),
        when($"m2x" >= 0, r4(sqrt($"m2x") / $"n" / 100.0))
          .as("stddev_pop_qty"),
        when($"n" > 1, r4(($"m2x" / ($"n" * ($"n" - 1))) / 10000.0))
          .as("var_samp_qty"),
        when($"n" > 1, r4(($"mxy" / ($"n" * ($"n" - 1))) / 10000.0))
          .as("covar_samp"),
        when($"m2x" > 0 && $"m2y" > 0,
          r6($"mxy" / (sqrt($"m2x") * sqrt($"m2y")))).as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** Per-group ordered collect, flattened to CSV so the output is a
    * scalar column (nested parquet layouts differ across writers).
    */
  def qAggCollect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(array_join(sort_array(collect_list($"o_orderpriority")), ",")
        .as("prios_csv"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_custkey")
  }

  /** Exact interpolated percentiles per event type. */
  def qAggPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type", cents($"value").as("value_c"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        r4(expr("percentile(value_c, 0.5)") / 100.0).as("p50"),
        r4(expr("percentile(value_c, 0.9)") / 100.0).as("p90"))
      .orderBy($"event_type")
  }

  /** Fixed-width histogram of order totals (10 × $50k buckets,
    * clamped) — the group-by-computed-key pattern at its simplest.
    */
  def qAggHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select(cents($"o_totalprice").as("total_c"))
      .withColumn("bucket",
        least(floor($"total_c" / 5000000L), lit(9L)).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"total_c").as("lo_c"),
        max($"total_c").as("hi_c"))
      .orderBy($"bucket")
  }

  /** ANSI-safe arithmetic: try_divide yields NULL instead of erroring
    * on division by zero (l_discount is genuinely 0 on many rows).
    */
  def qAggTryArith(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_pct"))
      .withColumn("price_per_disc",
        expr("try_divide(price_c, disc_pct)"))
      .withColumn("is_div0", $"price_per_disc".isNull)
      .select($"l_orderkey", $"l_linenumber",
        r6($"price_per_disc").as("price_per_disc"), $"is_div0")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Arg-max/arg-min per group, made deterministic by folding the
    * unique orderkey into the comparison value (`max_by`/`arg_max`
    * pick an arbitrary row on ties otherwise — banned by §5.3).
    * total_c < 2^27 cents, so total_c·2^31 + orderkey fits a long.
    */
  def qAggArgmax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderstatus", $"o_orderkey", cents($"o_totalprice").as("total_c"))
      .withColumn("ord", $"total_c" * 2147483648L + $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(
        expr("max_by(o_orderkey, ord)").as("priciest_key"),
        expr("min_by(o_orderkey, ord)").as("cheapest_key"),
        max($"total_c").as("max_total_c"),
        min($"total_c").as("min_total_c"))
      .orderBy($"o_orderstatus")
  }

  /** Exact distinct counting via bitmap aggregation (Spark 4 bitmap
    * fns): each key maps to (bucket, bit position); per-bucket
    * bitmaps OR-merge associatively — map-side combinable with
    * FIXED-SIZE partial state, unlike countDistinct whose partials
    * carry the key sets. The roaring-bitmap shape engines use for
    * distinct at scale. Oracle: plain count(DISTINCT) — same values.
    */
  def qAggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        expr("bitmap_bucket_number(user_id)").as("bkt"),
        expr("bitmap_bit_position(user_id)").as("pos"))
      .groupBy($"event_type", $"bkt")
      .agg(expr("bitmap_count(bitmap_construct_agg(pos))").as("bucket_n"),
        count(lit(1)).as("bucket_rows"))
      .groupBy($"event_type")
      .agg(sum($"bucket_n").as("n_users"),
        sum($"bucket_rows").as("n_events"))
      .orderBy($"event_type")
  }

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity metric quality pipelines gate on. Each
    * −p·ln(p) term is rounded to fixed-point DECIMAL BEFORE the sum,
    * so the aggregation ORDER cannot perturb the result (float sums
    * are order-dependent; decimal sums are exact) — the §5.3 rule the
    * whole repo follows for money, applied to information.
    *
    * Known libm assumption (ADVICE r2): the 12-decimal pre-round
    * presumes JVM `Math.log` and DuckDB `ln` agree to well under
    * 5e-13 on the small-rational inputs c/n — true for any
    * correctly-rounded libm (both claim ≤1 ulp ≈ 2e-16 here) and
    * verified green at sf0.001/0.01/0.1, but not guaranteed by
    * integer construction like the cents keys. If a future oracle
    * host's libm drifts onto a 12th-digit midpoint, re-derive the
    * term from exact integers (c, n) in both engines instead.
    *
    * Output (r7): the DECIMAL(38,12) sum is emitted as a plain
    * `CAST(… AS DOUBLE)`, never re-rounded — the q_embed_pq rule.
    * The cast is bit-identical across engines BECAUSE the unscaled
    * value fits 2^53: H ≤ ln(k) ≤ ~4, so |sum|·10^12 < 9.0e15 at any
    * scale (entropy is bounded by type cardinality, not row count),
    * making DuckDB's hugeint→double step exact and its ÷10^12 a
    * single correctly-rounded operation, equal to Spark's
    * correctly-rounded BigDecimal cast.
    */
  /** Gini concentration coefficient of event value per type — the
    * inequality statistic behind "is this source/segment dominated by
    * a few heavy rows" curation audits. Sample Gini from the ranked
    * form G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx), ranks by (value,
    * event_id): tied values may permute within their block but
    * Σ i·xᵢ is invariant under that permutation (equal x), so the
    * statistic is deterministic without a rounded-rank rule. All
    * sums are exact integers in DECIMAL(38,0) ↔ HUGEINT (cents ×
    * rank ≤ 5.6e4·2e4 per term — far inside headroom); ONE double
    * division before r6 (the corr rule).
    *
    * Scale shape: one window rank over the (type)-keyed sort + one
    * combinable aggregation on the same keys — the OHLC exchange-
    * reuse shape. (type, day) composite keying applies at 100 TB if
    * a type's partition outgrows a task, at the cost of per-day
    * instead of global coefficients.
    */
  def qAggGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy($"x".asc, $"event_id".asc)
    t(s, dir, "events")
      .select($"event_type", $"event_id", cents($"value").as("x"))
      .withColumn("i", row_number().over(w))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast("decimal(38,0)")).as("sx"),
        sum(($"i".cast("decimal(38,0)") * $"x")).as("six"))
      .select($"event_type", $"n",
        $"sx".cast("long").as("sum_c"),
        r6(when($"sx" === lit(0).cast("decimal(38,0)"), lit(0.0))
          .otherwise(
            (lit(2) * $"six" - ($"n".cast("decimal(38,0)") + 1) * $"sx")
              .cast("double") /
              ($"n".cast("decimal(38,0)") * $"sx").cast("double")))
          .as("gini"))
      .orderBy($"event_type")
  }

  def qAggEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = t(s, dir, "events")
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy($"user_id").agg(sum($"c").as("n"))
    counts.join(totals, "user_id")
      .withColumn("term", expr(
        "CAST(round(-(c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)), 12) AS DECIMAL(28, 12))"))
      .groupBy($"user_id")
      .agg(max($"n").as("n_events"), count(lit(1)).as("n_types"),
        sum($"term").cast("double").as("entropy"))
      .orderBy($"user_id")
  }

  /** ANALYZE-style table profile: row count, null count and exact
    * distinct count for every events column, one output row per
    * column. The data-quality snapshot every ingest gate runs.
    *
    * Scale shape: ONE scan — all 6 column profiles aggregate in a
    * single pass (Spark plans the multi-distinct via one Expand, the
    * same machinery as q_agg_multidistinct; at 100 TB swap the exact
    * distincts for approx_count_distinct and the Expand disappears —
    * the exact form is the oracle-checkable reference). The 1-row
    * aggregate then unpivots driver-side-free via `stack` (6 rows).
    */
  def qProfileTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd")))
    t(s, dir, "events")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${cols.size}, " + cols.map(c =>
          s"'$c', ${c}__nn, ${c}__nd").mkString(", ") +
          ") AS (col_name, n_null, n_distinct)")
      .select($"col_name", $"n_rows", $"n_null", $"n_distinct")
      .orderBy($"col_name")
  }

  /** Ordered string aggregation (SQL:2016 LISTAGG, Spark 4.0+ ↔
    * DuckDB `string_agg(… ORDER BY …)`): the sorted doc_id roster per
    * (lang, source) block. WITHIN GROUP (ORDER BY doc_id) makes the
    * concatenation order a total order on a unique key, so the string
    * is deterministic on both engines — an UNORDERED listagg is
    * partition-order-dependent and banned (§5.3, same class as
    * collect_list without sort_array).
    */
  def qAggListagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("listagg(CAST(doc_id AS STRING), ',') WITHIN GROUP (ORDER BY doc_id)")
          .as("doc_ids"))
      .orderBy($"lang", $"source")
  }

  /** Deterministic mode (most frequent value) per group — NOT the
    * built-in `mode()`, which picks an arbitrary value on frequency
    * ties in both engines; rank on (count desc, value asc) instead.
    */
  def qAggMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = t(s, dir, "orders")
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"cnt".desc, $"o_orderpriority".asc)
    counts.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"),
        $"cnt")
      .orderBy($"o_orderstatus")
  }

  /** Robust outlier detection per event_type: median/MAD (median
    * absolute deviation), flag |v − med| > 3·MAD. Bit-deterministic
    * across engines WITHOUT rounding tricks: values are integer
    * cents, so the interpolated median is an exact half-integer
    * (k/2), absolute deviations are exact halves, and the MAD is an
    * exact quarter (k/4) — all binary-representable, so the threshold
    * compare cannot straddle an ulp. The data-quality gate a real
    * ingest pipeline runs per batch.
    */
  def qAggOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", cents($"value").as("v_c"))
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile(v_c, 0.5)").as("med"))
    // cached: dev feeds the MAD aggregation AND the final rollup —
    // uncached, the events scan + median percentile would run twice
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"v_c" - $"med"))
      .transform(core.cached)
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        r4(max($"med") / 100.0).as("med"),
        r4(max($"mad") / 100.0).as("mad"),
        sum(when($"adev" > lit(3.0) * $"mad", 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy($"event_type")
  }

  /** Boolean aggregates: every / any / count_if per group. */
  def qAggBool(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_returnflag",
        cents($"l_quantity").as("qty_c"),
        cents($"l_discount").as("disc_pct"),
        cents($"l_tax").as("tax_pct"))
      .groupBy($"l_returnflag")
      .agg(
        expr("every(qty_c > 0)").as("all_qty_pos"),
        expr("any(disc_pct = 0)").as("some_no_disc"),
        expr("count_if(tax_pct = 0)").as("n_tax_free"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** HyperLogLog distinct users per event type — approximate, so no
    * DuckDB oracle; a unit test bounds the error vs exact instead.
    */
  def qAggApproxHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id").as("approx_users"))
      .orderBy($"event_type")
  }

  /** Spark 4.1's built-in `approx_top_k` sketch (the engine-native
    * heavy-hitters path; the custom mergeable alternative is
    * `functions/MisraGries.scala`). Declared no-oracle like the other
    * sketches: DuckDB cannot replay the sketch. Determinism: k = 5 =
    * the event_type cardinality and capacity ≫ cardinality, so EVERY
    * item is returned with its exact count — no selection boundary
    * exists for a count tie to flip (a k < cardinality sketch picks
    * arbitrarily among boundary ties, which no trailing sort can
    * repair). WindowAggSpec pins the output equal to the exact
    * group-by.
    */
  def qAggApproxTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .agg(expr("approx_top_k(event_type, 5, 100)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item".as("event_type"), $"e.count".as("est_n"))
      .orderBy($"est_n".desc, $"event_type")
  }

  /** Exponentially time-decayed engagement score per user: each
    * event's cents value is weighted by 2^(−age/7d), age measured
    * back from the corpus max timestamp — the recency-weighted
    * feature online systems keep incrementally and batch systems
    * recompute exactly like this.
    *
    * Determinism (r7, by construction — the pagerank BIGINT-units
    * rule): the WEIGHT, not the term, is quantized — w_u =
    * `round(2^(−age/7d) · 1e6, 0)` as BIGINT. The weight lives in
    * [0, 1e6], so the ≤1-ulp cross-engine libm `power` noise is
    * ≤ ulp(1e6) ≈ 1.2e-10 against a grid of 1 — a boundary flip needs
    * the true product within 1.2e-10 of an x.5, odds ~1.2e-10/event
    * (an r7 first cut quantized the TERM value_c·w·1e6 instead, where
    * ulp(5.6e10) ≈ 1.2e-5 per term flipped one row in ~1e5 events at
    * sf0.1 — measured, not hypothetical). Every integer-grid midpoint
    * x.5 is dyadic, hence exactly representable, so Spark's
    * shortest-string rounding and DuckDB's binary rounding see the
    * same value and agree (the string-vs-binary trap is impossible at
    * scale 0). term_u = value_c·w_u is then BIGINT×BIGINT exact, the
    * per-user sum ≤ ~5.6e13 < 2^53 casts exactly, and the single
    * ÷1e6 is correctly rounded — bit-identical output with NO final
    * rounding. Semantics note: weights < 5e-7 (events older than
    * ~21 weeks) quantize to 0 — a documented decay cutoff.
    *
    * Scale shape: the max-ts is a 1-row broadcast (same class as AQE
    * stats), then one combinable user-keyed aggregation.
    */
  def qAggDecay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decayed(t(s, dir, "events")
      .select($"user_id", $"ts", cents($"value").as("value_c")))
      .orderBy($"user_id")
  }

  /** The decayed-engagement transform behind [[qAggDecay]], reusable
    * on any (user_id, ts, value_c) frame — ScaleProbe drives it on 5M
    * synthetic rows so the probe and the key can't drift apart.
    */
  def decayed(ev: DataFrame): DataFrame = {
    val mx = ev.agg(max(col("ts")).as("mx_ts"))
    ev.crossJoin(broadcast(mx))
      .withColumn("term_u", expr(
        """value_c * CAST(round(power(0.5,
          |  (unix_micros(mx_ts) - unix_micros(ts)) / 604800000000.0)
          |  * 1000000.0, 0) AS BIGINT)""".stripMargin))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("term_u")).cast("double") / lit(1000000.0))
          .as("decayed_value"))
  }

  /** Per-user linear trend (least-squares slope of value over time),
    * derived ENTIRELY from exact integer sums: x = whole seconds
    * since 2024-01-01 (integer floor on both engines), y = cents;
    * n, Σx, Σy, Σxy, Σx² accumulate in DECIMAL(38,0) (HUGEINT on the
    * oracle side), and the slope is one double division of two exact
    * integers at the very end — deterministic by construction, no
    * libm, no order dependence. Degenerate users (single event or
    * zero time variance) yield NULL.
    *
    * Scale shape: one combinable user-keyed aggregation; the five
    * sums are map-side partials like any sum.
    */
  def qAggRegrSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"user_id",
        expr("unix_micros(ts) DIV 1000000 - 1704067200").as("xs"),
        cents($"value").as("yc"))
    ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"xs".cast("decimal(38,0)")).as("sx"),
        sum($"yc".cast("decimal(38,0)")).as("sy"),
        sum(($"xs" * $"yc").cast("decimal(38,0)")).as("sxy"),
        sum(($"xs" * $"xs").cast("decimal(38,0)")).as("sxx"))
      .withColumn("num",
        $"n_events".cast("decimal(38,0)") * $"sxy" - $"sx" * $"sy")
      .withColumn("den",
        $"n_events".cast("decimal(38,0)") * $"sxx" - $"sx" * $"sx")
      .select($"user_id", $"n_events",
        when($"den" =!= 0,
          r6($"num".cast("double") / $"den".cast("double")))
          .as("slope"))
      .orderBy($"user_id")
  }

  /** Pearson correlation of price vs quantity per return flag, from
    * EXACT integer sums — not the built-in `corr` (float running
    * sums, order-dependent): n, Σx, Σy, Σxy, Σx², Σy² accumulate in
    * DECIMAL(38,0) ↔ HUGEINT, and the final expression uses only
    * IEEE-exact double ops (casts of exact ints, *, /, and sqrt —
    * which IEEE 754 requires correctly rounded, unlike ln/pow) — so
    * both engines produce bit-identical doubles BEFORE the r6.
    * Zero-variance groups yield NULL.
    */
  def qAggCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
      .select($"l_returnflag",
        cents($"l_extendedprice").as("x"), cents($"l_quantity").as("y"))
    li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast("decimal(38,0)")).as("sx"),
        sum($"y".cast("decimal(38,0)")).as("sy"),
        sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"),
        sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
        sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"))
      .withColumn("num",
        $"n".cast("decimal(38,0)") * $"sxy" - $"sx" * $"sy")
      .withColumn("dx", $"n".cast("decimal(38,0)") * $"sxx" - $"sx" * $"sx")
      .withColumn("dy", $"n".cast("decimal(38,0)") * $"syy" - $"sy" * $"sy")
      .select($"l_returnflag", $"n",
        when($"dx" > 0 && $"dy" > 0,
          r6($"num".cast("double") /
            (sqrt($"dx".cast("double")) * sqrt($"dy".cast("double")))))
          .as("corr_price_qty"))
      .orderBy($"l_returnflag")
  }

  /** Skewness and excess kurtosis of value per event type, from EXACT
    * integer power sums — not the built-in `skewness`/`kurtosis`
    * (float running moments, order-dependent). The central-moment
    * numerators are integer polynomials in (n, Σx, Σx², Σx³, Σx⁴):
    *   M2 = n·S2 − S1²
    *   M3 = n²·S3 − 3n·S1·S2 + 2·S1³
    *   M4 = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴
    * Since Σ(x−x̄)² = M2/n, Σ(x−x̄)³ = M3/n², Σ(x−x̄)⁴ = M4/n³, the
    * n-powers cancel exactly in the population-moment ratios:
    *   g1 = m3/m2^1.5 = M3 / M2^1.5,  g2 = m4/m2² − 3 = M4/M2² − 3
    * (pinned on {0,0,1}: g1 = 1/√2, g2 = −3/2 in MomentsSpec)
    * computed in DECIMAL(38,0) ↔ HUGEINT, then one final double
    * expression of exact ints using only IEEE-exact ops (sqrt, *, /)
    * — bit-identical across engines before r6.
    *
    * CENTERED two-pass accumulation (r7 — the 10× gate caught the
    * one-pass form's S1⁴ at 3.2·10⁴⁰ > Decimal(38,0) once per-group n
    * reached 2·10⁵ at cent scale; the r6 scaladoc's validity bound
    * n·x̄ ≲ 1.1·10⁹ cents predicted exactly this): pass 1 computes the
    * exact integer shift c = S1 div n and remainder e = S1 − n·c
    * (0 ≤ e < n — central moments are shift-invariant, so centering on
    * c costs only the tiny e-correction); pass 2 accumulates power
    * sums of d = x − c in DECIMAL(38,0) ↔ HUGEINT, where the largest
    * term is Σd⁴ ≈ rows·(max dev)⁴ — 38 digits now hold ~10¹⁸ rows per
    * group at cent scale instead of the quartic-in-S1 cliff. The final
    * ratios are ONE identical chain of correctly-rounded double ops in
    * both engines (casts of exact decimal ints, *, /, sqrt — IEEE
    * requires each correctly rounded, so identical op order ⇒
    * identical bits; intermediate magnitudes never approach
    * double overflow):
    *   Σ(x−x̄)² = Sc2 − e²/n
    *   Σ(x−x̄)³ = Sc3 − 3e/n·Sc2 + 2e³/n²
    *   Σ(x−x̄)⁴ = Sc4 − 4e/n·Sc3 + 6(e/n)²·Sc2 − 3e⁴/n³
    *   g1 = (Σ(x−x̄)³/n) / (m2·√m2),  g2 = (Σ(x−x̄)⁴/n)/m2² − 3
    * Sign-safe shift (ADVICE r7): c = (S1 − posmod)/n with
    * posmod = ((S1 % n) + n) % n — since n > 0, posmod ∈ [0, n) in
    * BOTH engines (their `%` both follow the dividend's sign, and the
    * +n/%n wrap normalizes it), so S1 − posmod is exactly divisible by
    * n and trunc-div == floor-div == exact; c and e = posmod agree per
    * engine for ANY sign of S1, with e ∈ [0, n) as the correction
    * chain assumes. (The fixture's x ≥ 0 made the old `div` form safe,
    * but the invariant was unenforced.) At 100 TB: pass 1's group frame is
    * config-sized and broadcast into pass 2 — two scans, both
    * combinable map-side.
    */
  def qAggMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", cents($"value").as("x"))
    val shift = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"))
      .withColumn("rem", expr("((s1 % n) + n) % n"))
      .withColumn("c0", expr("(s1 - rem) div n"))
      .select($"event_type", $"n", $"c0", $"rem")
    ev.join(broadcast(shift), "event_type")
      .withColumn("d", $"x" - $"c0")
      .groupBy($"event_type", $"n", $"rem")
      .agg(
        sum(($"d" * $"d").cast("decimal(38,0)")).as("sc2"),
        sum(($"d" * $"d" * $"d").cast("decimal(38,0)")).as("sc3"),
        // d⁴ must promote BEFORE the last multiply (the r5 lesson —
        // |d| can reach ~10⁵ cents, d⁴ past Long.MaxValue; d³ fits)
        sum($"d".cast("decimal(38,0)") * ($"d" * $"d" * $"d"))
          .as("sc4"))
      .withColumn("nn", $"n".cast("double"))
      .withColumn("ee", $"rem".cast("double"))
      .withColumn("s2d", $"sc2".cast("double"))
      .withColumn("s3d", $"sc3".cast("double"))
      .withColumn("s4d", $"sc4".cast("double"))
      .withColumn("t2", $"s2d" - $"ee" * $"ee" / $"nn")
      .withColumn("t3",
        $"s3d" - lit(3) * $"ee" / $"nn" * $"s2d"
          + lit(2) * $"ee" * $"ee" * $"ee" / ($"nn" * $"nn"))
      .withColumn("t4",
        $"s4d" - lit(4) * $"ee" / $"nn" * $"s3d"
          + lit(6) * ($"ee" / $"nn") * ($"ee" / $"nn") * $"s2d"
          - lit(3) * $"ee" * $"ee" * $"ee" * $"ee"
            / ($"nn" * $"nn" * $"nn"))
      .select($"event_type", $"n",
        when($"t2" > 0, r6(
          ($"t3" / $"nn") /
            (($"t2" / $"nn") * sqrt($"t2" / $"nn"))))
          .as("skewness"),
        when($"t2" > 0, r6(
          ($"t4" / $"nn") /
            (($"t2" / $"nn") * ($"t2" / $"nn")) - 3.0))
          .as("kurtosis_excess"))
      .orderBy($"event_type")
  }

  /** Approximate quantiles (GK sketch) — unit-test-only. */
  def qAggApproxQuantile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type", cents($"value").as("value_c"))
      .groupBy($"event_type")
      .agg(percentile_approx($"value_c", lit(0.95), lit(10000)).as("p95_approx"))
      .orderBy($"event_type")
  }

  /** Exact heavy hitters by two-pass Misra–Gries (VERDICT r7 task 3):
    * the fixture corpus is near-uniform, so the skewed item universe
    * is DERIVED deterministically from the events table with integer
    * ops both engines compute bit-identically — u = first 8 md5 hex
    * digits of event_id as a uniform 32-bit integer (the established
    * sample_hash pattern), level = 33 − length(bin(u+1)) (geometric:
    * P(level = k) = 2⁻ᵏ — the bin()-length trick the adaptive-LSH
    * width already mirrors), item = level for the ≤ 6 heavy levels,
    * else a 1000+u%100000 uniform long tail (~10⁵ rare items). This
    * stays a pure function of fixture rows — no side parquet for the
    * oracle to mount (simpler than the generator-dump alternative and
    * exactly as deterministic).
    *
    * Pass 1 runs the REAL sketch ([[graft.functions.MisraGries]],
    * capacity 128): O(128) state per task regardless of input size —
    * at 100 TB this is the only pass that sees every row, and it
    * ships one 128-entry map per partition. Its guarantee (candidates
    * ⊇ every item with freq > n/129) makes pass 2 exact: recount ONLY
    * rows whose item is in the candidate set (codegen'd IN-set of
    * ≤ 128 literals — broadcast-semi-join class, no shuffle of the
    * non-candidate mass) and keep items with 64·cnt > n. The final
    * (item, cnt) set is deterministic and fully oracle-checkable even
    * though which BORDERLINE candidates the sketch retains is
    * order-dependent — the threshold n/64 sits strictly inside the
    * n/129 guarantee. The ≤128-entry candidate map is driver-side
    * metadata (the ntile count-map class), not data.
    */
  /** The derived skewed item universe (one `item` column) — shared
    * by the batch key and the streaming Misra–Gries runtime twin
    * (StreamingHeavyHittersSpec).
    */
  def skewedItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select(expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), " +
        "1, 8), 16, 10) AS BIGINT)").as("u"))
      .withColumn("lvl", expr("33 - length(bin(u + 1))"))
      .select(when($"lvl" <= 6, $"lvl".cast("long"))
        .otherwise(lit(1000L) + pmod($"u", lit(100000L))).as("item"))
  }

  def qAggHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = skewedItems(s, dir)
    val cand = items.select($"item".cast("string").as("value")).as[String]
      .select(new graft.functions.MisraGries(128).toColumn)
      .head().keys.map(_.toLong).toSeq.sorted
    val n = core.tableRows(s, dir, "events")
    items.filter($"item".isin(cand: _*))
      .groupBy($"item").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 64 > n)
      .orderBy($"item")
  }

  private val qtyC = centsSql("l_quantity")

  val keys: Seq[Key] = Seq(
    // the three sketches have no DuckDB twin; unit tests bound their error
    Key("q_agg_approx_hll", qAggApproxHll),
    Key("q_agg_approx_quantile", qAggApproxQuantile),
    Key("q_agg_approx_topk", qAggApproxTopk),
    // plain exact group-by + HAVING: the two-pass MG output IS the
    // exact heavy set, so the oracle needs no sketch emulation; item
    // derivation mirrors the Spark integer math digit for digit
    Key("q_agg_heavyhitters", qAggHeavyHitters,
      """WITH it AS (
        |  SELECT CASE WHEN 33 - length(bin(u + 1)) <= 6
        |              THEN CAST(33 - length(bin(u + 1)) AS BIGINT)
        |              ELSE 1000 + u % 100000 END AS item
        |  FROM (
        |    SELECT ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
        |      ::BIGINT AS u
        |    FROM events))
        |SELECT item, count(*) AS cnt
        |FROM it GROUP BY item
        |HAVING 64 * count(*) > (SELECT count(*) FROM events)
        |ORDER BY item""".stripMargin),

    Key("q_agg_rollup", qAggRollup,
      s"""SELECT coalesce(l_returnflag, '$All') AS flag_s,
        |  coalesce(l_linestatus, '$All') AS status_s,
        |  CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS n,
        |  CAST(sum($qtyC) AS BIGINT) AS sum_qty_c
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, flag_s, status_s""".stripMargin),

    Key("q_agg_cube", qAggCube,
      s"""SELECT coalesce(l_returnflag, '$All') AS flag_s,
        |  coalesce(l_linestatus, '$All') AS status_s,
        |  CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS n,
        |  CAST(sum($qtyC) AS BIGINT) AS sum_qty_c
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, flag_s, status_s""".stripMargin),

    Key("q_agg_groupingsets", qAggGroupingsets,
      s"""SELECT coalesce(l_returnflag, '$All') AS flag_s,
        |  coalesce(l_linestatus, '$All') AS status_s,
        |  CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS n,
        |  CAST(sum($qtyC) AS BIGINT) AS sum_qty_c
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, flag_s, status_s""".stripMargin),

    Key("q_agg_stats", qAggStats,
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(CAST(round(l_quantity*100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(round(l_quantity*100) AS BIGINT) AS HUGEINT)
        |           * CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS HUGEINT)
        |           * CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(CAST(round(l_quantity*100) AS BIGINT) AS HUGEINT)
        |           * CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CASE WHEN n > 1 AND (n*sxx - sx*sx) >= 0 THEN
        |    round(sqrt((n*sxx - sx*sx) / (n*(n-1))) / 100.0, 4)
        |  END AS stddev_samp_qty,
        |  CASE WHEN (n*sxx - sx*sx) >= 0 THEN
        |    round(sqrt(n*sxx - sx*sx) / n / 100.0, 4)
        |  END AS stddev_pop_qty,
        |  CASE WHEN n > 1 THEN
        |    round(((n*sxx - sx*sx) / (n*(n-1))) / 10000.0, 4)
        |  END AS var_samp_qty,
        |  CASE WHEN n > 1 THEN
        |    round(((n*sxy - sx*sy) / (n*(n-1))) / 10000.0, 4)
        |  END AS covar_samp,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |    round((n*sxy - sx*sy) /
        |          (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
        |  END AS corr_qty_price
        |FROM s ORDER BY l_returnflag""".stripMargin),

    Key("q_agg_collect", qAggCollect,
      """SELECT o_custkey,
        |  string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prios_csv,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Key("q_agg_argmax", qAggArgmax,
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)
        |    * 2147483648 + o_orderkey) AS priciest_key,
        |  arg_min(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)
        |    * 2147483648 + o_orderkey) AS cheapest_key,
        |  max(CAST(round(o_totalprice*100) AS BIGINT)) AS max_total_c,
        |  min(CAST(round(o_totalprice*100) AS BIGINT)) AS min_total_c
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Key("q_agg_histogram", qAggHistogram,
      """SELECT least(CAST(floor(CAST(round(o_totalprice*100) AS BIGINT)
        |      / 5000000) AS BIGINT), 9) AS bucket,
        |  count(*) AS n,
        |  min(CAST(round(o_totalprice*100) AS BIGINT)) AS lo_c,
        |  max(CAST(round(o_totalprice*100) AS BIGINT)) AS hi_c
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    Key("q_agg_try_arith", qAggTryArith,
      """SELECT l_orderkey, l_linenumber,
        |  round(CAST(round(l_extendedprice*100) AS BIGINT)
        |    / nullif(CAST(round(l_discount*100) AS BIGINT), 0), 6)
        |    AS price_per_disc,
        |  CAST(round(l_discount*100) AS BIGINT) = 0 AS is_div0
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Key("q_agg_gini", qAggGini,
      """WITH r AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS x,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY round(value*100), event_id) AS i
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(x AS HUGEINT)) AS BIGINT) AS sum_c,
        |  round(CASE WHEN sum(CAST(x AS HUGEINT)) = 0 THEN 0.0
        |    ELSE CAST(2 * sum(CAST(i AS HUGEINT) * x)
        |        - (count(*) + 1) * sum(CAST(x AS HUGEINT)) AS DOUBLE)
        |      / CAST(count(*) * sum(CAST(x AS HUGEINT)) AS DOUBLE) END, 6)
        |    AS gini
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    Key("q_agg_entropy", qAggEntropy,
      """WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |totals AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n
        |  FROM counts GROUP BY 1)
        |SELECT c.user_id, max(t.n) AS n_events, count(*) AS n_types,
        |  CAST(sum(
        |    CAST(round(-(c.c / CAST(t.n AS DOUBLE))
        |      * ln(c.c / CAST(t.n AS DOUBLE)), 12) AS DECIMAL(28, 12)))
        |    AS DOUBLE) AS entropy
        |FROM counts c JOIN totals t USING (user_id)
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin),

    Key("q_agg_decay", qAggDecay,
      """WITH mx AS (SELECT max(ts) AS mx_ts FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(CAST(sum(
        |    CAST(round(value * 100) AS BIGINT) * CAST(round(power(0.5,
        |      date_diff('microsecond', ts, mx.mx_ts) / 604800000000.0)
        |    * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |    / 1000000.0 AS decayed_value
        |FROM events, mx
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    Key("q_agg_corr", qAggCorr,
      """WITH e AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM e GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |  END AS corr_price_qty
        |FROM st ORDER BY l_returnflag""".stripMargin),

    Key("q_agg_moments", qAggMoments,
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |shift AS (
        |  SELECT event_type, count(*) AS n,
        |    ((CAST(sum(x) AS BIGINT) % count(*)) + count(*))
        |      % count(*) AS rem,
        |    (CAST(sum(x) AS BIGINT)
        |      - (((CAST(sum(x) AS BIGINT) % count(*)) + count(*))
        |         % count(*))) // count(*) AS c0
        |  FROM e GROUP BY 1),
        |p AS (
        |  SELECT e.event_type, shift.n, shift.rem, e.x - shift.c0 AS d
        |  FROM e JOIN shift USING (event_type)),
        |st AS (
        |  SELECT event_type, n, rem,
        |    sum(CAST(d AS HUGEINT) * d) AS sc2,
        |    sum(CAST(d AS HUGEINT) * d * d) AS sc3,
        |    sum(CAST(d AS HUGEINT) * (d * d * d)) AS sc4
        |  FROM p GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nn, CAST(rem AS DOUBLE) AS ee,
        |    CAST(sc2 AS DOUBLE) AS s2d, CAST(sc3 AS DOUBLE) AS s3d,
        |    CAST(sc4 AS DOUBLE) AS s4d
        |  FROM st),
        |m AS (
        |  SELECT event_type, n, nn,
        |    s2d - ee * ee / nn AS t2,
        |    s3d - 3 * ee / nn * s2d
        |      + 2 * ee * ee * ee / (nn * nn) AS t3,
        |    s4d - 4 * ee / nn * s3d
        |      + 6 * (ee / nn) * (ee / nn) * s2d
        |      - 3 * ee * ee * ee * ee / (nn * nn * nn) AS t4
        |  FROM f)
        |SELECT event_type, n,
        |  CASE WHEN t2 > 0 THEN
        |    round((t3 / nn) / ((t2 / nn) * sqrt(t2 / nn)), 6)
        |  END AS skewness,
        |  CASE WHEN t2 > 0 THEN
        |    round((t4 / nn) / ((t2 / nn) * (t2 / nn)) - 3.0, 6)
        |  END AS kurtosis_excess
        |FROM m ORDER BY event_type""".stripMargin),

    Key("q_profile_table", qProfileTable,
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null,
             |  count(DISTINCT $c) AS n_distinct FROM events""".stripMargin)
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY col_name")),

    Key("q_agg_listagg", qAggListagg,
      """SELECT lang, source, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    AS doc_ids
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin),

    Key("q_agg_regr_slope", qAggRegrSlope,
      """WITH e AS (
        |  SELECT user_id,
        |    date_diff('second', TIMESTAMP '2024-01-01', ts) AS xs,
        |    CAST(round(value * 100) AS BIGINT) AS yc
        |  FROM events),
        |st AS (
        |  SELECT user_id, count(*) AS n_events,
        |    sum(CAST(xs AS HUGEINT)) AS sx, sum(CAST(yc AS HUGEINT)) AS sy,
        |    sum(CAST(xs AS HUGEINT) * yc) AS sxy,
        |    sum(CAST(xs AS HUGEINT) * xs) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT user_id, n_events,
        |  CASE WHEN n_events * sxx - sx * sx <> 0 THEN
        |    round(CAST(n_events * sxy - sx * sy AS DOUBLE)
        |          / CAST(n_events * sxx - sx * sx AS DOUBLE), 6)
        |  END AS slope
        |FROM st ORDER BY user_id""".stripMargin),

    Key("q_agg_mode", qAggMode,
      """SELECT o_orderstatus, mode_priority, cnt FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |    count(*) AS cnt,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin),

    Key("q_agg_outliers", qAggOutliers,
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v_c
        |  FROM events),
        |med AS (
        |  SELECT event_type, quantile_cont(v_c, 0.5) AS med
        |  FROM ev GROUP BY 1),
        |dev AS (
        |  SELECT ev.event_type, v_c, med, abs(v_c - med) AS adev
        |  FROM ev JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  round(max(d.med) / 100.0, 4) AS med,
        |  round(max(m.mad) / 100.0, 4) AS mad,
        |  CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    Key("q_agg_bitmap_distinct", qAggBitmapDistinct,
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Key("q_agg_bool", qAggBool,
      """SELECT l_returnflag,
        |  bool_and(CAST(round(l_quantity*100) AS BIGINT) > 0) AS all_qty_pos,
        |  bool_or(CAST(round(l_discount*100) AS BIGINT) = 0) AS some_no_disc,
        |  CAST(count_if(CAST(round(l_tax*100) AS BIGINT) = 0) AS BIGINT) AS n_tax_free,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Key("q_agg_percentile", qAggPercentile,
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) / 100.0, 4) AS p50,
        |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.9) / 100.0, 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
