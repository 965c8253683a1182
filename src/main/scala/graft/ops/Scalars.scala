package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import core._

/** Scalar function surface (SURVEY §2.8): string / regex / date /
  * timestamp / math / conditional / cast / array / higher-order /
  * generator / map / JSON / struct / pivot / unpivot.
  *
  * Dialect notes baked into the oracle SQL: Spark `instr` ↔ DuckDB
  * `strpos`; Spark `regexp_replace` is global while DuckDB needs the
  * 'g' flag; Spark casts double→int by truncation while DuckDB
  * rounds (avoided — explicit floor first); int-typed Spark results
  * are cast to BIGINT to match DuckDB's wider defaults.
  */
object Scalars extends Family {

  def qStrBasic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey",
        upper($"c_name").as("name_upper"),
        lower($"c_mktsegment").as("seg_lower"),
        substring($"c_name", 1, 8).as("name_prefix"),
        concat($"c_name", lit("|"), $"c_mktsegment").as("name_seg"),
        lpad($"c_name", 22, "*").as("name_lpad"),
        rpad($"c_mktsegment", 12, ".").as("seg_rpad"),
        trim(concat(lit("  "), $"c_name", lit("  "))).as("name_trim"),
        regexp_replace($"c_name", lit("Customer"), lit("Cust")).as("name_repl"),
        length($"c_name").cast("long").as("name_len"),
        instr($"c_name", "#").cast("long").as("hash_pos"))
      .orderBy($"c_custkey")
  }

  def qStrSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        element_at(split($"text", " "), 1).as("first_token"))
      .orderBy($"doc_id")
  }

  def qStrRegexp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey",
        regexp_extract($"c_name", "Customer#([0-9]+)", 1).cast("long")
          .as("cust_num"),
        regexp_replace($"c_mktsegment", "[AEIOU]", "_").as("seg_masked"),
        $"c_name".rlike("[0-9]{3}$").as("ends_3digits"))
      .orderBy($"c_custkey")
  }

  def qStrLike(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .filter($"p_name".like("%e%") && ($"p_name".like("r%") ||
        $"p_name".like("_r%")))
      .select($"p_partkey", $"p_name", $"p_type")
      .orderBy($"p_partkey")
  }

  def qDateParts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select(date_trunc("month", $"o_orderdate").as("month_start"),
        cents($"o_totalprice").as("total_c"))
      .groupBy($"month_start")
      .agg(count(lit(1)).as("n_orders"), sum($"total_c").as("sum_total_c"))
      .select(
        $"month_start",
        year($"month_start").cast("long").as("yr"),
        quarter($"month_start").cast("long").as("qtr"),
        month($"month_start").cast("long").as("mon"),
        dayofmonth($"month_start").cast("long").as("dom"),
        $"n_orders", $"sum_total_c")
      .orderBy($"month_start")
  }

  def qDateArith(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderdate",
        ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("due_ts"),
        datediff(lit("2000-01-01").cast("date"), $"o_orderdate")
          .cast("long").as("days_to_y2k"),
        last_day($"o_orderdate").as("eom"))
      .orderBy($"o_orderkey")
  }

  def qTsFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id",
        hour($"ts").cast("long").as("hr"),
        minute($"ts").cast("long").as("mi"),
        second($"ts").cast("long").as("sec"),
        unix_timestamp($"ts").as("epoch_s"),
        date_trunc("hour", $"ts").as("hour_start"))
      .orderBy($"event_id")
  }

  /** Weekly retention cohorts: users active in ISO week w who are
    * also active in week w+1 (`date_trunc('week')` is Monday-based in
    * BOTH engines — unlike weekofyear/dayofweek numbering, which
    * differs and is banned, SURVEY §2.8). The cohort self-join is on
    * (user, exact next week) — equi keys, shuffle-friendly; the
    * distinct active-set is the only wide state and it's (user, week)
    * — bounded by activity, not events.
    */
  def qTsRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val active = t(s, dir, "events")
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("week"))
      .distinct()
    val nxt = active.select($"user_id".as("u2"), $"week".as("wk2"))
    active.join(nxt,
        $"user_id" === $"u2" && $"wk2" === date_add($"week", 7), "left")
      .groupBy($"week")
      .agg(count(lit(1)).as("n_active"),
        sum(when($"u2".isNotNull, 1L).otherwise(0L)).as("n_retained"))
      .select($"week", $"n_active", $"n_retained",
        r6($"n_retained" / $"n_active".cast("double")).as("retention"))
      .orderBy($"week")
  }

  /** 15-minute OHLC bars per event type — the canonical time-series
    * downsample (resample-to-bars). High/low/count are plain
    * combinable aggregates; open/close are the value at the first/
    * last (ts, event_id) of the bar — a deterministic TOTAL order
    * (event_id is unique), so ties cannot pick arbitrary rows
    * (§5.3). Cents throughout; doubles never enter.
    *
    * Scale shape: ONE shuffle — the first/last window partitions by
    * (event_type, bar_start) and the group-by that follows uses the
    * same keys, so the aggregation reuses the window's hash
    * partitioning without a second exchange. Bars are epoch-aligned
    * on both engines (Spark `window` aligns to the epoch; DuckDB
    * `time_bucket`'s 2000-01-01 origin is a whole multiple of 15 min
    * from it).
    */
  def ohlc(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = events
      .select($"event_type", $"ts", $"event_id", cents($"value").as("v_c"),
        window($"ts", "15 minutes").getField("start").as("bar_start"))
    val w = Window.partitionBy($"event_type", $"bar_start")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base
      .withColumn("o_c", first($"v_c").over(w))
      .withColumn("c_c", last($"v_c").over(w))
      .groupBy($"event_type", $"bar_start")
      .agg(count(lit(1)).as("n"),
        max($"o_c").as("open_c"),
        max($"v_c").as("high_c"),
        min($"v_c").as("low_c"),
        max($"c_c").as("close_c"))
  }

  def qTsOhlc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ohlc(t(s, dir, "events")).orderBy($"event_type", $"bar_start")
  }

  /** Expanding-window 3σ anomaly detection per (event_type, day):
    * flag an event whose value deviates > 3 population standard
    * deviations from the PRECEDING same-type-same-day events (≥ 20
    * warm-up rows) — the streaming-monitor z-score check run as a
    * batch operator.
    *
    * Determinism (§5.3): the flag is an exact INTEGER comparison —
    * (n·y − Σy)² > 9·(n·Σy² − (Σy)²) over cents sums in
    * DECIMAL(38,0) ↔ HUGEINT — so no engine can disagree at the
    * threshold boundary; the reported z = num/√den is one division
    * and one sqrt of exact integers (both IEEE-correctly-rounded, the
    * q_agg_corr rule), bit-identical before r4. Exact-integer inputs
    * stay < 2⁵³ at fixture scale (the q_agg_moments headroom note).
    *
    * Scale shape: ONE window shuffle keyed by (event_type, day) —
    * partitions multiply with the time range, so no task carries the
    * whole table (the q_win_rangeframe composite-key rule); the
    * running sums are O(1) state per row. sf0.001 has < 20 events per
    * (type, day) cell, so the key is legitimately empty there —
    * verified non-vacuous at sf0.01 (≈190 rows) and sf0.1 (≈1900).
    */
  def qTsAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type", $"d")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select($"event_id", $"event_type", $"ts", to_date($"ts").as("d"),
        cents($"value").as("y"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sy", sum($"y".cast("decimal(38,0)")).over(w))
      .withColumn("syy", sum(($"y" * $"y").cast("decimal(38,0)")).over(w))
      .withColumn("num", $"n".cast("decimal(38,0)") * $"y" - $"sy")
      .withColumn("den", $"n".cast("decimal(38,0)") * $"syy" - $"sy" * $"sy")
      .filter($"n" >= 20 && $"den" > 0 && $"num" * $"num" > lit(9) * $"den")
      .select($"event_id", $"event_type", $"d", $"y".as("value_c"),
        $"n".as("n_prev"),
        r4($"num".cast("double") / sqrt($"den".cast("double"))).as("z"))
      .orderBy($"event_id")
  }

  /** Linear-interpolation gap imputation — the second imputation mode
    * beside [[Windows.qWinGapFill]]'s forward fill: a dropped reading
    * (value = 0, the fixture's ln(0) convention) is rebuilt from the
    * time-weighted average of the surrounding non-null readings,
    * prev + (next − prev)·(t − tp)/(tn − tp); boundary gaps take the
    * single available side; all-null users stay null.
    *
    * Determinism (§5.3): every input to the lerp is an exact integer
    * below 2⁵³ (cents ≤ 5.6e4; intra-user timestamp gaps ≤ 30 d =
    * 2.6e12 µs), so each cast is exact and the four IEEE ops
    * (sub, div, mul, add) are correctly rounded in the same order in
    * both engines — bit-identical before the r4 (the q_agg_corr
    * rule, without decimals).
    *
    * Scale shape: two frames over ONE user-keyed sort (preceding +
    * following), same single-shuffle class as every per-user window.
    */
  def qTsInterp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(1, Window.unboundedFollowing)
    t(s, dir, "events")
      .select($"user_id", $"event_id", $"ts",
        unix_micros($"ts").as("t"), cents($"value").as("v_c"))
      .withColumn("v_null",
        when($"v_c" === 0L, lit(null).cast("long")).otherwise($"v_c"))
      .withColumn("tv", when($"v_null".isNotNull, $"t"))
      .withColumn("prev_v", last($"v_null", ignoreNulls = true).over(wp))
      .withColumn("prev_t", last($"tv", ignoreNulls = true).over(wp))
      .withColumn("next_v", first($"v_null", ignoreNulls = true).over(wn))
      .withColumn("next_t", first($"tv", ignoreNulls = true).over(wn))
      .select($"user_id", $"event_id", $"v_c",
        r4(when($"v_null".isNotNull, $"v_null".cast("double"))
          .when($"prev_v".isNotNull && $"next_v".isNotNull &&
              $"next_t" =!= $"prev_t",
            $"prev_v".cast("double") +
              ($"next_v" - $"prev_v").cast("double") *
              (($"t" - $"prev_t").cast("double") /
                ($"next_t" - $"prev_t").cast("double")))
          .when($"prev_v".isNotNull, $"prev_v".cast("double"))
          .when($"next_v".isNotNull, $"next_v".cast("double")))
          .as("v_interp"))
      .orderBy($"user_id", $"event_id")
  }

  /** Z-order (Morton-curve) layout audit: interleave the low 16 bits
    * of customer key and order day via the codegen
    * [[graft.functions.ZOrder]] expression, bucket the curve into
    * fixed ranges (z >> 20 — a stand-in for "file"), and report each
    * bucket's row count plus min/max of BOTH dimensions — exactly the
    * file-skipping statistics a lakehouse keeps: narrow per-bucket
    * ranges on both dims is what makes a Z-ordered table prunable on
    * either predicate, where a lexicographic sort prunes only the
    * leading one. Pure integer arithmetic end to end; the oracle
    * mirrors the magic-mask spreading as five shift/mask CTE steps
    * (every intermediate < 2³², no sign traps).
    *
    * Scale shape: the z-value is a map-side codegen expression; the
    * rollup is one combinable 256-group aggregation. At 100 TB the
    * same expression feeds `repartitionByRange(z)` + sortWithinPartitions
    * before the write — this key audits the layout quality.
    */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.ZOrder.zorder
    t(s, dir, "orders")
      .select($"o_custkey",
        datediff(to_date($"o_orderdate"), lit("1990-01-01").cast("date"))
          .cast("long").as("dday"))
      .withColumn("z", zorder($"o_custkey" % 65536, $"dday" % 65536))
      .withColumn("bucket", expr("z DIV 1048576"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        min($"o_custkey").as("min_cust"), max($"o_custkey").as("max_cust"),
        min($"dday").as("min_day"), max($"dday").as("max_day"))
      .orderBy($"bucket")
  }

  def qMathFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id", cents($"value").as("x"))
      .select($"event_id", $"x",
        abs($"x" - 10000L).as("abs_dev"),
        ceil($"x" / 100.0).cast("long").as("ceil_units"),
        floor($"x" / 100.0).cast("long").as("floor_units"),
        ($"x" % 7L).as("mod7"),
        signum($"x" - 10000L).cast("long").as("sign_dev"),
        r6(sqrt($"x")).as("sqrt_x"),
        // x can be 0 (sf0.1 has zero-value events) — ln(0) errors in
        // DuckDB and NULLs in Spark, so shift by 1
        r6(log($"x" + 1L)).as("ln_x"),
        r6(log10($"x" + 1L)).as("log10_x"),
        r6(exp($"x" % 5L)).as("exp_mod5"),
        r6(pow($"x" % 9L, 2.5)).as("pow_mod9"))
      .orderBy($"event_id")
  }

  def qCondFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey", cents($"o_totalprice").as("total_c"),
        $"o_orderpriority", $"o_orderstatus")
      .select($"o_orderkey",
        when($"total_c" > 20000000L, "big")
          .when($"total_c" > 10000000L, "mid")
          .otherwise("small").as("size_tier"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("open")).as("status_or_open"),
        least($"total_c", lit(15000000L)).as("capped_c"),
        greatest($"total_c" % 1000L, lit(500L)).as("floor500"))
      .orderBy($"o_orderkey")
  }

  def qCastFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey", cents($"c_acctbal").as("bal_c"), $"c_name")
      .select($"c_custkey",
        $"bal_c".cast("string").as("bal_str"),
        $"bal_c".cast("string").cast("long").as("bal_roundtrip"),
        floor($"bal_c" / 100.0).cast("long").as("bal_units"),
        expr("try_cast(c_name AS DOUBLE)").as("junk_cast"),
        expr("try_cast(substring(c_name, 10, 9) AS BIGINT)").as("num_from_name"),
        lit("1995-03-15").cast("date").as("fixed_date"),
        $"bal_c".cast("double").as("bal_dbl"))
      .orderBy($"c_custkey")
  }

  def qArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select($"vec_id", $"label",
        size($"emb").cast("long").as("dim"),
        // try_element_at: a short vector must yield NULL (DuckDB's
        // [i] semantics), not an ANSI INVALID_ARRAY_INDEX crash —
        // same rule qMapFuncs already follows
        r6(expr("try_element_at(emb, 1)")).as("e1"),
        r6(expr("try_element_at(emb, 64)")).as("e64"),
        r6(expr("aggregate(slice(emb, 1, 3), 0D, (a, x) -> a + x)")).as("sum_first3"),
        size(expr("filter(emb, x -> x > 0)")).cast("long").as("n_pos"),
        r6(sqrt(expr("aggregate(emb, 0D, (a, x) -> a + x * x)"))).as("l2_norm"))
      .orderBy($"vec_id")
  }

  def qArrayHof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select($"vec_id",
        r6(expr("aggregate(transform(emb, x -> x * 2D), 0D, (a, x) -> a + x)"))
          .as("sum_scaled"),
        size(expr("filter(emb, x -> x < 0)")).cast("long").as("n_neg"),
        r6(expr("aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
          .as("self_dot"))
      .orderBy($"vec_id")
  }

  def qExplode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos0", "word")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"word")
      .orderBy($"doc_id", $"pos")
  }

  /** Binary-text codecs: base64/hex round-trips over UTF-8 bytes. */
  def qStrEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey",
        base64(encode($"c_mktsegment", "UTF-8")).as("seg_b64"),
        decode(unbase64(base64(encode($"c_mktsegment", "UTF-8"))), "UTF-8")
          .as("seg_roundtrip"),
        hex(encode($"c_name", "UTF-8")).as("name_hex"),
        decode(unhex(hex(encode($"c_name", "UTF-8"))), "UTF-8")
          .as("name_roundtrip"))
      .orderBy($"c_custkey")
  }

  /** Date-range generator: one row per month an order's window spans
    * (sequence + explode — the calendar-densification pattern).
    */
  def qDateSeq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .filter($"o_orderkey" < 100)
      .select($"o_orderkey",
        explode(expr(
          """sequence(date_trunc('month', o_orderdate),
             date_trunc('month', o_orderdate + INTERVAL 90 DAYS),
             INTERVAL 1 MONTH)""")).as("month_start"))
      .orderBy($"o_orderkey", $"month_start")
  }

  /** Bitwise surface: and / or / xor / shifts / bit_count. */
  def qMathBitwise(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id", $"user_id")
      .select($"event_id",
        ($"event_id".bitwiseAND($"user_id")).as("band"),
        ($"event_id".bitwiseOR($"user_id")).as("bor"),
        ($"event_id".bitwiseXOR($"user_id")).as("bxor"),
        shiftleft($"user_id", 3).as("shl3"),
        shiftright($"event_id", 2).as("shr2"),
        bit_count($"event_id").cast("long").as("popcount"))
      .orderBy($"event_id")
  }

  /** Outer generator: rows whose array is empty survive with NULL.
    * Short docs' token arrays are blanked to make the case real.
    */
  def qExplodeOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        when(size(split($"text", " ")) >= 20, split($"text", " "))
          .otherwise(array().cast("array<string>")).as("toks"))
      .select($"doc_id", explode_outer($"toks").as("word"))
      .orderBy($"doc_id", $"word".asc_nulls_first)
  }

  /** Build map(event_type → count) per user, then extract the five
    * known keys back out as scalar columns (the map itself is never
    * written — parquet map layouts differ across engines).
    */
  def qMapFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
      .groupBy($"user_id")
      .agg(map_from_entries(sort_array(collect_list(struct($"event_type", $"cnt"))))
        .as("m"))
      .select($"user_id",
        coalesce(expr("try_element_at(m, 'click')"), lit(0L)).as("n_click"),
        coalesce(expr("try_element_at(m, 'error')"), lit(0L)).as("n_error"),
        coalesce(expr("try_element_at(m, 'purchase')"), lit(0L)).as("n_purchase"),
        coalesce(expr("try_element_at(m, 'signup')"), lit(0L)).as("n_signup"),
        coalesce(expr("try_element_at(m, 'view')"), lit(0L)).as("n_view"))
      .orderBy($"user_id")
  }

  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .withColumn("avg_k", r6($"sum_k" / $"n"))
      .orderBy($"event_type")
  }

  /** Spark 4 VariantType end-to-end: `parse_json` decodes each props
    * string ONCE into the binary variant encoding, then every access
    * is a typed `variant_get` path lookup — no string re-parse per
    * field, the semi-structured design point for 100 TB event scans
    * (q_json_extract is the classic per-access `get_json_object`
    * twin). Output values are plain JSON math, so the DuckDB oracle
    * checks them from the original strings: typed extraction, a
    * string-typed re-read of the same path, and missing-path → NULL
    * semantics (count = 0, null-skipped).
    */
  def qJsonVariant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = t(s, dir, "events")
      .select($"event_type", parse_json($"props").as("v"))
      .select($"event_type",
        variant_get($"v", "$.k", "bigint").as("k"),
        length(variant_get($"v", "$.k", "string")).cast("long").as("kw"),
        try_variant_get($"v", "$.missing", "bigint").as("miss"))
    v.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"),
        max($"kw").as("max_kw"),
        count($"miss").as("n_missing"))
      .orderBy($"event_type")
  }

  def qStructFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey",
        struct($"c_custkey".as("id"), cents($"c_acctbal").as("bal_c"),
          struct($"c_mktsegment".as("seg")).as("inner")).as("s"))
      .select($"c_custkey",
        $"s.id".as("s_id"),
        ($"s.bal_c" + 100L).as("bal_plus_1"),
        $"s.inner.seg".as("seg_nested"))
      .orderBy($"c_custkey")
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def qPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"user_id")
      .pivot($"event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)
      .orderBy($"user_id")
  }

  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    qPivot(s, dir)
      .unpivot(Array($"user_id"),
        eventTypes.map(col).toArray, "event_type", "cnt")
      .orderBy($"user_id", $"event_type")
  }

  val keys: Seq[Key] = Seq(
    Key("q_str_basic", qStrBasic,
      """SELECT c_custkey,
        |  upper(c_name) AS name_upper,
        |  lower(c_mktsegment) AS seg_lower,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  concat(c_name, '|', c_mktsegment) AS name_seg,
        |  lpad(c_name, 22, '*') AS name_lpad,
        |  rpad(c_mktsegment, 12, '.') AS seg_rpad,
        |  trim(concat('  ', c_name, '  ')) AS name_trim,
        |  replace(c_name, 'Customer', 'Cust') AS name_repl,
        |  length(c_name) AS name_len,
        |  strpos(c_name, '#') AS hash_pos
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Key("q_str_split", qStrSplit,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  string_split(text, ' ')[1] AS first_token
        |FROM documents ORDER BY doc_id""".stripMargin),

    Key("q_str_regexp", qStrRegexp,
      """SELECT c_custkey,
        |  CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS cust_num,
        |  regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS seg_masked,
        |  regexp_matches(c_name, '[0-9]{3}$') AS ends_3digits
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Key("q_str_like", qStrLike,
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%e%' AND (p_name LIKE 'r%' OR p_name LIKE '_r%')
        |ORDER BY p_partkey""".stripMargin),

    Key("q_date_parts", qDateParts,
      """SELECT month_start,
        |  year(month_start) AS yr,
        |  quarter(month_start) AS qtr,
        |  month(month_start) AS mon,
        |  day(month_start) AS dom,
        |  n_orders, sum_total_c
        |FROM (
        |  SELECT date_trunc('month', o_orderdate) AS month_start,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_total_c
        |  FROM orders GROUP BY 1)
        |ORDER BY month_start""".stripMargin),

    Key("q_date_arith", qDateArith,
      """SELECT o_orderkey, o_orderdate,
        |  o_orderdate + INTERVAL 30 DAY AS due_ts,
        |  CAST(date_diff('day', o_orderdate::DATE, DATE '2000-01-01') AS BIGINT)
        |    AS days_to_y2k,
        |  last_day(o_orderdate::DATE) AS eom
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Key("q_ts_funcs", qTsFuncs,
      """SELECT event_id,
        |  hour(ts) AS hr, minute(ts) AS mi, second(ts) AS sec,
        |  CAST(date_diff('second', TIMESTAMP '1970-01-01', ts) AS BIGINT)
        |    AS epoch_s,
        |  date_trunc('hour', ts)::TIMESTAMP AS hour_start
        |FROM events ORDER BY event_id""".stripMargin),

    Key("q_ts_retention", qTsRetention,
      """WITH active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
        |  FROM events)
        |SELECT a.week,
        |  count(*) AS n_active,
        |  CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  round(CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS retention
        |FROM active a LEFT JOIN active b
        |  ON a.user_id = b.user_id AND b.week = a.week + 7
        |GROUP BY a.week ORDER BY a.week""".stripMargin),

    Key("q_ts_ohlc", qTsOhlc,
      """WITH base AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL '15 minutes', ts) AS bar_start,
        |    ts, event_id, CAST(round(value*100) AS BIGINT) AS v_c
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    first_value(v_c) OVER (PARTITION BY event_type, bar_start
        |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS o_c,
        |    last_value(v_c) OVER (PARTITION BY event_type, bar_start
        |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS c_c
        |  FROM base)
        |SELECT event_type, bar_start, count(*) AS n,
        |  max(o_c) AS open_c, max(v_c) AS high_c,
        |  min(v_c) AS low_c, max(c_c) AS close_c
        |FROM w GROUP BY 1, 2 ORDER BY event_type, bar_start""".stripMargin),

    Key("q_ts_anomaly", qTsAnomaly,
      """WITH e AS (
        |  SELECT event_id, event_type, ts, CAST(ts AS DATE) AS d,
        |    CAST(round(value*100) AS BIGINT) AS y
        |  FROM events),
        |w AS (
        |  SELECT *, count(*) OVER win AS n,
        |    sum(CAST(y AS HUGEINT)) OVER win AS sy,
        |    sum(CAST(y AS HUGEINT) * y) OVER win AS syy
        |  FROM e
        |  WINDOW win AS (PARTITION BY event_type, d ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT *, CAST(n AS HUGEINT) * y - sy AS num,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS den
        |  FROM w)
        |SELECT event_id, event_type, d, y AS value_c, n AS n_prev,
        |  round(CAST(num AS DOUBLE) / sqrt(CAST(den AS DOUBLE)), 4) AS z
        |FROM f
        |WHERE n >= 20 AND den > 0 AND num * num > 9 * den
        |ORDER BY event_id""".stripMargin),

    Key("q_ts_interp", qTsInterp,
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |    CAST(round(value*100) AS BIGINT) AS v_c
        |  FROM events),
        |n AS (SELECT *, CASE WHEN v_c = 0 THEN NULL ELSE v_c END AS v_null
        |      FROM e),
        |w AS (
        |  SELECT *,
        |    last_value(v_null IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(CASE WHEN v_null IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER wp AS prev_t,
        |    first_value(v_null IGNORE NULLS) OVER wn AS next_v,
        |    first_value(CASE WHEN v_null IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER wn AS next_t
        |  FROM n
        |  WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wn AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id, v_c,
        |  round(CASE
        |    WHEN v_null IS NOT NULL THEN CAST(v_null AS DOUBLE)
        |    WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
        |         AND next_t <> prev_t THEN
        |      CAST(prev_v AS DOUBLE) + CAST(next_v - prev_v AS DOUBLE)
        |        * (CAST(t - prev_t AS DOUBLE)
        |           / CAST(next_t - prev_t AS DOUBLE))
        |    WHEN prev_v IS NOT NULL THEN CAST(prev_v AS DOUBLE)
        |    WHEN next_v IS NOT NULL THEN CAST(next_v AS DOUBLE)
        |    END, 4) AS v_interp
        |FROM w ORDER BY user_id, event_id""".stripMargin),

    Key("q_zorder_layout", qZorderLayout,
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS BIGINT)
        |      AS dday
        |  FROM orders),
        |m AS (SELECT *, o_custkey % 65536 AS xv, dday % 65536 AS yv FROM o),
        |s1 AS (SELECT *, (xv | (xv << 8)) & 16711935 AS xa,
        |               (yv | (yv << 8)) & 16711935 AS ya FROM m),
        |s2 AS (SELECT *, (xa | (xa << 4)) & 252645135 AS xb,
        |               (ya | (ya << 4)) & 252645135 AS yb FROM s1),
        |s3 AS (SELECT *, (xb | (xb << 2)) & 858993459 AS xc,
        |               (yb | (yb << 2)) & 858993459 AS yc FROM s2),
        |s4 AS (SELECT *, (xc | (xc << 1)) & 1431655765 AS xd,
        |               (yc | (yc << 1)) & 1431655765 AS yd FROM s3)
        |SELECT (xd | (yd << 1)) // 1048576 AS bucket, count(*) AS n,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
        |  min(dday) AS min_day, max(dday) AS max_day
        |FROM s4 GROUP BY 1 ORDER BY bucket""".stripMargin),

    Key("q_math_funcs", qMathFuncs,
      """SELECT event_id, x,
        |  abs(x - 10000) AS abs_dev,
        |  CAST(ceil(x / 100.0) AS BIGINT) AS ceil_units,
        |  CAST(floor(x / 100.0) AS BIGINT) AS floor_units,
        |  x % 7 AS mod7,
        |  CAST(sign(x - 10000) AS BIGINT) AS sign_dev,
        |  round(sqrt(x), 6) AS sqrt_x,
        |  round(ln(x + 1), 6) AS ln_x,
        |  round(log10(x + 1), 6) AS log10_x,
        |  round(exp(x % 5), 6) AS exp_mod5,
        |  round(pow(x % 9, 2.5), 6) AS pow_mod9
        |FROM (SELECT event_id, CAST(round(value*100) AS BIGINT) AS x FROM events)
        |ORDER BY event_id""".stripMargin),

    Key("q_cond_funcs", qCondFuncs,
      """SELECT o_orderkey,
        |  CASE WHEN total_c > 20000000 THEN 'big'
        |       WHEN total_c > 10000000 THEN 'mid'
        |       ELSE 'small' END AS size_tier,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
        |  least(total_c, 15000000) AS capped_c,
        |  greatest(total_c % 1000, 500) AS floor500
        |FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    Key("q_cast_funcs", qCastFuncs,
      """SELECT c_custkey,
        |  CAST(bal_c AS VARCHAR) AS bal_str,
        |  CAST(CAST(bal_c AS VARCHAR) AS BIGINT) AS bal_roundtrip,
        |  CAST(floor(bal_c / 100.0) AS BIGINT) AS bal_units,
        |  try_cast(c_name AS DOUBLE) AS junk_cast,
        |  try_cast(substring(c_name, 10, 9) AS BIGINT) AS num_from_name,
        |  DATE '1995-03-15' AS fixed_date,
        |  CAST(bal_c AS DOUBLE) AS bal_dbl
        |FROM (SELECT c_custkey, c_name,
        |      CAST(round(c_acctbal*100) AS BIGINT) AS bal_c FROM customer)
        |ORDER BY c_custkey""".stripMargin),

    Key("q_array_funcs", qArrayFuncs,
      """SELECT vec_id, label,
        |  len(emb) AS dim,
        |  round(emb[1], 6) AS e1,
        |  round(emb[64], 6) AS e64,
        |  round(list_reduce(list_prepend(0.0, emb[1:3]), (a, x) -> a + x), 6)
        |    AS sum_first3,
        |  len(list_filter(emb, x -> x > 0)) AS n_pos,
        |  round(sqrt(list_reduce(list_prepend(0.0,
        |    list_transform(emb, x -> x * x)), (a, x) -> a + x)), 6) AS l2_norm
        |FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
        |ORDER BY vec_id""".stripMargin),

    Key("q_array_hof", qArrayHof,
      """SELECT vec_id,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(emb, x -> x * 2)), (a, x) -> a + x), 6) AS sum_scaled,
        |  len(list_filter(emb, x -> x < 0)) AS n_neg,
        |  round(list_reduce(list_prepend(0.0,
        |    list_zip(emb, emb).apply(x -> x[1] * x[2])), (a, x) -> a + x), 6)
        |    AS self_dot
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |ORDER BY vec_id""".stripMargin),

    Key("q_explode", qExplode,
      """SELECT doc_id,
        |  CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
        |  unnest(string_split(text, ' ')) AS word
        |FROM documents ORDER BY doc_id, pos""".stripMargin),

    Key("q_str_encode", qStrEncode,
      """SELECT c_custkey,
        |  to_base64(encode(c_mktsegment)) AS seg_b64,
        |  decode(from_base64(to_base64(encode(c_mktsegment)))) AS seg_roundtrip,
        |  hex(encode(c_name)) AS name_hex,
        |  decode(from_hex(hex(encode(c_name)))) AS name_roundtrip
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Key("q_date_seq", qDateSeq,
      """SELECT o_orderkey,
        |  unnest(generate_series(date_trunc('month', o_orderdate),
        |    date_trunc('month', o_orderdate + INTERVAL 90 DAY),
        |    INTERVAL 1 MONTH))::TIMESTAMP AS month_start
        |FROM orders WHERE o_orderkey < 100
        |ORDER BY o_orderkey, month_start""".stripMargin),

    Key("q_math_bitwise", qMathBitwise,
      """SELECT event_id,
        |  event_id & user_id AS band,
        |  event_id | user_id AS bor,
        |  xor(event_id, user_id) AS bxor,
        |  user_id << 3 AS shl3,
        |  event_id >> 2 AS shr2,
        |  CAST(bit_count(event_id) AS BIGINT) AS popcount
        |FROM events ORDER BY event_id""".stripMargin),

    Key("q_explode_outer", qExplodeOuter,
      """SELECT d.doc_id, u.word
        |FROM (SELECT doc_id,
        |        CASE WHEN len(string_split(text, ' ')) >= 20
        |             THEN string_split(text, ' ')
        |             ELSE [] END AS toks
        |      FROM documents) d
        |LEFT JOIN LATERAL (SELECT unnest(d.toks) AS word) u ON true
        |ORDER BY d.doc_id, u.word ASC NULLS FIRST""".stripMargin),

    Key("q_map_funcs", qMapFuncs,
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    Key("q_json_extract", qJsonExtract,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) / count(*), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Key("q_json_variant", qJsonVariant,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  max(length(json_extract_string(props, '$.k'))) AS max_kw,
        |  count(CAST(json_extract_string(props, '$.missing') AS BIGINT))
        |    AS n_missing
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Key("q_struct_funcs", qStructFuncs,
      """SELECT c_custkey,
        |  c_custkey AS s_id,
        |  CAST(round(c_acctbal*100) AS BIGINT) + 100 AS bal_plus_1,
        |  c_mktsegment AS seg_nested
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Key("q_pivot", qPivot,
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    Key("q_unpivot", qUnpivot,
      """WITH p AS (
        |  SELECT user_id,
        |    count(*) FILTER (WHERE event_type = 'click') AS click,
        |    count(*) FILTER (WHERE event_type = 'error') AS error,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |    count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |    count(*) FILTER (WHERE event_type = 'view') AS view
        |  FROM events GROUP BY user_id)
        |SELECT user_id, event_type, cnt
        |FROM p UNPIVOT (cnt FOR event_type IN (click, error, purchase, signup, view))
        |ORDER BY user_id, event_type""".stripMargin)
  )
}
