package graft

import org.apache.spark.sql.functions._

import graft.ops.{Aggregates, Windows, core}

/** SURVEY §2.4 (advanced) + §2.5: windows and grouping analytics. */
class WindowAggSpec extends SparkSuite {

  for ((name, fn) <- Windows.queries ++ Aggregates.queries) {
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
    }
  }

  test("q_agg_gini: coefficients in [0,1); zero on a constant column") {
    import spark.implicits._
    val rows = ops.Aggregates.qAggGini(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"gini out of range: $r")
    }
    // algebraic fixed point: equal values ⇒ numerator cancels to 0
    // ts written as raw nanos longs: core.events rebuilds timestamps
    // with `ts div 1000`, the fixture's TIMESTAMP(NANOS) convention
    val const = spark.range(0, 100).select(
      lit("t").as("event_type"), $"id".as("event_id"),
      lit(7.0).as("value"), ($"id" * 1000000000L).as("ts"),
      $"id".as("user_id"), lit("{}").as("props"))
    val dir = tempDir("gini").toString
    const.write.parquet(s"$dir/events.parquet")
    val g0 = ops.Aggregates.qAggGini(spark, dir).head().getAs[Double]("gini")
    assert(g0 == 0.0)
  }

  test("q_scd2_intervals: intervals tile, exactly one current row per user") {
    import spark.implicits._
    val df = ops.Windows.qScd2Intervals(spark, sf).cache()
    try {
      // one open interval per user
      val multiCurrent = df.filter($"is_current")
        .groupBy($"user_id").count().filter($"count" =!= 1).count()
      assert(multiCurrent == 0)
      // each closed interval's valid_to must equal the next row's
      // valid_from (no gap, no overlap)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"seq")
      val broken = df
        .withColumn("next_from", org.apache.spark.sql.functions.lead($"valid_from", 1).over(w))
        .filter($"valid_to".isNotNull && $"valid_to" =!= $"next_from")
        .count()
      assert(broken == 0)
    } finally df.unpersist()
  }

  test("q_win_topk_group keeps at most 3 rows per customer") {
    val df = Windows.qWinTopkGroup(spark, sf)
    val maxPerCust = df.groupBy("o_custkey").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerCust <= 3)
  }

  test("q_win_rank has real ties (rank skips, dense_rank doesn't)") {
    val df = Windows.qWinRank(spark, sf)
    assert(df.filter(col("rnk") =!= col("drnk")).count() > 0,
      "expected at least one tie-induced rank/dense_rank divergence")
  }

  test("sessionize splits strictly after 30 min, like the stream boundary") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    // user 1: gap of exactly 1800 s stays one session; user 2: 1801 s
    // splits; user 3: 1800.8 s must also split (sub-second precision —
    // whole-second truncation would wrongly merge it)
    val ev = Seq(
      (1L, 1L, ts(0L)), (1L, 2L, ts(1800L)),
      (2L, 3L, ts(0L)), (2L, 4L, ts(1801L)),
      (3L, 5L, new Timestamp(100L)), (3L, 6L, new Timestamp(1800900L)))
      .toDF("user_id", "event_id", "ts")
    val out = ops.Windows.sessionize(ev)
      .select($"user_id", $"session_seq", $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 1L), (2L, 2L, 1L),
        (3L, 1L, 1L), (3L, 2L, 1L)),
      s"boundary semantics drifted: $out")
  }

  test("batch sessionize agrees with session_window on session counts") {
    import spark.implicits._
    // both merge a touching 30-min gap and split strictly greater —
    // two independent formulations (lag+runsum vs session_window)
    // must count the same sessions per user
    val viaWin = ops.Windows.qWinSessionize(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
    val viaSessionWindow = ops.core.t(spark, sf, "events")
      .groupBy($"user_id",
        session_window($"ts", "30 minutes"))
      .count()
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
    assert(viaWin.exceptAll(viaSessionWindow).count() == 0 &&
      viaSessionWindow.exceptAll(viaWin).count() == 0,
      "sessionize and session_window must produce identical session counts")
  }

  test("ntileRangePartitioned matches the global-window ntile exactly") {
    import spark.implicits._
    val cust = core.t(spark, sf, "customer")
      .select($"c_custkey", ops.core.cents($"c_acctbal").as("acctbal_c"))
    val global = Windows.qWinNtile(spark, sf)
      .select($"c_custkey", $"quartile")
    val ranged = Windows
      .ntileRangePartitioned(cust, 4, 8, $"acctbal_c", $"c_custkey")
      .select($"c_custkey", $"ntile".as("quartile"))
    assert(global.exceptAll(ranged).count() == 0 &&
      ranged.exceptAll(global).count() == 0,
      "distributed ntile must be row-identical to ntile(4)")
  }

  test("q_win_ntile quartiles are balanced within 1") {
    val sizes = Windows.qWinNtile(spark, sf)
      .groupBy("quartile").count().collect().map(_.getLong(1))
    assert(sizes.length == 4 && sizes.max - sizes.min <= 1)
  }

  test("rollup row count = groups + flag subtotals + grand total") {
    val n = Aggregates.qAggRollup(spark, sf).count()
    assert(n == 6 + 3 + 1) // 6 flag×status groups, 3 flags, 1 total
  }

  test("cube adds the status-only slices") {
    val n = Aggregates.qAggCube(spark, sf).count()
    assert(n == 6 + 3 + 2 + 1)
  }

  test("approx_count_distinct within 5% of exact") {
    import spark.implicits._
    val ev = core.t(spark, sf, "events")
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact"))
    val approx = Aggregates.qAggApproxHll(spark, sf)
    val joined = exact.join(approx, "event_type")
      .select($"event_type", $"exact", $"approx_users").collect()
    joined.foreach { r =>
      val (e, a) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"${r.getString(0)}: $a vs $e")
    }
  }

  test("approx_top_k is exact when capacity exceeds cardinality") {
    import spark.implicits._
    val exact = core.t(spark, sf, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"event_type").limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sk = Aggregates.qAggApproxTopk(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sk == exact, s"sketch $sk != exact $exact")
  }

  test("percentile_approx p95 lands between p90 and max") {
    import spark.implicits._
    val ev = core.t(spark, sf, "events")
      .select($"event_type", graft.ops.core.cents($"value").as("value_c"))
    val bounds = ev.groupBy($"event_type").agg(
      expr("percentile(value_c, 0.90)").as("p90"),
      max($"value_c").cast("double").as("mx"))
    val ap = Aggregates.qAggApproxQuantile(spark, sf)
    bounds.join(ap, "event_type").collect().foreach { r =>
      val (p90, mx) = (r.getDouble(1), r.getDouble(2))
      val p95 = r.getLong(3).toDouble
      assert(p95 >= p90 - 1 && p95 <= mx, s"${r.getString(0)}: $p95 not in [$p90,$mx]")
    }
  }
}
