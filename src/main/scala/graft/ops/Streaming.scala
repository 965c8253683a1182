package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import core._

/** Event-time operators (SURVEY §2.9) — the "single events" half of
  * the reference capability sentence (`/root/reference/README.md:2`).
  *
  * Structured Streaming is incrementalized batch (SIGMOD 2018), so
  * every event-time operator here has one logic definition usable in
  * two modes: the batch form (checked against the DuckDB oracle at
  * t2) and the streaming form over `readStream` (checked by
  * MemoryStream runtime tests for watermark/state behaviors that no
  * batch SQL can express).
  */
object Streaming extends Family {

  // ----------------------------------------------------- shared transforms

  /** 1-hour tumbling window counts per event type; window start
    * flattened to a scalar column. Works on bounded or unbounded input.
    */
  def tumbling(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select($"ts", $"event_type", cents($"value").as("value_c"))
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value_c").as("sum_value_c"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"sum_value_c")
  }

  /** 1-hour window sliding every 15 minutes (each event in 4 windows). */
  def sliding(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select($"ts", $"event_type", cents($"value").as("value_c"))
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value_c").as("sum_value_c"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"sum_value_c")
  }

  /** Per-user session windows with a 30-minute gap. Boundary semantics
    * pinned by a unit test: Spark merges sessions whose ranges touch,
    * so a gap of exactly 30 minutes still MERGES; only a strictly
    * larger gap starts a new session.
    */
  def sessions(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select($"ts", $"user_id", cents($"value").as("value_c"))
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value_c").as("sum_value_c"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events", $"sum_value_c")
  }

  // ----------------------------------------------------- batch (t2) forms

  def qStreamTumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tumbling(t(s, dir, "events")).orderBy($"window_start", $"event_type")
  }

  def qStreamSliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sliding(t(s, dir, "events")).orderBy($"window_start", $"event_type")
  }

  def qStreamSession(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessions(t(s, dir, "events")).orderBy($"user_id", $"session_start")
  }

  /** Deterministic dedup: one event per (user_id, event_type) keeping
    * the smallest event_id — NOT dropDuplicates, which keeps an
    * arbitrary row (SURVEY §5.3). The streaming runtime analog
    * (dropDuplicates + watermark) is covered by unit tests.
    */
  def dedupBatch(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"event_id")
    events
      .select($"user_id", $"event_type", $"event_id", $"ts",
        cents($"value").as("value_c"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
  }

  def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupBatch(t(s, dir, "events")).orderBy($"user_id", $"event_type")
  }

  /** Purchase-to-click attribution: each purchase joined to the same
    * user's clicks in the preceding 10 minutes — the canonical
    * stream-stream interval join. ONE definition serves both modes:
    * here the bounded (t2) form over two filtered slices of the events
    * table; StreamStreamJoinSpec runs the same transform over two
    * MemoryStreams with watermarks bounding the join state. At scale
    * both sides hash-shuffle on user_id and the time bound prunes
    * state/probe ranges — no cross product.
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val s = purchases.sparkSession
    import s.implicits._
    purchases.join(clicks,
      $"p_user" === $"c_user" &&
        $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES"))
  }

  def qStreamJoinInterval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
    attributionJoin(p, c)
      .select($"p_id", $"c_id", $"p_user".as("user_id"),
        // microsecond delta — unix_timestamp would truncate to seconds;
        // DIV (integer floor) instead of Column./ (double) so the value
        // is exact-integer on both engines (DuckDB twin uses //)
        expr("(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000")
          .as("lead_sec"))
      .orderBy($"p_id", $"c_id")
  }

  /** Conversion funnel signup → view → purchase with SEQUENTIAL
    * semantics: a stage counts only if it happens at-or-after the
    * user's entry into the previous stage (min-after-min, not mere
    * presence). Three user-keyed conditional aggregations — at scale
    * each is one combinable shuffle on user_id, and the stage frames
    * shrink monotonically.
    */
  def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"user_id", $"event_type", $"ts")
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("s_ts"))
    val s2 = ev.filter($"event_type" === "view")
      .join(s1, "user_id").filter($"ts" >= $"s_ts")
      .groupBy($"user_id").agg(min($"ts").as("v_ts"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id").filter($"ts" >= $"v_ts")
      .groupBy($"user_id").agg(min($"ts").as("p_ts"))
    val rows = Seq(
      (1, "signup", s1), (2, "view_after_signup", s2),
      (3, "purchase_after_view", s3))
    rows.map { case (stage, name, df) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(stage).as("stage"), lit(name).as("stage_name"),
            $"n_users")
      }.reduce(_.unionAll(_))
      .orderBy($"stage")
  }

  /** Behavior-sequence transition matrix: for each user's event
    * stream ordered by (ts, event_id), count (event_type → next
    * event_type) transitions and the mean gap in seconds — the
    * Markov-chain summary session-analysis and bot-detection
    * pipelines start from. Mean gap is exact-integer µs sums divided
    * once at the end (deterministic, no float accumulation).
    *
    * Scale shape: one user-keyed window (lead), then a combinable
    * (type, next) aggregation — both shuffles are on natural keys.
    */
  def qEventsTransitions(s: SparkSession, dir: String): DataFrame =
    transitions(t(s, dir, "events"))

  /** The reusable transform behind [[qEventsTransitions]] (also
    * driven at 5M rows by ScaleProbe).
    */
  def transitions(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .withColumn("gap_us",
        lead(unix_micros($"ts"), 1).over(w) - unix_micros($"ts"))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("n"),
        sum($"gap_us".cast("decimal(38,0)")).as("sum_gap_us"))
      .select($"event_type", $"next_type", $"n",
        r6($"sum_gap_us".cast("double") /
          ($"n".cast("double") * 1000000.0)).as("avg_gap_sec"))
      .orderBy($"event_type", $"next_type")
  }

  /** Rank the tumbling window-type counts to the top-3 event types
    * per window (ties → event_type asc). In batch this composes
    * directly onto [[tumbling]]; in streaming, ranking a streaming
    * aggregate needs a second stateful stage, so the standard shape is
    * agg-in-stream + rank-in-sink: StreamingSpec drives [[tumblingStream]]
    * into a foreachBatch sink that applies THIS SAME function per
    * micro-batch — one rank definition, two modes.
    *
    * Scale shape: counts are combinable (map-side partials); the rank
    * window partitions by window_start, so WindowGroupLimit prunes to
    * k rows per partition before the final exchange.
    */
  def topkOfWindows(counts: DataFrame, k: Int = 3): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"window_start")
      .orderBy($"n".desc, $"event_type".asc)
    counts.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"window_start", $"rk", $"event_type", $"n", $"sum_value_c")
  }

  def qStreamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    topkOfWindows(tumbling(t(s, dir, "events")))
      .orderBy($"window_start", $"rk")
  }

  // ------------------------------------------------- streaming-only forms

  /** Streaming tumbling aggregation with a watermark: late events
    * beyond `delay` are dropped; append mode emits a window only after
    * the watermark passes its end.
    */
  def tumblingStream(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    tumbling(events.withWatermark("ts", delay))

  /** Streaming sessionization with watermark-gated state eviction. */
  def sessionsStream(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    sessions(events.withWatermark("ts", delay))

  /** Streaming dedup on (user_id, event_type) with bounded state. */
  def dedupStream(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicates("user_id", "event_type")

  // ------------------------------------------------------------- registries

  private val valC = core.centsSql("value")

  val keys: Seq[Key] = Seq(
    Key("q_stream_tumbling", qStreamTumbling,
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, CAST(sum($valC) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // Sliding windows, epoch-aligned like Spark's window(): every event
    // belongs to the 4 slots ending at-or-after it. Window start is
    // rebuilt with timezone-free timestamp arithmetic (to_timestamp
    // would yield TIMESTAMPTZ and shift under a non-UTC session).
    Key("q_stream_sliding", qStreamSliding,
      s"""SELECT TIMESTAMP '1970-01-01'
        |    + CAST((CAST(floor(epoch(ts)/900) AS BIGINT) - slot) * 900 AS BIGINT)
        |      * INTERVAL 1 SECOND AS window_start,
        |  event_type, count(*) AS n, CAST(sum($valC) AS BIGINT) AS sum_value_c
        |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) s(slot)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // Gaps-and-islands sessionization: Spark's session_window merges
    // touching ranges, so a gap of exactly 30 minutes merges; only a
    // strictly greater gap breaks (verified empirically by
    // StreamingSpec's boundary test).
    Key("q_stream_session", qStreamSession,
      s"""WITH flagged AS (
        |  SELECT user_id, ts, $valC AS value_c,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |islands AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, CAST(sum(value_c) AS BIGINT) AS sum_value_c
        |FROM islands GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin),

    Key("q_stream_dedup", qStreamDedup,
      s"""SELECT user_id, event_type, event_id, ts, $valC AS value_c
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    Key("q_stream_topk", qStreamTopk,
      s"""WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    count(*) AS n, CAST(sum($valC) AS BIGINT) AS sum_value_c
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, rk, event_type, n, sum_value_c FROM (
        |  SELECT *, row_number() OVER (PARTITION BY window_start
        |    ORDER BY n DESC, event_type ASC) AS rk
        |  FROM counts)
        |WHERE rk <= 3 ORDER BY window_start, rk""".stripMargin),

    // Interval join: µs delta floored to whole seconds with integer
    // division on both engines (Spark DIV ↔ DuckDB //) — no double
    // rounding in the comparison path.
    Key("q_stream_join_interval", qStreamJoinInterval,
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  p.user_id AS user_id,
        |  date_diff('microsecond', c.ts, p.ts) // 1000000 AS lead_sec
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE
        |ORDER BY p_id, c_id""".stripMargin),

    Key("q_events_funnel", qEventsFunnel,
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS v_ts
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts >= s1.s_ts GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.v_ts GROUP BY 1)
        |SELECT 1 AS stage, 'signup' AS stage_name,
        |  count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'view_after_signup', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase_after_view', count(*) FROM s3
        |ORDER BY stage""".stripMargin),

    // mean gap from exact integer µs sums, divided once — HUGEINT
    // sum cast to DOUBLE matches Spark's DECIMAL(38,0) → double
    Key("q_events_transitions", qEventsTransitions,
      """WITH nx AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
        |    date_diff('microsecond', ts, lead(ts) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n,
        |  round(CAST(sum(CAST(gap_us AS HUGEINT)) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS avg_gap_sec
        |FROM nx WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin)
  )
}
