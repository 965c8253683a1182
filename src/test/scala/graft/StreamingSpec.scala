package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.{Streaming, core}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** SURVEY §2.9 runtime behaviors that no batch SQL can express:
  * watermark late-drop, cross-batch dedup/session state, stream-static
  * join, stateful per-key aggregation, output modes. All driven
  * through MemoryStream + processAllAvailable (synchronous).
  */
class StreamingSpec extends SparkSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private var sinkId = 0
  private def freshSink(): String = { sinkId += 1; s"sink_$sinkId" }

  test("streaming tumbling counts == batch tumbling on same data") {
    val s = spark
    import s.implicits._
    val batch = Streaming.qStreamTumbling(spark, sf)
      .collect().map(_.toString).sorted

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rows = core.t(spark, sf, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect()
    mem.addData(rows.toSeq)
    val sink = freshSink()
    val q = Streaming.tumbling(mem.toDF)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(sink).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table(sink)
      .orderBy($"window_start", $"event_type")
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      s"streaming (${streamed.length}) != batch (${batch.length})")
  }

  test("streaming OHLC bars == batch OHLC on same data (min_by/max_by)") {
    // the streaming twin of q_ts_ohlc: first/last-in-bar cannot use
    // window functions under streaming, but min_by/max_by over the
    // (ts, event_id) total order is the same deterministic pick and
    // IS a combinable streaming aggregate
    val s = spark
    import s.implicits._
    val batch = graft.ops.Scalars.ohlc(core.t(spark, sf, "events"))
      .collect().map(_.toString).sorted

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(core.t(spark, sf, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect().toSeq)
    val sink = freshSink()
    val q = mem.toDF
      .select($"event_type", $"ts", $"event_id",
        core.cents($"value").as("v_c"),
        window($"ts", "15 minutes").getField("start").as("bar_start"))
      .groupBy($"event_type", $"bar_start")
      .agg(count(lit(1)).as("n"),
        min_by($"v_c", struct($"ts", $"event_id")).as("open_c"),
        max($"v_c").as("high_c"),
        min($"v_c").as("low_c"),
        max_by($"v_c", struct($"ts", $"event_id")).as("close_c"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(sink).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table(sink)
      .select($"event_type", $"bar_start", $"n", $"open_c",
        $"high_c", $"low_c", $"close_c")
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      s"streaming OHLC (${streamed.length}) != batch (${batch.length})")
  }

  test("streaming topk: rank-in-foreachBatch == batch rank on same data") {
    // agg runs IN the stream (update mode), the rank runs per
    // micro-batch in the sink via the SAME topkOfWindows function the
    // t2 key uses — the standard two-stage shape for ranking a
    // streaming aggregate
    val s = spark
    import s.implicits._
    val batch = Streaming.qStreamTopk(spark, sf)
      .collect().map(_.toString).sorted

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(core.t(spark, sf, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect().toSeq)
    val latest = scala.collection.mutable.Map[String, org.apache.spark.sql.Row]()
    val q = Streaming.tumbling(mem.toDF)
      .writeStream.outputMode(OutputMode.Complete())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        Streaming.topkOfWindows(df).collect()
          .foreach(r => latest(s"${r.get(0)}#${r.get(1)}") = r)
        ()
      }.start()
    q.processAllAvailable(); q.stop()

    val streamed = latest.values.map(_.toString).toArray.sorted
    assert(streamed.sameElements(batch),
      s"streaming (${streamed.length}) != batch (${batch.length})")
  }

  test("watermark drops events later than the delay (append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sink = freshSink()
    val q = Streaming.tumblingStream(mem.toDF, "30 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sink).start()

    // batch 1: two events in the 10:00 window, one at 12:00
    mem.addData(Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
      Ev(3, ts("2024-01-01 12:00:00"), 1, "click", 1.0)))
    q.processAllAvailable()
    // watermark now 11:30 → the 10:00 window is closed. This arrives late:
    mem.addData(Seq(Ev(4, ts("2024-01-01 10:20:00"), 1, "click", 1.0)))
    q.processAllAvailable()
    // advance watermark far enough to flush every window
    mem.addData(Seq(Ev(5, ts("2024-01-01 15:00:00"), 1, "click", 1.0)))
    q.processAllAvailable(); q.stop()

    val tenOclock = spark.table(sink)
      .filter($"window_start" === ts("2024-01-01 10:00:00"))
      .agg(sum($"n")).head().getLong(0)
    assert(tenOclock == 2, s"late event leaked into closed window: $tenOclock")
  }

  test("streaming dedup keeps one row per key across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sink = freshSink()
    val q = Streaming.dedupStream(mem.toDF, "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sink).start()
    mem.addData(Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 1, "click", 2.0), // dup key
      Ev(3, ts("2024-01-01 10:02:00"), 2, "view", 3.0)))
    q.processAllAvailable()
    mem.addData(Seq(
      Ev(4, ts("2024-01-01 10:03:00"), 1, "click", 4.0), // dup across batch
      Ev(5, ts("2024-01-01 10:04:00"), 2, "click", 5.0)))
    q.processAllAvailable(); q.stop()
    val got = spark.table(sink).select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "click"), (2L, "view"), (2L, "click")))
    assert(spark.table(sink).count() == 3)
  }

  test("session windows merge across micro-batches, split on 30-min gap") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sink = freshSink()
    val q = Streaming.sessionsStream(mem.toDF, "30 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sink).start()
    mem.addData(Seq(Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0)))
    q.processAllAvailable()
    // 10 min later: merges into the same session despite new batch
    mem.addData(Seq(Ev(2, ts("2024-01-01 10:10:00"), 7, "click", 1.0)))
    q.processAllAvailable()
    // exactly 30 min after the last event: still MERGES (ranges touch);
    // 30 min + 1 s: new session
    mem.addData(Seq(Ev(3, ts("2024-01-01 10:40:00"), 7, "click", 1.0)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(6, ts("2024-01-01 11:10:01"), 7, "click", 1.0)))
    q.processAllAvailable()
    // far-future events flush state (watermark advances at end of a
    // batch, so closed sessions are emitted in the following batch)
    mem.addData(Seq(Ev(4, ts("2024-01-02 00:00:00"), 7, "click", 1.0)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(5, ts("2024-01-03 00:00:00"), 7, "click", 1.0)))
    q.processAllAvailable(); q.stop()
    val sess = spark.table(sink).filter($"user_id" === 7)
      .orderBy($"session_start")
      .select($"session_start", $"n_events").collect()
    assert(sess.length >= 2)
    assert(sess(0).getTimestamp(0) == ts("2024-01-01 10:00:00"))
    assert(sess(0).getLong(1) == 3,
      "gap of exactly 30 min must merge into the first session")
    assert(sess(1).getTimestamp(0) == ts("2024-01-01 11:10:01"),
      "gap of 30 min + 1 s must start a new session")
  }

  test("stream-static join enriches events with the customer dim") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val customer = core.t(spark, sf, "customer")
    val sink = freshSink()
    val events = mem.toDF
    val q = events
      .join(customer, events("user_id") === customer("c_custkey"), "inner")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"c_name",
        $"c_mktsegment")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sink).start()
    mem.addData(Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 0, "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 999999, "click", 1.0))) // no such cust
    q.processAllAvailable(); q.stop()
    val rows = spark.table(sink).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("c_name").startsWith("Customer#"))
  }

  test("stateful per-key running count accumulates across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val counted = mem.toDS.groupByKey(_.user_id)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + evs.size
          state.update(n)
          (user, n)
      }
    val sink = freshSink()
    val q = counted.toDF("user_id", "n_events")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(sink).start()
    mem.addData(Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 1, "view", 1.0)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(3, ts("2024-01-01 10:02:00"), 1, "click", 1.0)))
    q.processAllAvailable(); q.stop()
    val latest = spark.table(sink).groupBy($"user_id")
      .agg(max($"n_events")).head()
    assert(latest.getLong(1) == 3, "state must accumulate 2 + 1 events")
  }

  test("update mode emits revised counts; complete mode emits all") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sink = freshSink()
    // update mode without watermark: revised rows re-emitted per batch
    val q = Streaming.tumbling(mem.toDF)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(sink).start()
    mem.addData(Seq(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0)))
    q.processAllAvailable()
    mem.addData(Seq(Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0)))
    q.processAllAvailable(); q.stop()
    // the same window appears twice with n=1 then n=2
    val ns = spark.table(sink).orderBy($"n").select($"n").collect().map(_.getLong(0))
    assert(ns.sameElements(Array(1L, 2L)), s"got ${ns.mkString(",")}")
  }
}
