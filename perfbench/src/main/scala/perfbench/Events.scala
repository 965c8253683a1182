package perfbench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}

import graft.ops.Streaming
import graft.sources.SyntheticEvents
import graft.streaming.RunningCountProcessor

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** `events_stream`: `SyntheticEvents` rows fed through `MemoryStream`
  * into three engine pipelines running side by side — `windowed_agg`
  * (`Streaming.tumblingStream`), `interval_join`
  * (`Streaming.attributionJoin`) and `stateful_count`
  * (`RunningCountProcessor` on RocksDB).
  *
  * All pipelines first take one priming chunk at once (first query
  * start to the last first commit is the cold start). Then an OPEN
  * loop on this one thread offers [[Rate]] events/s to every pipeline
  * in ticks of [[TickMs]] for `--seconds`, on a schedule that does not
  * wait for the queries; each event is stamped with the time its tick
  * was due. Then each pipeline in turn drains a [[Drain]]-event backlog
  * (closed loop), and two sentinel rows flush the watermark. Every
  * streamed output is compared with the same transform run as a batch
  * over the same rows. The seed offsets the event-id range.
  */
object Events {
  /** Events per second offered to each pipeline, far below the drain
    * rate, so the open loop's queue does not grow.
    */
  val Rate = 2000
  val TickMs = 20
  val Drain = 40000

  /** Set-up generates the events; the returned part runs them. */
  def setUp(spark: SparkSession, o: Map[String, String]): () => Seq[(String, String)] = {
    val perTick = math.max(1, math.round(Rate * TickMs / 1000.0).toInt)
    val ticks = math.max(1, (o("seconds").toDouble * 1000 / TickMs).toInt)
    val nOpen = perTick * (ticks + 1)
    val evs = ordered(o("seed").toLong * 10000000L, nOpen + Drain)
    val tuples = evs.map(e => (e.user_id, math.round(e.value * 100)))
    () => timed(spark, evs, tuples, nOpen, perTick, ticks)
  }

  private def timed(spark: SparkSession, evs: IndexedSeq[Ev], tuples: IndexedSeq[(Long, Long)],
      nOpen: Int, perTick: Int, ticks: Int): Seq[(String, String)] = {
    import spark.implicits._
    val parts = math.min(8, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    val pipes: Seq[Pipe[_]] = Seq(
      new Pipe[Ev](spark, "windowed_agg", evs, nOpen, perTick, sentinels(evs.last),
        parts, ds => Streaming.tumblingStream(ds.toDF()), OutputMode.Append(),
        rows => sortedStrings(rows.filter(_.getAs[String]("event_type") != "sentinel")),
        sortedStrings(Streaming.tumbling(evs.toDF()).collect().toSeq)),
      new Pipe[Ev](spark, "interval_join", evs, nOpen, perTick, sentinels(evs.last),
        parts, ds => joinPairs(ds.toDF().withWatermark("ts", "30 minutes")),
        OutputMode.Append(), sortedStrings,
        sortedStrings(joinPairs(evs.toDF()).collect().toSeq)),
      withRocks(spark) {
        new Pipe[(Long, Long)](spark, "stateful_count", tuples, nOpen, perTick, Nil,
          parts, ds => ds.groupByKey(_._1).transformWithState(new RunningCountProcessor,
            TimeMode.None(), OutputMode.Update()).toDF("user_id", "n", "sum_c"),
          OutputMode.Update(), finalCounts,
          tuples.groupBy(_._1).map { case (u, vs) =>
            s"[$u,${vs.length},${vs.map(_._2).sum}]" }.toSeq.sorted)
      })
    try {
      pipes.foreach(_.prime())
      pipes.foreach(_.primed())
      val t0 = Clock.now()
      (1 to ticks).foreach { k =>
        val due = t0 + k * TickMs
        val wait = due - Clock.now()
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        pipes.foreach(_.offer(k, due))
      }
      pipes.foreach(_.drain())
    } finally pipes.foreach(_.stop())
    Seq("rate" -> Json.num(Rate), "tick_ms" -> Json.num(TickMs),
      "per_tick" -> perTick.toString,
      "pipelines" -> Json.arr(pipes.map(_.json)))
  }

  /** `n` generator rows from `first`, in event-time order. */
  def ordered(first: Long, n: Int): IndexedSeq[Ev] =
    (first until first + n).map { i =>
      val (id, tsMicros, user, tpe, value, _) = SyntheticEvents.row(i)
      Ev(id, new Timestamp(tsMicros / 1000L), user, tpe, value)
    }.sortBy(e => (e.ts.getTime, e.event_id))

  /** Two rows past every real window: the first moves the watermark,
    * the second's batch emits (no-data batches are off).
    */
  private def sentinels(last: Ev): Seq[Seq[Ev]] = (0 to 1).map { k =>
    Seq(Ev(-1L - k, new Timestamp(last.ts.getTime + (12 + k) * 3600 * 1000L),
      -1L, "sentinel", 0.0))
  }

  private def joinPairs(ev: DataFrame): DataFrame = {
    def side(t: String, p: String) = ev.filter(col("event_type") === t)
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        col("ts").as(s"${p}_ts"))
    Streaming.attributionJoin(side("purchase", "p"), side("click", "c"))
      .select("p_id", "c_id")
  }

  private def sortedStrings(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Running totals are monotone: each key's final state is its
    * largest-n update.
    */
  private def finalCounts(rows: Seq[Row]): Seq[String] =
    rows.groupBy(_.getLong(0)).map { case (u, rs) =>
      val r = rs.maxBy(_.getLong(1)); s"[$u,${r.getLong(1)},${r.getLong(2)}]"
    }.toSeq.sorted

  /** The state store provider is fixed when a query starts. */
  private def withRocks[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def offsetOf(s: String): Long =
    if (s == null || s == "null") -1L else s.trim.toLong

  /** One running pipeline: its source, query, sink and bookkeeping.
    * MemoryStream offset k holds open-loop chunk k (chunk 0 primes).
    */
  class Pipe[A: Encoder](spark: SparkSession, val name: String,
      rows: IndexedSeq[A], nOpen: Int, perTick: Int, flush: Seq[Seq[A]],
      parts: Int, pipeline: Dataset[A] => DataFrame, mode: OutputMode,
      canon: Seq[Row] => Seq[String], expected: => Seq[String]) {
    private val mem = MemoryStream[A](parts)(implicitly[Encoder[A]], spark.sqlContext)
    private val out = new ConcurrentLinkedQueue[Row]()
    private val commits = new ConcurrentHashMap[Long, Double]()
    private val chunks = rows.take(nOpen).grouped(perTick).toIndexedSeq
    private val ticks = mutable.ArrayBuffer[(Double, Double, Int)]()
    private val backlog = mutable.ArrayBuffer[(Double, Long)]()
    private var err = ""
    private var firstCommit, drainStart, drainEnd = Double.NaN
    private var offsets = Map.empty[Long, (Long, Long)]
    private var ok = false
    private val start = Clock.now()
    private val q: StreamingQuery = pipeline(mem.toDS()).writeStream.outputMode(mode)
      .queryName(name)
      .option("checkpointLocation",
        s"${spark.conf.get("spark.sql.streaming.checkpointLocation")}/$name")
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.collect().foreach(out.add)
        commits.put(id, Clock.now()); ()
      }.start()

    private def guard(body: => Unit): Unit =
      if (err.isEmpty) try body catch {
        case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }

    /** Offer chunk 0; [[primed]] waits for its commit. All pipelines
      * take their first batch at once, so their start-up overlaps.
      */
    def prime(): Unit = guard(mem.addData(chunks(0)))

    def primed(): Unit = guard {
      q.processAllAvailable()
      firstCommit = commits.asScala.get(0L).map(_.doubleValue).getOrElse(Clock.now())
    }

    def offer(k: Int, due: Double): Unit = guard {
      val sent = Clock.now()
      mem.addData(chunks(k))
      ticks += ((due, sent, chunks(k).length))
      val done = Option(q.lastProgress).map(p => offsetOf(p.sources(0).endOffset) + 1)
        .getOrElse(0L)
      backlog += ((sent, (k + 1L - done) * perTick))
    }

    def drain(): Unit = guard {
      q.processAllAvailable()
      drainStart = Clock.now()
      mem.addData(rows.drop(nOpen))
      q.processAllAvailable()
      drainEnd = Clock.now()
      flush.foreach { s => mem.addData(s); q.processAllAvailable() }
    }

    /** Stop the query and check its output against the batch twin. */
    def stop(): Unit = {
      q.stop()
      offsets = q.recentProgress.filter(_.sources.nonEmpty).map { p =>
        p.batchId -> (offsetOf(p.sources(0).startOffset), offsetOf(p.sources(0).endOffset))
      }.toMap
      ok = err.isEmpty && {
        val got = canon(out.asScala.toSeq)
        val want = expected
        if (got != want) err = s"streamed ${got.size} rows != batch twin ${want.size} rows"
        got == want
      }
    }

    def json: String = Json.obj(
      "name" -> Json.str(name), "start" -> Json.num(start),
      "first_commit" -> Json.num(firstCommit),
      "ticks" -> Json.arr(ticks.map { case (due, sent, n) =>
        Json.arr(Seq(Json.num(due), Json.num(sent), n.toString)) }),
      "backlog" -> Json.arr(backlog.map { case (t, b) =>
        Json.arr(Seq(Json.num(t), b.toString)) }),
      "drain_start" -> Json.num(drainStart), "drain_end" -> Json.num(drainEnd),
      "drain_events" -> (rows.length - nOpen).toString,
      "batches" -> Json.arr(commits.asScala.toSeq.sortBy(_._1).map { case (b, t) =>
        val (s, e) = offsets.getOrElse(b, (-2L, -2L))
        Json.arr(Seq(b.toString, Json.num(t), s.toString, e.toString)) }),
      "ok" -> ok.toString, "err" -> Json.str(err))
  }
}
