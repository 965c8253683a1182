package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}

import graft.ops.{Streaming, core}
import graft.sources.{SyntheticEvents, TxLog}
import graft.streaming.RunningCountProcessor

/** Measured streaming throughput/latency (VERDICT r7 task 1): the
  * repo's streaming surface was functionally proven (StreamingSpec /
  * StreamStreamJoinSpec / TransformWithStateSpec) but carried zero
  * performance evidence, and a streaming user's first question is
  * "events/sec at what batch latency". Drives the three real stateful
  * pipeline shapes end-to-end over >= 1 M deterministic synthetic
  * events (the SyntheticEvents generator) fed through MemoryStream in
  * fixed-size chunks, one micro-batch per chunk:
  *
  *   - `windowed_agg`   — 1-h tumbling counts + 30-min watermark,
  *                        append mode (Streaming.tumblingStream);
  *   - `interval_join`  — purchase-to-click attribution, both sides
  *                        watermarked, time-bounded state
  *                        (Streaming.attributionJoin);
  *   - `stateful_count` — per-user running (count, sum) via Spark 4
  *                        transformWithState on the RocksDB provider
  *                        (RunningCountProcessor).
  *
  * Methodology notes:
  *   - the stream arrives in event-time order (driver-side sort of
  *     the generated rows): realistic for a log stream, and it makes
  *     watermark semantics lossless so every run ends with an EXACT
  *     batch-equivalence check against the same transform run in
  *     batch mode (the registered q_stream_tumbling /
  *     q_stream_join_interval logic) — a bench row only counts if
  *     `matches_batch` is true;
  *   - per-micro-batch latency is measured synchronously around
  *     addData + processAllAvailable (includes offset commit), and a
  *     trailing sentinel event 12 h past the last real event closes
  *     all real windows / join ranges before the equivalence check;
  *   - each pipeline is warmed once at small scale first so the timed
  *     run doesn't pay one-time codegen/state-store classloading;
  *   - local[4] by default (SPARK_GRAFT_CPUS): a streaming executor's
  *     realistic core count, and the config the spec floor pins.
  *
  * Writes STREAMBENCH.json (arg 1, default repo-relative) and prints
  * the same JSON to stdout. StreamBenchSpec asserts the >= 100 k
  * events/s windowed-agg floor at local[4] plus exact batch
  * equivalence for all three pipelines.
  */
object StreamBench {

  case class SEv(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class PipeResult(rows: Long, batches: Int, wallSec: Double,
      p50Ms: Double, p95Ms: Double, maxMs: Double, matchesBatch: Boolean) {
    def rowsPerSec: Double = rows / wallSec
  }

  /** Deterministic time-ordered event stream: generator rows sorted
    * by (ts, event_id). ts micros from the generator are whole
    * seconds, so the Timestamp millis conversion is exact.
    */
  def orderedEvents(n: Int): IndexedSeq[SEv] =
    (0L until n.toLong).map { i =>
      val (id, tsMicros, user, tpe, value, _) = SyntheticEvents.row(i)
      SEv(id, new Timestamp(tsMicros / 1000L), user, tpe, value)
    }.sortBy(e => (e.ts.getTime, e.event_id))

  /** The two-sentinel watermark flush for the append-mode pipelines:
    * the first sentinel (12 h past the last real event) advances the
    * watermark past every real window / join range / session, the
    * second's data batch performs the emission (no-data micro-batches
    * are off, so emission needs a next batch). Type "sentinel" and
    * user -1 keep them out of every real group.
    */
  private def sentinels(events: IndexedSeq[SEv]): Seq[SEv] = {
    val t = events.last.ts.getTime + 12L * 3600 * 1000
    (0 to 1).map(k => SEv(-1L - k, new Timestamp(t + k * 3600 * 1000L), -1L,
      "sentinel", 0.0))
  }

  /** Run feeds synchronously, one micro-batch per feed; per-batch
    * wall latency in ms.
    */
  private def timeBatches(q: StreamingQuery,
      feeds: Iterator[() => Unit]): Vector[Double] = {
    val lat = Vector.newBuilder[Double]
    val debug = sys.env.contains("STREAM_BENCH_DEBUG")
    feeds.foreach { feed =>
      val t0 = System.nanoTime()
      feed()
      val t1 = System.nanoTime()
      q.processAllAvailable()
      val t2 = System.nanoTime()
      lat += (t2 - t0) / 1e6
      if (debug) System.err.println(
        f"[streambench-debug] feed=${(t1 - t0) / 1e6}%.0fms " +
          f"process=${(t2 - t1) / 1e6}%.0fms " +
          s"durationMs=${q.lastProgress.durationMs}")
    }
    lat.result()
  }

  private def pct(xs: Vector[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
  }

  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshSink(tag: String): String =
    s"streambench_${tag}_${sinkSeq.incrementAndGet()}"

  /** No-data micro-batches off, for [[core.withConf]]. By default
    * Spark schedules an EXTRA empty micro-batch after every data batch
    * that advanced the watermark (to emit/evict eagerly), and
    * processAllAvailable waits for it — a measured ~2× per-batch cost
    * on these pipelines that buys only sub-batch emission latency.
    * Disabled, emission rides the NEXT data batch (same results; the
    * drains feed two [[sentinels]] so the final windows still flush).
    * Scoped, not session-wide: the suite's other streaming tests rely
    * on the eager default.
    */
  private val NoDataBatchesOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** The RocksDB state store provider, for [[core.withConf]]: the
    * provider transformWithState runs on, and the one whose state can
    * outgrow memory (the state-scale and recovery probes).
    */
  private val RocksDbState =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** One timed memory-sink pipeline run: start `out` into a fresh
    * memory table, feed `rows` through [[timeBatches]] in `chunk`-row
    * micro-batches, feed each `flush` row as one more micro-batch, and
    * stop; the wall time runs from the first feed to the last flush.
    * Then `matches` checks the sink table against the batch twin, and
    * the table is dropped.
    */
  private def runPipeline[A](spark: SparkSession, mem: MemoryStream[A],
      out: DataFrame, tag: String, mode: OutputMode, rows: IndexedSeq[A],
      chunk: Int, flush: Seq[A] = Nil)(matches: DataFrame => Boolean): PipeResult = {
    val sink = freshSink(tag)
    val q = out.writeStream.outputMode(mode)
      .format("memory").queryName(sink).start()
    val t0 = System.nanoTime()
    val lat = timeBatches(q,
      rows.grouped(chunk).map(c => () => { mem.addData(c); () }))
    flush.foreach { r => mem.addData(Seq(r)); q.processAllAvailable() }
    val wall = (System.nanoTime() - t0) / 1e9
    q.stop()
    try PipeResult(rows.length.toLong, lat.length, wall,
      pct(lat, 0.5), pct(lat, 0.95), lat.max, matches(spark.table(sink)))
    finally spark.catalog.dropTempView(sink)
  }

  /** Fresh temp dirs, one per tag, deleted with
    * [[graft.sources.TxLog.deleteTree]] however `body` ends.
    */
  private def withScratchDirs[T](tags: String*)(
      body: Seq[java.nio.file.Path] => T): T = {
    val dirs = tags.map(t => java.nio.file.Files
      .createTempDirectory(s"graft_sbench_$t").toAbsolutePath)
    try body(dirs) finally dirs.foreach(TxLog.deleteTree)
  }

  /** Source partitions per micro-batch: a plain MemoryStream exposes
    * each batch as ONE partition, so the whole map side (window
    * bucketing, cents, partial agg) would run in a single task
    * regardless of cores — measured as the dominant addBatch cost.
    * MemoryStream(numPartitions) redistributes each batch across N
    * partitions, modeling a real source (Kafka: one partition per
    * topic partition).
    */
  private def feedParts(spark: SparkSession): Int =
    math.min(8, spark.sparkContext.defaultParallelism)

  // ------------------------------------------------------------ pipelines

  /** 1-h tumbling counts, 30-min watermark, append mode. */
  def benchWindowedAgg(spark: SparkSession, events: IndexedSeq[SEv],
      chunk: Int): PipeResult = core.withConf(spark, NoDataBatchesOff) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEv](feedParts(spark))
    runPipeline(spark, mem, Streaming.tumblingStream(mem.toDF), "win",
        OutputMode.Append(), events, chunk, sentinels(events)) { sink =>
      // exact equivalence: append-mode emissions == the registered batch
      // twin's aggregation over the same rows (sentinel's own window
      // never seals, and the batch side never sees the sentinel)
      val streamed = sink
        .orderBy($"window_start", $"event_type").collect().map(_.toString).toSeq
      val batch = Streaming.tumbling(events.toDF())
        .orderBy($"window_start", $"event_type").collect().map(_.toString).toSeq
      streamed == batch
    }
  }

  /** Purchase-to-click attribution join — the registered
    * q_stream_join_interval shape exactly: ONE event stream,
    * watermarked once, self-joined as its purchase and click slices
    * (a two-source feed would also race the always-on trigger into
    * ragged extra micro-batches). Both join sides inherit the source
    * watermark; the time bound sizes the state.
    */
  def benchIntervalJoin(spark: SparkSession, events: IndexedSeq[SEv],
      chunk: Int): PipeResult = core.withConf(spark, NoDataBatchesOff) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def shape(df: DataFrame, tpe: String, pfx: String): DataFrame = df
      .filter($"event_type" === tpe)
      .select($"event_id".as(s"${pfx}_id"), $"user_id".as(s"${pfx}_user"),
        $"ts".as(s"${pfx}_ts"))
    val mem = MemoryStream[SEv](feedParts(spark))
    val base = mem.toDF.withWatermark("ts", "30 minutes")
    val joined = Streaming.attributionJoin(
      shape(base, "purchase", "p"), shape(base, "click", "c"))
    runPipeline(spark, mem, joined, "join", OutputMode.Append(), events,
        chunk, sentinels(events)) { sink =>
      // sorted multisets, not sets (ADVICE r8): a duplicate emission
      // from a replayed/ragged batch must FAIL the equivalence check,
      // exactly like the windowed-agg pipeline's ordered compare
      val streamed = sink
        .select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val ev = events.toDF()
      val batch = Streaming.attributionJoin(
          shape(ev, "purchase", "p"), shape(ev, "click", "c"))
        .select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      streamed == batch
    }
  }

  /** Per-user SESSION WINDOWS (30-min gap) with watermark-gated state
    * eviction — the `session_window` stateful shape (round-12 VERDICT
    * task 5; the runtime spec existed, the throughput row didn't).
    * Append mode: a session emits only after the watermark passes its
    * end, so the drain needs the same two-sentinel pattern as the
    * windowed agg. Sentinel rows (user -1) are excluded from the
    * equivalence compare on both sides.
    */
  def benchSessionWindow(spark: SparkSession, events: IndexedSeq[SEv],
      chunk: Int): PipeResult = core.withConf(spark, NoDataBatchesOff) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEv](feedParts(spark))
    runPipeline(spark, mem, Streaming.sessionsStream(mem.toDF), "sess",
        OutputMode.Append(), events, chunk, sentinels(events)) { sink =>
      val streamed = sink.where($"user_id" =!= -1L)
        .orderBy($"user_id", $"session_start")
        .collect().map(_.toString).toSeq
      val batch = Streaming.sessions(events.toDF())
        .orderBy($"user_id", $"session_start")
        .collect().map(_.toString).toSeq
      streamed == batch
    }
  }

  /** STREAMING DEDUP (`dropDuplicates` over (user_id, event_type) +
    * watermark — round-12 VERDICT task 5). Emission is immediate
    * (state answers "seen before?" in-batch), so no sentinels.
    * Determinism caveat, checked honestly: with a multi-partition
    * feed, WHICH row of a key's first batch wins is partition-race
    * nondeterministic, so the equivalence gate checks the exact
    * dedup CONTRACT instead of bitwise rows — exactly one emission
    * per key, the key set equals the batch key set, and every
    * emitted row is a genuine member of its key's input group.
    */
  def benchStreamingDedup(spark: SparkSession, events: IndexedSeq[SEv],
      chunk: Int): PipeResult = core.withConf(spark, NoDataBatchesOff) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEv](feedParts(spark))
    runPipeline(spark, mem, Streaming.dedupStream(mem.toDF), "dedup",
        OutputMode.Append(), events, chunk) { sink =>
      val streamed = sink
        .select($"user_id", $"event_type", $"event_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val inputByKey = events.groupBy(e => (e.user_id, e.event_type))
      val oneEmissionPerKey =
        streamed.map(s => (s._1, s._2)).distinct.size == streamed.size
      val keysMatch =
        streamed.map(s => (s._1, s._2)).toSet == inputByKey.keySet
      val membersOk = streamed.forall { case (u, tpe, id) =>
        inputByKey.get((u, tpe)).exists(_.exists(_.event_id == id))
      }
      oneEmissionPerKey && keysMatch && membersOk
    }
  }

  /** Per-user running (count, sum) over `(user_id, c)` rows:
    * [[RunningCountProcessor]] under transformWithState, one Update row
    * per key a batch changes. The stateful-count, state-scale and
    * recovery rows all run this query.
    */
  private def runningCounts(spark: SparkSession,
      mem: MemoryStream[(Long, Long)]): DataFrame = {
    import spark.implicits._
    mem.toDS().groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n", "sum_c")
  }

  /** Whether the [[runningCounts]] rows in `sink` end in the batch
    * (count, sum) per user over `fed`, compared both ways. The totals
    * are monotone, so each user's final state is its max-n row: a lost
    * batch reads low, a double-processed one high, and a replayed sink
    * append not at all.
    */
  private def countsMatchBatch(spark: SparkSession, sink: DataFrame,
      fed: Seq[(Long, Long)]): Boolean = {
    import spark.implicits._
    val streamed = sink
      .groupBy($"user_id")
      .agg(max(struct($"n", $"sum_c")).as("fin"))
      .select($"user_id", $"fin.n".as("n"), $"fin.sum_c".as("sum_c"))
    val batch = fed.toDF("user_id", "c")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"c").as("sum_c"))
    streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty
  }

  /** [[runningCounts]] on the RocksDB state store provider. */
  def benchStatefulCount(spark: SparkSession, events: IndexedSeq[SEv],
      chunk: Int): PipeResult = core.withConf(spark, RocksDbState) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tuples = events.map(e => (e.user_id, math.round(e.value * 100)))
    val mem = MemoryStream[(Long, Long)](feedParts(spark))
    runPipeline(spark, mem, runningCounts(spark, mem), "tws",
        OutputMode.Update(), tuples, chunk) { sink =>
      countsMatchBatch(spark, sink, tuples)
    }
  }

  /** Deterministic skewed item universe for the heavy-hitters
    * pipeline: geometric head (item `hot_k` carries ~2^-(k+1) of the
    * stream) over a uniform cold tail — the classic shape Misra–Gries
    * exists for. Pure integer hashing, no RNG.
    */
  def skewedStreamItems(n: Int): IndexedSeq[String] =
    (0 until n).map { i =>
      val h = scala.util.hashing.MurmurHash3.stringHash(i.toString) & 0x7fffffff
      val lvl = java.lang.Integer.numberOfTrailingZeros(h | (1 << 20))
      if (lvl < 20) s"hot_$lvl" else s"cold_${h >>> 8}"
    }

  /** Streaming heavy hitters (VERDICT r8 task 4): the sharded
    * Misra–Gries `transformWithState` sketch over a skewed item
    * stream — the repo's most state-disciplined streaming op (O(k)
    * bytes per shard forever) but previously without a throughput
    * number. Same matches-batch discipline as the other rows, via the
    * two-pass contract the batch key uses: union of the final shard
    * summaries → candidate set (⊇ every globally-heavy item by the
    * sharded-MG guarantee) → exact recount at threshold n/64 ≡ the
    * identical exact recount computed in batch over the same items.
    */
  def benchHeavyHitters(spark: SparkSession, events: IndexedSeq[SEv],
      chunk: Int): PipeResult = core.withConf(spark, RocksDbState) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = events.length
    val items = skewedStreamItems(n)
    val shards = feedParts(spark) * 2
    val tuples = items.map(i => (math.floorMod(i.hashCode, shards), i))
    val mem = MemoryStream[(Int, String)](feedParts(spark))
    val sketches = mem.toDS().groupByKey(_._1)
      .transformWithState(new graft.streaming.MisraGriesProcessor(128),
        TimeMode.None(), OutputMode.Update())
      .toDF("shard", "seq", "items", "counts", "err")
    runPipeline(spark, mem, sketches, "mg", OutputMode.Update(), tuples,
        chunk) { sink =>
      val candidates = sink
        .groupBy($"shard")
        .agg(max_by($"items", $"seq").as("items"))
        .select(explode($"items").as("item"))
        .as[String].collect().toSet
      val itemsDf = items.toDF("item")
      def recountOf(df: DataFrame) = df
        .groupBy($"item").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 64 > n.toLong)
        .orderBy($"item").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val streamed = recountOf(
        itemsDf.filter($"item".isin(candidates.toSeq: _*)))
      val batch = recountOf(itemsDf)
      streamed == batch && streamed.nonEmpty
    }
  }

  case class StateScaleResult(rows: Long, keys: Long, batches: Int,
      wallSec: Double, p50Ms: Double, p95Ms: Double,
      firstThirdP50Ms: Double, lastThirdP50Ms: Double,
      stateRows: Long, stateBytes: Long, matchesBatch: Boolean) {
    def rowsPerSec: Double = rows / wallSec
  }

  /** State-scale probe (VERDICT r8 task 3a): per-key running totals
    * where the keyed state (`nKeys` distinct users, default 5 M) far
    * exceeds any micro-batch — the 100 TB streaming risk is state ≫
    * memory, and the ~31 k-user rows above never leave the RocksDB
    * memtable. Feeds one insert per key then a second pass of updates
    * over the first fifth of the keyspace (both store paths), reports
    * per-batch latency GROWTH (first-third vs last-third p50 — flat
    * means state size does not degrade per-batch cost) and the state
    * store's own row/byte counters from the final progress. The
    * equivalence check is fully distributed (no driver-side map of
    * 5 M keys): [[countsMatchBatch]].
    */
  def benchStateScale(spark: SparkSession, nKeys: Int,
      chunk: Int): StateScaleResult = core.withConf(spark, RocksDbState) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val inserts = (0L until nKeys.toLong).map(k => (k, k % 97L))
    val updates = (0L until nKeys.toLong / 5).map(k => (k, (k % 89L) + 1L))
    val tuples = inserts ++ updates
    val mem = MemoryStream[(Long, Long)](feedParts(spark))
    val sink = freshSink("scale")
    val q = runningCounts(spark, mem)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(sink).start()
    val t0 = System.nanoTime()
    val lat = timeBatches(q,
      tuples.grouped(chunk).map(c => () => { mem.addData(c); () }))
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.lastProgress
    val (stateRows, stateBytes) = prog.stateOperators.headOption
      .map(so => (so.numRowsTotal, so.memoryUsedBytes)).getOrElse((-1L, -1L))
    q.stop()
    val matches = countsMatchBatch(spark, spark.table(sink), tuples)
    spark.catalog.dropTempView(sink)
    val third = math.max(1, lat.length / 3)
    StateScaleResult(tuples.length.toLong, nKeys.toLong, lat.length, wall,
      pct(lat, 0.5), pct(lat, 0.95),
      pct(lat.take(third), 0.5), pct(lat.takeRight(third), 0.5),
      stateRows, stateBytes, matches)
  }

  case class RecoveryResult(events: Long, keys: Long, stateRows: Long,
      steadyP50Ms: Double, recoveryFirstBatchMs: Double,
      matchesBatch: Boolean)

  /** Kill-and-restart cost (VERDICT r8 task 3b): RecoverySpec proves a
    * checkpointed restart is CORRECT; this measures what it COSTS with
    * real state behind it. Phase A builds `nKeys` keys of running-
    * total state through a checkpointed transformWithState query and
    * stops it cleanly; the restarted query's first micro-batch then
    * pays state-store restore from the checkpoint on every partition.
    * recovery_first_batch_ms vs the steady p50 is the restart tax.
    * Exactly-once: per-key totals are monotone, so max(n, sum) per key
    * across BOTH phases' sinks must equal the batch group-by over all
    * fed rows — a lost batch reads low, a double-processed one high.
    */
  def benchRecovery(spark: SparkSession, nKeys: Int,
      chunk: Int): RecoveryResult = core.withConf(spark, RocksDbState) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the memory sink cannot recover from a checkpoint in Update
    // mode — use the production pattern instead: foreachBatch
    // appending parquet (recovery-capable; a replayed batch's
    // duplicate append is harmless to the max-of-monotone check,
    // while state-level double counting still reads high)
    withScratchDirs("recovery_ckpt", "recovery_out") { dirs =>
      val Seq(ckpt, outDir) = dirs.map(_.toString)
      val phaseA = (0L until nKeys.toLong).map(k => (k, k % 97L))
      val phaseB = (0L until nKeys.toLong / 10).map(k => (k, (k % 89L) + 1L))
      val mem = MemoryStream[(Long, Long)](feedParts(spark))
      def startQuery(): StreamingQuery =
        runningCounts(spark, mem)
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(outDir)
          }
          .start()
      val qA = startQuery()
      val latA = timeBatches(qA,
        phaseA.grouped(chunk).map(c => () => { mem.addData(c); () }))
      val stateRows = qA.lastProgress.stateOperators.headOption
        .map(_.numRowsTotal).getOrElse(-1L)
      qA.stop()
      // restart from the checkpoint: the first batch pays restore
      val t0 = System.nanoTime()
      val qB = startQuery()
      mem.addData(phaseB)
      qB.processAllAvailable()
      val recoveryMs = (System.nanoTime() - t0) / 1e6
      qB.stop()
      RecoveryResult((phaseA.length + phaseB.length).toLong, nKeys.toLong,
        stateRows, pct(latA, 0.5), recoveryMs,
        countsMatchBatch(spark, spark.read.parquet(outDir), phaseA ++ phaseB))
    }
  }

  // ----------------------------------------------------- txlog drain

  final case class DrainResult(rows: Long, fedRows: Long,
      srcCommits: Long, batches: Int, wallSec: Double, exact: Boolean) {
    // the rate counts only rows fed INSIDE the timed window (the
    // bootstrap commit that precedes the stream is excluded from
    // both the clock and the numerator)
    def rowsPerSec: Double = fedRows / wallSec
  }

  /** One published drain row: [[DrainWindows]] timed windows, each on
    * fresh tables. One window of a few seconds swings more than 2x
    * between runs on a shared host, so the row reports the median
    * window by rows/s with the slowest and fastest rates; it is exact
    * only if every window was.
    */
  private final case class DrainRow(median: DrainResult,
      minRowsPerSec: Double, maxRowsPerSec: Double, exact: Boolean) {
    def json: String =
      f"""{"rows":${median.rows},"fed_rows":${median.fedRows},""" +
        f""""src_commits":${median.srcCommits},""" +
        f""""batches":${median.batches},"wall_sec":${median.wallSec}%.3f,""" +
        f""""windows":$DrainWindows,"rows_per_sec":${median.rowsPerSec}%.0f,""" +
        f""""rows_per_sec_min":$minRowsPerSec%.0f,""" +
        f""""rows_per_sec_max":$maxRowsPerSec%.0f,"exact":$exact}"""
  }

  private val DrainWindows = 3

  private def drainRow(window: => DrainResult): DrainRow = {
    val rs = Vector.fill(DrainWindows)(window).sortBy(_.rowsPerSec)
    DrainRow(rs(rs.size / 2), rs.head.rowsPerSec, rs.last.rowsPerSec,
      rs.forall(_.exact))
  }

  /** The round-11 lakehouse loop under the bench harness: a LIVE
    * `readStream.format("txlog")` query (offsets = table versions)
    * draining into the native `writeStream.format("txlog")` sink
    * (epoch-idempotent appendOnce) while the source table receives
    * one append commit per chunk — the bronze→silver shape with
    * exactly-once on both edges. The row only counts if the drained
    * table is EXACTLY the source frame (count + both set
    * differences empty).
    */
  def benchTxLogDrain(spark: SparkSession, n: Int,
                      chunk: Int): DrainResult =
    drain(spark, n, chunk, spark.range(_, _).toDF("id"), Nil) { (src, dst) =>
      val srcDf = TxLog.read(spark, src)
      val dstDf = TxLog.read(spark, dst)
      dstDf.exceptAll(srcDf).isEmpty && srcDf.exceptAll(dstDf).isEmpty
    }

  /** PARTITIONED-SINK drain (round-13 VERDICT #7): the same
    * txlog→txlog loop, but the sink declares a partition spec via
    * `.partitionBy("p")` — each micro-batch stages per-partition
    * files whose membership lands as add-line `part` tuples.
    * Exactness is checked through PARTITION-PRUNED facade reads of
    * the replica (each partition's rows compared to the source's
    * through the stats-skipping path), so the row proves the spec
    * actually landed and prunes, not just that rows arrived.
    */
  def benchTxLogDrainPartitioned(spark: SparkSession, n: Int,
                                 chunk: Int): DrainResult = {
    val parts = 4L
    drain(spark, n, chunk, (lo, hi) =>
      spark.range(lo, hi).select(col("id"), (col("id") % parts).as("p")),
      Seq("p")) { (src, dst) =>
      // per-partition compare THROUGH the pruned facade read — the
      // replica must serve each partition correctly from its part
      // tuples, not merely hold the right multiset overall
      (0L until parts).forall { pv =>
        val s = TxLog.read(spark, src).where(col("p") === pv)
        val d = spark.read.format("txlog").option("path", dst)
          .load().where(col("p") === pv)
        d.exceptAll(s).isEmpty && s.exceptAll(d).isEmpty
      }
    }
  }

  /** The one txlog→txlog drain loop: `rows(lo, hi)` makes each chunk,
    * the sink partitions by `partitionBy`, and `sameAs(src, dst)`
    * checks the drained table against the source once the row count
    * matches.
    */
  private def drain(spark: SparkSession, n: Int, chunk: Int,
      rows: (Long, Long) => DataFrame, partitionBy: Seq[String])(
      sameAs: (String, String) => Boolean): DrainResult = {
    require(n >= 2 * chunk,
      s"txlog drain needs >= 2 chunks inside the timed window (n=$n, chunk=$chunk)")
    withScratchDirs("txsrc", "txdst", "txck") { dirs =>
      val Seq(src, dst, ck) = dirs.map(_.toString)
      // version 1 exists before the stream starts (schema inference);
      // this bootstrap commit is OUTSIDE the timed window and excluded
      // from the rate's numerator
      TxLog.append(spark, src, rows(0L, chunk.toLong))
      val q = spark.readStream.format("txlog").option("path", src)
        .load()
        .writeStream.format("txlog").option("path", dst)
        .partitionBy(partitionBy: _*)
        .option("checkpointLocation", ck).start()
      val commits = (n / chunk).toLong
      try {
        val t0 = System.nanoTime()
        (1L until commits).foreach { b =>
          TxLog.append(spark, src, rows(b * chunk, (b + 1) * chunk))
        }
        q.processAllAvailable()
        val wallSec = (System.nanoTime() - t0) / 1e9
        val batches = q.recentProgress.count(_.numInputRows > 0)
        val drained = TxLog.read(spark, dst).count()
        val exact = drained == commits * chunk && sameAs(src, dst)
        DrainResult(drained, (commits - 1) * chunk, commits, batches,
          wallSec, exact)
      } finally q.stop()
    }
  }

  final case class CdcResult(changeRows: Long, srcCommits: Long,
                             batches: Long, wallSec: Double, exact: Boolean) {
    def rowsPerSec: Double = changeRows / wallSec
  }

  /** CDC REPLICATION loop (round-12): a source txlog table takes a
    * timed mix of APPEND / UPSERT / DELETE commits while a CDC-mode
    * stream (`readChangeFeed`) applies each change batch to a replica
    * via [[graft.sources.TxLog.applyChanges]] (net-per-key +
    * one atomic merge). The rate is CHANGE ROWS per second THROUGH
    * THE WHOLE LOOP — feed, diff-based feed computation, netting,
    * locate-and-rewrite apply — and the row is only published if the
    * replica is exactly the source at drain (the exactness gate every
    * STREAMBENCH row carries). This is the merge-loop baseline's
    * streaming twin: bottleneck is replica rewrite bandwidth, as it
    * should be.
    */
  def benchCdcReplicate(spark: SparkSession, n: Int,
                        chunk: Int): CdcResult = {
    import spark.implicits._
    withScratchDirs("cdcsrc", "cdcrep", "cdcck") { dirs =>
      val Seq(src, rep, ck) = dirs
      def mk(lo: Long, hi: Long, tag: Long) =
        spark.range(lo, hi).select(col("id"),
          (col("id") * 2 + tag).as("v"))
      // bootstrap commit outside the timed window (schema inference)
      TxLog.append(spark, src.toString, mk(0, chunk.toLong, 0))
      // exact fed-row accounting in the batch hook (numInputRows for a
      // computed-leaf DSv1 source is an engine-side estimate)
      val fed = new java.util.concurrent.atomic.AtomicLong
      val nonEmpty = new java.util.concurrent.atomic.AtomicLong
      val q = spark.readStream.format("txlog").option("path", src.toString)
        .option("readChangeFeed", "true").option("changeKey", "id").load()
        .writeStream.option("checkpointLocation", ck.toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val b = df.persist()
          try {
            val rows = b.count()
            if (rows > 0) {
              fed.addAndGet(rows); nonEmpty.incrementAndGet()
              TxLog.applyChanges(spark, rep.toString, b, "id")
            }
          } finally b.unpersist()
          ()
        }.start()
      val rounds = math.max(1, n / chunk / 3)
      try {
        q.processAllAvailable() // replica bootstrapped, untimed
        val preRows = fed.get(); val preBatches = nonEmpty.get()
        val t0 = System.nanoTime()
        (0 until rounds).foreach { r =>
          val base = (r + 1).toLong * chunk
          TxLog.append(spark, src.toString, mk(base, base + chunk, 0))
          TxLog.upsert(spark, src.toString,
            mk(base, base + chunk / 2, 1), "id")
          TxLog.delete(spark, src.toString,
            spark.range(base + chunk / 2, base + chunk / 2 + chunk / 10)
              .toDF("id"), "id")
        }
        q.processAllAvailable()
        val wallSec = (System.nanoTime() - t0) / 1e9
        val changeRows = fed.get() - preRows
        val batches = nonEmpty.get() - preBatches
        val srcDf = TxLog.read(spark, src.toString)
        val repDf = TxLog.read(spark, rep.toString)
        val exact = repDf.exceptAll(srcDf).isEmpty &&
          srcDf.exceptAll(repDf).isEmpty
        CdcResult(changeRows, 3L * rounds, batches, wallSec, exact)
      } finally q.stop()
    }
  }

  // ------------------------------------------------------------ harness

  val pipelines: Seq[(String, (SparkSession, IndexedSeq[SEv], Int) => PipeResult)] =
    Seq(
      "windowed_agg" -> (benchWindowedAgg _),
      "interval_join" -> (benchIntervalJoin _),
      "session_window" -> (benchSessionWindow _),
      "streaming_dedup" -> (benchStreamingDedup _),
      "stateful_count" -> (benchStatefulCount _),
      "heavy_hitters" -> (benchHeavyHitters _))

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("STREAMBENCH.json")
    val n = 1000000 // timed events per pipeline
    val chunk = 100000 // events per micro-batch
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = Bench.loadavg()
    val warm = orderedEvents(20000)
    val timed = orderedEvents(n)
    val results = pipelines.map { case (name, fn) =>
      fn(spark, warm, warm.length) // one-time codegen/state-store cost
      val r = fn(spark, timed, chunk)
      System.err.println(f"[streambench] $name%-14s ${r.rows} rows in " +
        f"${r.wallSec}%.2f s = ${r.rowsPerSec}%.0f rows/s " +
        f"(p50 ${r.p50Ms}%.0f ms, p95 ${r.p95Ms}%.0f ms, " +
        f"matches_batch=${r.matchesBatch})")
      name -> r
    }
    // state-scale + recovery probes (VERDICT r8 task 3): smaller warm
    // pass first, then the measured run
    val stateKeys = 5000000
    benchStateScale(spark, 100000, 50000)
    val sc = benchStateScale(spark, stateKeys, chunk)
    System.err.println(f"[streambench] state_scale    ${sc.rows} rows / " +
      f"${sc.keys} keys in ${sc.wallSec}%.2f s = ${sc.rowsPerSec}%.0f rows/s " +
      f"(p50 ${sc.p50Ms}%.0f ms; first-third ${sc.firstThirdP50Ms}%.0f -> " +
      f"last-third ${sc.lastThirdP50Ms}%.0f ms; state ${sc.stateRows} rows / " +
      f"${sc.stateBytes} B; matches_batch=${sc.matchesBatch})")
    val recovKeys = 1000000
    benchRecovery(spark, 50000, 25000)
    val rc = benchRecovery(spark, recovKeys, chunk)
    System.err.println(f"[streambench] recovery       ${rc.keys} keys of state: " +
      f"steady p50 ${rc.steadyP50Ms}%.0f ms, restart first batch " +
      f"${rc.recoveryFirstBatchMs}%.0f ms (matches_batch=${rc.matchesBatch})")
    benchTxLogDrain(spark, 50000, 25000) // warm the txlog stream path
    def report(name: String, r: DrainRow, note: String = ""): Unit =
      System.err.println(f"[streambench] $name%-14s ${r.median.fedRows} fed rows / " +
        f"${r.median.srcCommits} commits in ${r.median.wallSec}%.2f s = " +
        f"${r.median.rowsPerSec}%.0f rows/s, median of $DrainWindows windows " +
        f"(${r.minRowsPerSec}%.0f-${r.maxRowsPerSec}%.0f; " +
        f"${r.median.batches} micro-batches, exact=${r.exact}$note)")
    val td = drainRow(benchTxLogDrain(spark, n, chunk))
    require(td.exact, "txlog drain diverged from the source frame — " +
      "refusing to publish a throughput row for an inexact pipeline")
    report("txlog_drain", td)
    // 10x-volume drain (round-12 VERDICT task 5): holds the rate past
    // page-cache scale — 10 M rows through source AND sink
    val td10 = drainRow(benchTxLogDrain(spark, 10 * n, 10 * chunk))
    require(td10.exact, "10x txlog drain diverged from the source frame")
    report("txlog_drain10x", td10)
    // partitioned-sink drain (round-13): the sink declares a spec via
    // .partitionBy; exactness is per-partition through PRUNED reads
    benchTxLogDrainPartitioned(spark, 50000, 25000) // warm
    val tdp = drainRow(benchTxLogDrainPartitioned(spark, n, chunk))
    require(tdp.exact, "partitioned txlog drain diverged on a " +
      "partition-pruned compare — refusing to publish the row")
    report("txlog_drainPart", tdp, " via per-partition pruned reads")
    // CDC replication loop (round-12): change-rows/s through
    // readChangeFeed -> foreachBatch applyChanges, exactness enforced
    benchCdcReplicate(spark, 6000, 2000) // warm the CDC + merge path
    val cdc = benchCdcReplicate(spark, n / 10, chunk / 10)
    require(cdc.exact, "CDC replica diverged from the source frame — " +
      "refusing to publish a throughput row for an inexact pipeline")
    System.err.println(f"[streambench] cdc_replicate  ${cdc.changeRows} " +
      f"change rows / ${cdc.srcCommits} commits in ${cdc.wallSec}%.2f s = " +
      f"${cdc.rowsPerSec}%.0f rows/s (${cdc.batches} micro-batches, " +
      f"exact=${cdc.exact})")
    val body = results.map { case (name, r) =>
      f""""$name":{"rows":${r.rows},"batches":${r.batches},""" +
        f""""wall_sec":${r.wallSec}%.3f,"rows_per_sec":${r.rowsPerSec}%.0f,""" +
        f""""batch_ms_p50":${r.p50Ms}%.1f,"batch_ms_p95":${r.p95Ms}%.1f,""" +
        f""""batch_ms_max":${r.maxMs}%.1f,"matches_batch":${r.matchesBatch}}"""
    }.mkString(",")
    val scJson =
      f""""state_scale":{"rows":${sc.rows},"keys":${sc.keys},""" +
        f""""batches":${sc.batches},"wall_sec":${sc.wallSec}%.3f,""" +
        f""""rows_per_sec":${sc.rowsPerSec}%.0f,"batch_ms_p50":${sc.p50Ms}%.1f,""" +
        f""""batch_ms_p95":${sc.p95Ms}%.1f,""" +
        f""""batch_ms_p50_first_third":${sc.firstThirdP50Ms}%.1f,""" +
        f""""batch_ms_p50_last_third":${sc.lastThirdP50Ms}%.1f,""" +
        f""""state_rows":${sc.stateRows},"state_bytes":${sc.stateBytes},""" +
        f""""matches_batch":${sc.matchesBatch}}"""
    val rcJson =
      f""""recovery":{"events":${rc.events},"keys":${rc.keys},""" +
        f""""state_rows":${rc.stateRows},""" +
        f""""steady_batch_ms_p50":${rc.steadyP50Ms}%.1f,""" +
        f""""recovery_first_batch_ms":${rc.recoveryFirstBatchMs}%.1f,""" +
        f""""matches_batch":${rc.matchesBatch}}"""
    val tdJson =
      s""""txlog_drain":${td.json},"txlog_drain_10x":${td10.json},""" +
      s""""txlog_drain_partitioned":${tdp.json},""" +
      f""""cdc_replicate":{"change_rows":${cdc.changeRows},""" +
        f""""src_commits":${cdc.srcCommits},"batches":${cdc.batches},""" +
        f""""wall_sec":${cdc.wallSec}%.3f,""" +
        f""""rows_per_sec":${cdc.rowsPerSec}%.0f,"exact":${cdc.exact}}"""
    val json = s"""{"metric":"stream_events_total_sec","value":""" +
      f"${results.map(_._2.wallSec).sum}%.3f," +
      s""""unit":"sec","events":$n,"chunk":$chunk,"cpus":$cpus,""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"${Bench.loadavg()}",""" +
      s""""pipelines":{$body},$scJson,$rcJson,$tdJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
