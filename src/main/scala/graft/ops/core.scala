package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.sources.TxLog

/** Shared helpers for all operator builders.
  *
  * Capability contract derives from `/root/reference/README.md:2`
  * ("Apply complex transformations on single events or collections");
  * everything here is an idiomatic Spark re-expression, not a port.
  *
  * Cache lifecycle (ADVICE r2, closed r5): some ops cache an
  * intermediate that their plan reads twice (langid's token table,
  * tf-idf's tf, minhash signatures, …). The op cannot unpersist it
  * itself — the returned DataFrame is lazy and still references the
  * cached plan — so every op-internal cache goes through [[cached]],
  * which registers the frame with the innermost [[withCaches]] scope.
  * Long-lived-session callers wrap each unit of work (run-op +
  * materialize) in `core.withCaches(spark) { … }` and get back to
  * zero retained storage deterministically (ComposedSessionSpec pins
  * this); Bench/Verify wrap every key execution. Calling ops with no
  * scope open still works, but only [[cached]] frames are then
  * released by `spark.catalog.clearCache()`: the `localCheckpoint`
  * blocks of the iterative ops (the doubled edge list of
  * `Relational.qSqlRecursive`, the edge and per-round label frames of
  * TrainingOps' connected-components loop) are persisted RDDs that
  * `clearCache()` does not reach — only a [[withCaches]] scope
  * releases them.
  */
object core {

  private val cacheScope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** `.cache()` for op internals: identical semantics, plus the frame
    * is tracked by the innermost [[withCaches]] scope (if any) so a
    * composed session can release the whole working set on exit.
    * Chain-friendly via `.transform(core.cached)`.
    */
  def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    val scope = cacheScope.get()
    if (scope != null) scope += c
    c
  }

  /** Run `body` (an op + the actions that materialize its result) and
    * release every piece of storage it pinned: frames registered via
    * [[cached]], plus any RDD newly persisted inside the scope
    * (localCheckpoint blocks of the iterative ops, which
    * `Dataset.unpersist` can't reach). Scopes nest: an inner scope
    * releases only its own storage. Blocking unpersists — on exit the
    * release has happened, not merely been requested.
    *
    * Caveat (Spark semantics, not a tracker bug): `CacheManager` is
    * PLAN-keyed — if the caller already cached a plan identical to one
    * an enclosed op caches, `cache()` reuses that shared entry and the
    * scope's exit unpersists it for both parties. Callers who pin
    * their own caches should not cache the exact plans the ops build
    * internally (ComposedSessionSpec documents the sharing).
    */
  def withCaches[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outer = cacheScope.get()
    val mine = new scala.collection.mutable.ArrayBuffer[DataFrame]
    cacheScope.set(mine)
    try body
    finally {
      cacheScope.set(outer)
      mine.foreach { df =>
        try df.unpersist(blocking = true) catch { case _: Exception => () }
      }
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) {
          try rdd.unpersist(blocking = true)
          catch { case _: Exception => () }
        }
      }
    }
  }

  /** When set (round-12 facade sweep), every fixture table is served
    * THROUGH the txlog lakehouse read path instead of raw parquet:
    * `SPARK_GRAFT_TXLOG_MIRROR` names a root of txlog tables mirrored
    * from the fixture dir (graft.TxLogMirror writes them). The whole
    * t2 contract then runs over snapshot-pinned, stats-skipping txlog
    * scans — proving the lakehouse layer serves the entire operator
    * surface, not just the storage keys. Unset (every normal run),
    * the body below is byte-for-byte the old behavior.
    */
  private val txlogMirror: Option[String] =
    sys.env.get("SPARK_GRAFT_TXLOG_MIRROR")

  /** Load one fixture table from the scale-factor directory. The read
    * takes its schema from the table's parquet footer ([[parquet]]),
    * so building the frame launches no Spark job.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    txlogMirror match {
      case None =>
        if (name == "events") events(spark, dir)
        else parquet(spark, s"$dir/$name.parquet")
      case Some(root) =>
        // events mirrors keep whatever this environment's parquet
        // nanos inference produced (the r6 lesson: it CHANGES between
        // rounds): the same `ts` dispatch as the raw read
        val df = spark.read.format("txlog")
          .option("path", s"$root/$name").load()
        if (name == "events") eventsTs(df) else df
    }

  /** `spark.read.parquet(path)` with the schema its inference would
    * return, read from the footer on the driver
    * ([[org.apache.spark.sql.GraftBridge.parquetSchema]]) instead of
    * by an inference job.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftBridge.parquetSchema(spark, path)).parquet(path)

  /** Row count of fixture table `name` from metadata, with no Spark
    * job: the summed parquet footer row counts, or under the TxLog
    * mirror the log's file stats ([[graft.sources.TxLog.rowCount]]).
    * This is the n of the n-adaptive keys (LSH width, IVF cell count,
    * semantic-dedup k, pair-scan widths) and q_scan_count's answer.
    */
  def tableRows(spark: SparkSession, dir: String, name: String): Long =
    txlogMirror match {
      case None => GraftBridge.parquetRows(spark, s"$dir/$name.parquet")
      case Some(root) => TxLog.rowCount(spark, s"$root/$name")
    }

  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of a DERIVED frame (a distinct projection), memoized
    * per key per JVM so a key re-execution never pays a second count
    * job just to re-learn n (the [[persistedIndex]] once-per-JVM
    * pattern; ADVICE r5). Fixture tables are immutable within a JVM's
    * lifetime, so the memo can never go stale here. Counts of parquet
    * data on disk do not come here: [[tableRows]] and
    * `GraftBridge.parquetRows` answer them from footers with no job.
    */
  def statCount(key: String, df: => DataFrame): Long =
    countMemo.computeIfAbsent(key, _ => df.count()).longValue()

  private val indexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One persisted parquet artifact per (kind, fixture dir) per JVM —
    * the shared machinery behind every derived structure that is an
    * INDEX at 100 TB (the IVF cell assignment, the transaction-graph
    * edge list) and behind Storage's layout copies (the partitioned
    * events tree + date dim, the schema-evolved documents dir, the
    * bucketed database's location, the compacted events tree):
    * deterministic to build, immutable for the fixture's lifetime, so
    * each JVM builds it exactly once and every subsequent key
    * execution only reads it.
    *
    * Path hygiene (ADVICE r6): the path embeds a full SHA-256 of the
    * fixture dir string (not a lossy sanitization — distinct dirs can
    * never collide) AND the JVM pid, so two concurrent JVMs (Bench
    * beside Verify) each build a private copy instead of racing
    * reader-vs-overwriter on one path. Build cost is logged to stderr
    * (`[graft] built index …`) so timing consumers can tell a
    * build-inclusive first execution from a serve-only re-run; at
    * 100 TB the equivalent artifact lives under a catalog-managed
    * location with a transactional swap, not java.io.tmpdir.
    */
  def persistedIndex(kind: String, dir: String)(build: String => Unit): String =
    indexMemo.computeIfAbsent(kind + "#" + dir, _ => {
      gcInit
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
      val path = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_idx_$kind-$sha-p${ProcessHandle.current().pid()}")
        .getAbsolutePath
      val t0 = System.nanoTime()
      build(path)
      System.err.println(
        f"[graft] built index $kind for $dir in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      path
    })

  /** Index-dir lifecycle (VERDICT r7 task 6 / ADVICE r7): pid-keyed
    * paths made concurrent JVMs safe but leaked every JVM's private
    * copies under java.io.tmpdir forever (~100 MB+/run at sf0.1, far
    * more at probe scales — the r7 embed-LSH probe filled the disk).
    * Two-sided GC, both crash-safe:
    *   - shutdown hook: a JVM deletes ITS OWN `-p<pid>` dirs on clean
    *     exit (the common Bench/Verify/test case);
    *   - startup sweep (first persistedIndex call): deletes any
    *     `graft_idx_*-p<pid>` dir whose pid is no longer alive —
    *     reaping what killed JVMs left behind, while dirs of live
    *     concurrent JVMs are untouched (their pid resolves).
    * Both run at most once per JVM; the memo keys stay valid because
    * only dirs of DEAD pids (or our own, at exit) are removed.
    */
  private lazy val gcInit: Unit = {
    sweepDeadIndexDirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => gcOwnIndexDirs()))
  }

  private val IdxDir = """graft_idx_.*-p(\d+)""".r

  private def indexDirRoot = new java.io.File(System.getProperty("java.io.tmpdir"))

  /** Delete every index dir under `root` belonging to a pid that is
    * no longer alive — or that bears THIS JVM's pid: the sweep runs
    * (once) before this JVM's first build, so a dir already carrying
    * our pid can only be a crashed predecessor's leftover after pid
    * recycling, and keeping it would fail the ~half of builders that
    * write without mode(overwrite) with path-already-exists. `root`
    * is parameterized so IndexGcSpec can exercise the selectivity
    * against a scratch dir — calling the real-root variants from a
    * test would delete the LIVE test JVM's own indexes out from under
    * concurrently-running suites (the indexMemo still points at the
    * deleted paths; observed as GraphSpec failures in the full
    * parallel suite run).
    */
  private[graft] def sweepDeadIndexDirs(
      root: java.io.File = indexDirRoot): Unit = {
    val self = ProcessHandle.current().pid()
    val kids = root.listFiles()
    if (kids != null) kids.foreach { f =>
      f.getName match {
        case IdxDir(pid)
            if pid.toLong == self || !ProcessHandle.of(pid.toLong).isPresent =>
          TxLog.deleteTree(f.toPath)
        case _ => ()
      }
    }
  }

  /** Delete this JVM's own index dirs under `root` (the shutdown-hook
    * action; root parameterized for the same reason as above).
    */
  private[graft] def gcOwnIndexDirs(
      root: java.io.File = indexDirRoot): Unit = {
    val mine = s"-p${ProcessHandle.current().pid()}"
    val kids = root.listFiles()
    if (kids != null) kids.foreach { f =>
      f.getName match {
        case n @ IdxDir(_) if n.endsWith(mine) => TxLog.deleteTree(f.toPath)
        case _ => ()
      }
    }
  }

  /** The events fixture stores `ts` as parquet TIMESTAMP(NANOS).
    * What Spark hands back for that physical type has CHANGED across
    * the Spark builds this project has run on: earlier builds refused
    * it unless `spark.sql.legacy.parquet.nanosAsLong` mapped it to a
    * raw nanos BIGINT (the original branch below); the current build
    * ignores that conf and infers TIMESTAMP_NTZ (micros, truncated)
    * directly — discovered in r6 when every events key started
    * failing analysis on `ts div 1000`. Dispatch on the type the
    * footer converts to under this session's conf (the conf set below
    * happens first, so it is the type inference would return), so
    * every environment lands on the same TimestampType
    * column: nanos-long → rebuild micros (lossless: every fixture
    * value has a zero sub-µs component, verified via DuckDB
    * `epoch_ns(ts) % 1000 = 0`; crafted test fixtures write raw nanos
    * longs and take this branch too); NTZ → cast in the UTC session
    * (identical wall-clock values).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(parquet(spark, s"$dir/events.parquet"))
  }

  /** The `ts` dispatch of [[events]], shared with the TxLog-mirror
    * branch of [[t]]: nanos-long → micros, NTZ → cast in the UTC
    * session, anything else as served.
    */
  private def eventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }

  /** Run `body` with session confs temporarily overridden, restoring
    * prior values (or unsetting) on exit. Conf reads happen at
    * PLANNING time, so this only affects work `body` itself
    * materializes — the iterative ops use it to run their unrolled
    * loop cores under `spark.sql.adaptive.enabled=false` and
    * materialize inside the scope: AQE's per-shuffle stage
    * materialization + driver re-plan is pure overhead on a 10-stage
    * chain over node-sized frames (measured: q_graph_pagerank 15 s →
    * 3.7 s at local[32]), while the 100 TB posture keeps AQE ON for
    * everything data-sized outside these scopes (skew splits,
    * coalescing, runtime join re-plans).
    *
    * Concurrency contract (ADVICE r6): the session conf is GLOBAL to
    * the session, so a query planned concurrently on another thread
    * during `body` sees the override — the mains and the suites plan
    * one query at a time per session, which is the supported mode.
    * What IS guarded: two overlapping withConf scopes on one session
    * (per-session lock below), so an interleaved set/restore can
    * never leave the wrong value stuck after both exit. Code that
    * genuinely needs concurrent planning under different confs should
    * use `spark.newSession()` (shared state, private conf) instead.
    */
  private val confLocks =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T =
    confLocks.computeIfAbsent(spark, _ => new Object).synchronized {
      val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally olds.foreach { case (k, o) =>
        o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  /** Shuffle-partition count for the iterative loop cores, derived
    * from the loop's DATA size instead of the session's cpu-count
    * default (guide §2 / VERDICT r14 task 1): the unrolled graph and
    * Lloyd loops shuffle node-sized frames through many small stable
    * stages, and at `shuffle.partitions = cpus` the per-task
    * scheduling constant dominates — PERF_r14's scaling block measured
    * the family 1.7–4.3× FASTER at 8 cores than 32. One reduce
    * partition per ~256 k loop-frame rows keeps tasks meaningfully
    * sized at any scale (a 100 TB edge list still derives thousands of
    * partitions); capped at 4096 like every derived width here.
    */
  def loopPartitions(rows: Long, targetRows: Long = 262144L): Int =
    math.max(1L, math.min((rows + targetRows - 1) / targetRows, 4096L)).toInt

  /** [[withConf]] specialized to the iterative loop cores: `body` runs
    * with AQE disabled, and `partitions > 0` additionally pins
    * `spark.sql.shuffle.partitions` for the scope — the
    * [[loopPartitions]] right-sizing; 0 keeps the session default.
    */
  def withoutAqe[T](spark: SparkSession, partitions: Int = 0)(body: => T): T = {
    val confs = ("spark.sql.adaptive.enabled" -> "false") +:
      (if (partitions > 0)
        Seq("spark.sql.shuffle.partitions" -> partitions.toString)
      else Nil)
    withConf(spark, confs: _*)(body)
  }

  /** [[withoutAqe]] over the build-cache-MATERIALIZE pattern: returns
    * the cached frame for lazy downstream consumption (which runs under
    * the session's normal confs).
    */
  def noAqeMaterialized(spark: SparkSession, partitions: Int = 0)(
      build: => DataFrame): DataFrame =
    withoutAqe(spark, partitions) {
      val f = cached(build)
      f.count()
      f
    }

  /** Partition count for an explicit repartition in front of a
    * brute-force pair-scoring join (guide §2: derive partitioning from
    * the DATA, not the core count): one task per ~250 k candidate
    * pairs, so the work spreads at bench scale and the task count
    * keeps growing with n² at probe scales instead of collapsing to
    * the streamed side's single parquet split. Capped at 16384 tasks
    * per stage — past that a production deployment blocks the
    * candidate side instead (the embedLshBanded batch pattern).
    *
    * Below ~3M pairs the repartition returns 1 and callers skip the
    * exchange entirely: the single-task scoring there (≲0.5 s) is
    * cheaper than the extra shuffle stage + AQE materialization it
    * would take to spread it (measured on q_dedup_embed at sf0.1:
    * 0.55 s unsplit vs 1.07 s split 8 ways) — while above it the
    * single task is the whole query's critical path (q_sim_cosine_topk
    * at 4M pairs: 3.34 s unsplit → 1.52 s at 16 tasks).
    */
  def pairScanPartitions(pairs: Long, perTask: Long = 250000L): Int =
    if (pairs < 3000000L) 1
    else math.min(pairs / perTask + (if (pairs % perTask == 0) 0 else 1),
      16384L).toInt

  /** `a · b` for the pair-count estimates fed to [[pairScanPartitions]],
    * saturated at `Long.MaxValue` (n² overflows a Long from n ≈ 3·10⁹,
    * and a wrapped-negative estimate would collapse the scan to one
    * task). Negative factors count as 0.
    */
  def pairCount(a: Long, b: Long): Long =
    if (a <= 0L || b <= 0L) 0L
    else if (a > Long.MaxValue / b) Long.MaxValue
    else a * b

  /** Exact money/quantity in integer cents: fixture doubles are
    * 2-dp-generated (verified — max |x*100 - round(x*100)| < 1e-8),
    * so this is a lossless, engine-agnostic representation that makes
    * SUM() bit-identical across Spark and the DuckDB oracle.
    */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** The DuckDB-SQL twin of [[cents]] — ONE definition so the Spark
    * and oracle sides of the cents convention can never silently
    * fork (file-local copies delegated here in r4b).
    */
  def centsSql(col: String): String = s"CAST(round($col*100) AS BIGINT)"

  /** Deterministic double output: round at the very end, same depth
    * as the oracle SQL. Spark `round` = HALF_UP, which MATCHES DuckDB
    * `round` on DOUBLE inputs (half-away-from-zero — verified:
    * `round(0.5623125::DOUBLE, 6)` → 0.562313 in both engines; the
    * HALF_EVEN behavior often attributed to DuckDB applies to DECIMAL
    * inputs only). `bround` (HALF_EVEN) would DIVERGE at double
    * midpoints — the sf0.01 q_text_quality fixture actually hits one.
    */
  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)

  /** One registered operator key: its name, its builder over a fixture
    * dir, and its DuckDB oracle SQL (`None` for the declared no-oracle
    * keys, whose results no DuckDB query reproduces).
    */
  final class Key private (val name: String,
      val build: (SparkSession, String) => DataFrame,
      val oracle: Option[String])

  object Key {
    def apply(name: String, build: (SparkSession, String) => DataFrame): Key =
      new Key(name, build, None)
    def apply(name: String, build: (SparkSession, String) => DataFrame,
        oracle: String): Key = new Key(name, build, Some(oracle))
  }

  /** An operator family. `keys` registers each of its keys once;
    * `queries` and `oracle` are derived from it. Declare `keys` below
    * every val its SQL reads: an object initializer that reads a val
    * declared further down gets `null`, and the SQL then says "null".
    */
  trait Family {
    def keys: Seq[Key]

    def queries: Map[String, (SparkSession, String) => DataFrame] =
      keys.map(k => k.name -> k.build).toMap

    def oracle: Map[String, String] =
      keys.flatMap(k => k.oracle.map(k.name -> _)).toMap
  }
}
