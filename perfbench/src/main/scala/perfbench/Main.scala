package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark harness. One JVM runs one workload once and writes a
  * raw record (spans, samples, listener data) as JSON; `run.py` turns
  * it into metrics and checks the results against the oracle.
  *
  * Args: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --out FILE [--cores N]`, plus `--keys k1,k2,… --inputs DIR` for
  * `keys_sf01`. Spark runs at local[N], N = the host's cores by
  * default.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (o("workload") == "list") {
      // the registered keys and their oracle SQL, for run.py
      Files.writeString(Paths.get(o("out")), Json.obj(
        "keys" -> Json.arr(graft.SparkEntry.queries.keys.toSeq.sorted.map(Json.str)),
        "oracle" -> Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, q) => k -> Json.str(q) }: _*)))
      return
    }
    val work = o("work")
    val trace = o.getOrElse("trace", "0") == "1"
    val cpus = o.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    def session() = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    if (o("workload") == "inputs") {
      // untimed: generate the batch inputs once per checkout
      val spark = session()
      spark.sparkContext.setLogLevel("ERROR")
      try Batch.inputs(spark, o("inputs")) finally spark.stop()
      return
    }
    val setUp: (SparkSession, Map[String, String]) => (() => Seq[(String, String)]) =
      o("workload") match {
        case "keys_sf01" => Batch.setUp
        case "events_stream" => Events.setUp
        case "txlog_cdc" => Cdc.setUp
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    val timed = setUp(spark, o)
    val setupEnd = Clock.now()
    val sparkRec = if (trace) {
      val r = new SparkRecorder; spark.sparkContext.addSparkListener(r); Some(r)
    } else None
    val progRec = if (trace) {
      val r = new ProgressRecorder; spark.streams.addListener(r); Some(r)
    } else None
    val body = try timed() finally {
      // the listener bus is asynchronous: let it deliver the tail
      Thread.sleep(if (trace) 500 else 0)
    }
    val raw = Json.obj(Seq(
      "workload" -> Json.str(o("workload")),
      "jvm_start" -> Json.num(Clock.jvmStart()),
      "setup_end" -> Json.num(setupEnd),
      "end" -> Json.num(Clock.now()),
      "cpus" -> cpus.toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "peak_rss_kb" -> peakRssKb().toString,
      "spark" -> sparkRec.map(_.json()).getOrElse("null"),
      "progress" -> progRec.map(_.json()).getOrElse("null")) ++ body: _*)
    Files.writeString(Paths.get(o("out")), raw)
    spark.stop()
  }

  /** VmHWM: the process's peak resident set. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def group(spark: SparkSession, g: String): Unit =
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
}

/** `keys_sf01`: registered keys run to their full result. Set-up
  * runs the flagship key once on a tiny input, so the first timed key
  * is not charged the JVM's first Spark query. Then one cold pass over
  * the timed input — each key's first use in the process: codegen,
  * statistics counts, index builds — then warm passes until
  * `--seconds` have passed, at least one. Each key execution records
  * the spans build (the `SparkEntry.queries` builder), plan
  * (`executedPlan`), exec (`collect`) and release (`core.withCaches`
  * exit). `--keys` gives the keys in run order, `--inputs` the root
  * the inputs were generated under (`--workload inputs`).
  */
object Batch {
  /** The timed input: the sf0.1 row counts, one file per table. */
  val Scale = 1.0
  /** The warm-up input. */
  val WarmScale = 0.01
  val DataSeed = 42L

  private case class Exec(key: String, pass: String, t0: Double, tBuild: Double,
      tPlan: Double, tExec: Double, tRelease: Double, persisted: Int,
      ok: Boolean, err: String)

  def inputs(spark: SparkSession, root: String): Unit =
    Seq(Scale, WarmScale).foreach(Gen.cached(spark, root, _, DataSeed))

  def setUp(spark: SparkSession, o: Map[String, String]): () => Seq[(String, String)] = {
    val Seq(data, warmData) = Seq(Scale, WarmScale).map { s =>
      val d = Gen.dir(o("inputs"), s, DataSeed)
      require(new java.io.File(d).isDirectory, s"no input at $d: run --workload inputs first")
      d
    }
    val warmUp = execute(spark, "q_agg_groupby", warmData, "setup", keep = false)._1
    () => timed(spark, o, data, warmUp)
  }

  private def timed(spark: SparkSession, o: Map[String, String], data: String,
      warmUp: Exec): Seq[(String, String)] = {
    val work = o("work")
    val keys = o("keys").split(",").toSeq
    val execs = mutable.ArrayBuffer(warmUp)
    val coldRows = mutable.Map[String, Array[Row]]()
    val schemas = mutable.Map[String, org.apache.spark.sql.types.StructType]()
    keys.foreach { k =>
      val (e, rows, schema) = execute(spark, k, data, "cold", keep = true)
      execs += e
      if (e.ok) { coldRows(k) = rows; schemas(k) = schema }
    }
    val coldEnd = Clock.now()
    var pass = 0
    while (pass == 0 || Clock.now() - coldEnd < o("seconds").toDouble * 1000) {
      pass += 1
      keys.foreach { k =>
        val (e, rows, _) = execute(spark, k, data, s"warm$pass", keep = true)
        // a warm result must equal the cold one (which run.py checks
        // against the oracle)
        val same = e.ok && coldRows.get(k).exists(_.sameElements(rows))
        execs += (if (same || !e.ok) e else e.copy(ok = false, err = "warm result differs from cold"))
      }
    }
    val timedEnd = Clock.now()
    // untimed: hand the cold results to run.py for the oracle check
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    coldRows.toSeq.map { case (k, rows) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.toSeq.asJava, schemas(k))
          .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$k")
      })
    }.foreach(_.get())
    pool.shutdown()
    Seq(
      "data_dir" -> Json.str(data), "cold_end" -> Json.num(coldEnd),
      "timed_end" -> Json.num(timedEnd),
      "execs" -> Json.arr(execs.map(e => Json.obj(
        "key" -> Json.str(e.key), "pass" -> Json.str(e.pass),
        "t0" -> Json.num(e.t0), "t_build" -> Json.num(e.tBuild),
        "t_plan" -> Json.num(e.tPlan), "t_exec" -> Json.num(e.tExec),
        "t_release" -> Json.num(e.tRelease),
        "persisted" -> e.persisted.toString,
        "ok" -> e.ok.toString, "err" -> Json.str(e.err)))))
  }

  /** One key execution, timed layer by layer. A failed layer leaves
    * the later stamps equal to the failure time.
    */
  private def execute(spark: SparkSession, key: String, dir: String,
      pass: String, keep: Boolean)
      : (Exec, Array[Row], org.apache.spark.sql.types.StructType) = {
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries(key)
    var rows: Array[Row] = Array.empty
    var schema: org.apache.spark.sql.types.StructType = null
    var err = ""
    var persisted = 0
    val t0 = Clock.now()
    var tBuild, tPlan, tExec = Double.NaN
    graft.ops.core.withCaches(spark) {
      try {
        Main.group(spark, s"$pass|$key|build")
        val df: DataFrame = fn(spark, dir)
        tBuild = Clock.now()
        Main.group(spark, s"$pass|$key|plan")
        df.queryExecution.executedPlan
        tPlan = Clock.now()
        Main.group(spark, s"$pass|$key|exec")
        rows = df.collect()
        schema = df.schema
        tExec = Clock.now()
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          val t = Clock.now()
          if (tBuild.isNaN) tBuild = t
          if (tPlan.isNaN) tPlan = t
          tExec = t
      }
      persisted = sc.getPersistentRDDs.size
      Main.group(spark, s"$pass|$key|release")
    }
    spark.catalog.clearCache()
    val tRelease = Clock.now()
    sc.clearJobGroup()
    (Exec(key, pass, t0, tBuild, tPlan, tExec, tRelease, persisted, err.isEmpty, err),
      if (keep) rows else Array.empty, schema)
  }
}
