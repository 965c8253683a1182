package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Host-contention context for the Bench and StreamBench artifacts
    * (VERDICT r13 task 8): the r13 63-vs-54 s reading was pure
    * firecracker steal, and the artifact couldn't say so by itself.
    * /proc/loadavg at run start and end makes drift self-adjudicating.
    */
  private[graft] def loadavg(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim.split(" ")
      .take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE re-planning adds per-stage scheduling latency that
      // dominates sub-second queries at bench scale; keep the knob
      // exposed (default on — the 100 TB posture) for measurement.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // static conf, default 100: 166 keys × several codegen stages
      // evict the whole-stage-codegen class cache between interleaved
      // passes, so every pass-2 execution would re-pay janino
      // compilation (~20% of the total, measured 98.9 vs 76.7 s) —
      // size it to hold both passes' generated classes
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (classloading, codegen, shuffle machinery) on the
    // smallest fixture so the first timed query isn't charged ~5 s of
    // one-time session cost.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Warm the bench fixture's file listings + footer reads (the
    // session-wide FileStatusCache retains them): otherwise whichever
    // query the Map iterates first is charged the one-time listing.
    for (tbl <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      try graft.ops.core.t(spark, sfDir, tbl).limit(1).count()
      catch { case _: Throwable => () }
    // Deterministic (sorted) order; per query take the MIN of two
    // executions — steady-state timing that a single noisy run (host
    // load, first-execution codegen compile) can't distort. The two
    // executions are INTERLEAVED as full passes (every key once, then
    // every key again — r7, VERDICT r6 task 2): back-to-back
    // executions let one multi-second host-contention burst poison
    // BOTH samples of the keys it overlaps, which is exactly how the
    // driver-visible totals of r5/r6 regressed while same-host re-runs
    // stayed flat; with passes ~80 s apart a burst must persist the
    // whole bench to survive the per-key min. Caches are cleared
    // between executions so both measure the same work, and
    // intra-query caches can't pin memory across queries.
    // Optional comma-separated key filter for local iteration
    // (SPARK_GRAFT_ONLY=q_a,q_b); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val loadStart = loadavg()
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      // withCaches encloses the execution so the key's tracked
      // caches + localCheckpoint blocks are released between runs;
      // the timed window covers only build + count (release cost
      // stays outside it, matching the pre-r5 methodology)
      var dt = 0.0
      var ok = false
      ops.core.withCaches(spark) {
        val t0 = System.nanoTime()
        ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            false
          }
        dt = (System.nanoTime() - t0) / 1e9
      }
      // belt-and-braces sweep for anything pinned outside the tracker
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (dt, ok)
    }
    val passes = (1 to 2).map { _ =>
      keys.map { case (name, fn) => name -> timeOne(name, fn) }.toMap
    }
    // A key that throws must POISON the bench, not flatter it
    // (r2 swallowed exceptions inside the timing loop, so a broken
    // key was recorded as a near-zero "success"): failures are
    // reported as -1 and excluded from the total.
    val results = keys.map { case (name, _) =>
      val rs = passes.map(_(name))
      name -> (if (rs.forall(_._2)) rs.map(_._1).min else -1.0)
    }.toMap
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","n_failed":${failed.size},"failed":$failedJson}""")
    // Repeat the headline as a SHORT standalone line LAST: the r1
    // driver capture tail-truncated the big per-query line and lost
    // the total entirely (BENCH_r01.json parsed:null).
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size}}""")
    // VERDICT r9 wrong #3 / task 6: the driver's tail capture keeps
    // only ~60 of the 170 per-key timings from stdout, so the full
    // profile is ALSO persisted as its own artifact (committed per
    // round as BENCH_keys.json) — round-over-round per-key regression
    // checks then cover the whole contract from artifacts alone.
    val keysOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_KEYS_OUT",
      "BENCH_keys.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(keysOut),
      s"""{"written":"${java.time.Instant.now()}","sf":"$sfDir",""" +
      s""""cpus":$cpus,"loadavg_start":"$loadStart",""" +
      s""""loadavg_end":"${loadavg()}",""" +
      s""""total":$total,"n_failed":${failed.size},""" +
      s""""failed":$failedJson,"queries":$qs}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"BENCH keys artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
