package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.ops.core

/** Storage-layout levers that matter at 100 TB: directory
  * partitioning (partition pruning skips data at the file-listing
  * level) and bucketing (co-located joins skip the shuffle entirely).
  */
class StorageLayoutSpec extends SparkSuite {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.count()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  test("partitionBy(lang) write → filtered read prunes partitions") {
    val dir = tempDir("graft_part").toString
    val docs = core.t(spark, sf, "documents")
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)

    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    val txt = finalPlan(back)
    assert(txt.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in:\n$txt")
    val expected = docs.filter(col("lang") === "en").count()
    assert(back.count() == expected)
    // pruning is structural: only the lang=en directory is listed
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.contains("lang=en") && dirs.size == 5)
  }

  test("q_part_layout: hive tree has one data file per date partition") {
    val base = ops.Storage.layoutDir(spark, sf)
    val dirs = new java.io.File(s"$base/events_by_date").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 30 && dirs.forall(_.startsWith("event_date=")),
      s"unexpected partition dirs: ${dirs.mkString(", ")}")
    // the pre-write repartition(event_date) means each date's rows sit
    // in exactly one task → one parquet file per partition directory
    dirs.foreach { d =>
      val files = new java.io.File(s"$base/events_by_date/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$d has ${files.length} files")
    }
  }

  test("q_part_layout: static filter reaches PartitionFilters; dim filter prunes dynamically") {
    val df = ops.Storage.prunedRead(spark, sf)
    // execute THIS QueryExecution (count() would build a fresh one and
    // leave this plan's metrics untouched)
    df.collect()
    val plan = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
    val txt = plan.toString
    assert(txt.contains("PartitionFilters: [") && txt.contains("event_date"),
      s"expected static partition filters in:\n$txt")
    assert(txt.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-partition-pruning subquery in:\n$txt")
    // runtime effect: only the 4 peak dates' files are read (30 dates,
    // static >= 2024-01-05 leaves 26, DPP on the peak dim leaves 4)
    // QueryStageExec nodes are leaves from collect()'s point of view —
    // descend into their materialized plans explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case _ => Nil
      }
    val factScan = scans(plan)
      .find(_.output.map(_.name).contains("event_id"))
      .getOrElse(fail(s"no fact FileSourceScan found in:\n$txt"))
    assert(factScan.metrics("numFiles").value == 4,
      s"DPP should leave 4 files, read ${factScan.metrics("numFiles").value}")
  }

  test("q_part_layout: round-trip equals recomputation from the source table") {
    val viaLayout = ops.Storage.qPartLayout(spark, sf).collect().toSeq
    val direct = core.t(spark, sf, "events")
      .withColumn("event_date", to_date(col("ts")))
      .filter(col("event_date") >= lit("2024-01-05").cast("date") &&
        datediff(col("event_date"), to_date(lit("2024-01-01"))) % 7 === 5)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(core.cents(col("value"))).as("sum_c"),
        countDistinct(col("event_date")).as("n_days"))
      .orderBy(col("event_type")).collect().toSeq
    assert(viaLayout == direct)
  }

  test("Storage artifacts of fixture dirs a_b and a/b get distinct, pid-keyed paths") {
    // the two dir strings sanitize to one name under a
    // `[^A-Za-z0-9.-]` → `_` mapping; every artifact must still be
    // built apart, at a persistedIndex path of this JVM
    val x = tempDir("graft_storage_paths").resolve("x")
    val first = x.resolve("a_b")
    val second = x.resolve("a").resolve("b")
    Seq(first, second).foreach(Files.createDirectories(_))
    for (t <- Seq("documents", "orders", "lineitem"))
      Seq(first, second).foreach(d => Files.copy(
        java.nio.file.Paths.get(sf, s"$t.parquet"), d.resolve(s"$t.parquet")))
    Files.copy(java.nio.file.Paths.get(sf, "events.parquet"),
      first.resolve("events.parquet"))
    // the second dir's events are a strict subset, so a layout served
    // from the wrong dir changes q_part_layout's rows
    core.t(spark, sf, "events").where(col("event_id") % 2 === 0)
      .write.parquet(second.resolve("events.parquet").toString)
    def artifacts(d: String): Seq[String] = {
      val db = ops.Storage.bucketedDb(spark, d)
      Seq(ops.Storage.layoutDir(spark, d), ops.Storage.evolvedDir(spark, d),
        new java.io.File(new java.net.URI(
          spark.catalog.getDatabase(db).locationUri)).getAbsolutePath,
        ops.Storage.compactedDir(spark, d))
    }
    val before = ops.Storage.qPartLayout(spark, first.toString).collect().toSeq
    val a = artifacts(first.toString)
    val b = artifacts(second.toString)
    val pid = ProcessHandle.current().pid()
    a.zip(b).foreach { case (pa, pb) =>
      assert(pa != pb, s"one artifact path for two fixture dirs: $pa")
      Seq(pa, pb).foreach(p => assert(
        new java.io.File(p).getName.matches(s"graft_idx_.*-p$pid"),
        s"$p is not a persistedIndex path of pid $pid"))
    }
    assert(ops.Storage.bucketedDb(spark, first.toString) !=
      ops.Storage.bucketedDb(spark, second.toString))
    val after = ops.Storage.qPartLayout(spark, first.toString).collect().toSeq
    assert(after == before)
    assert(ops.Storage.qPartLayout(spark, second.toString).collect().toSeq != before)
  }

  test("runtime bloom-filter injection prunes the fact side of a selective join") {
    // the row-level sibling of DPP: a selective dim filter is turned
    // into a bloom filter evaluated on the FACT scan before the join
    // shuffle — at 100 TB this is what keeps a dim-filtered fact join
    // from shuffling rows the join will drop anyway. Default
    // thresholds target real sizes (application side ≥ 10 GB), so the
    // test lowers them to fixture scale; semantics must be unchanged.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    def joined = {
      val o = core.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      core.t(spark, sf, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(core.cents(col("l_quantity"))).as("q_c"))
        .orderBy(col("l_returnflag"))
    }
    val expected = joined.collect().toSeq // default confs: no runtime filter
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = joined
      val txt = finalPlan(df)
      assert(txt.contains("might_contain"),
        s"expected a bloom-filter runtime filter on the fact scan in:\n$txt")
      assert(df.collect().toSeq == expected,
        "runtime filtering must not change results")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val orders = core.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        core.cents(col("o_totalprice")).as("total_c"))
    val li = core.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), core.cents(col("l_quantity")).as("qty_c"))

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("qty_c")).as("q"))
      val txt = finalPlan(joined)
      // the join itself must not shuffle: both sides are pre-bucketed
      // on the key, so the only exchange left is the final group-by
      val joinSection = txt.substring(0, txt.length)
      assert(txt.contains("SortMergeJoin"), s"expected SMJ in:\n$txt")
      val exchanges = "Exchange".r.findAllIn(txt).length
      assert(exchanges == 1,
        s"bucketed join should leave only the group-by exchange, got $exchanges:\n$txt")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
