package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.ops.core

/** Table-maintenance keys added in round 5: bucketed co-located join
  * (`q_join_bucketed`), CDC merge/upsert (`q_merge_upsert`), and
  * small-file compaction (`q_compact_files`). Each key's oracle proves
  * content fidelity; these tests pin the LAYOUT/PLAN claims the oracle
  * can't see — exchange-free joins, one-file-per-bucket trees, the
  * byte-census compaction arithmetic, and merge cardinality algebra.
  */
class TableMaintenanceSpec extends SparkSuite {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  test("q_join_bucketed: bucket dirs hold exactly one file per bucket") {
    val db = ops.Storage.bucketedDb(spark, sf)
    val loc = new java.io.File(
      new java.net.URI(spark.catalog.getDatabase(db).locationUri))
    for (t <- Seq("orders_b", "lineitem_b")) {
      val files = new java.io.File(loc, t).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 8,
        s"$t: expected 8 one-file buckets, got ${files.length}")
    }
  }

  test("q_join_bucketed: join AND same-key agg run without a hash exchange") {
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Spark ≥3.0 ignores a bucketed table's recorded sort order by
    // default (multi-file buckets concatenate, breaking it); our layout
    // pins ONE file per bucket (previous test), which is exactly the
    // case the legacy conf re-enables — with it, the SMJ consumes the
    // write-time sort and inserts no per-bucket re-sorts either
    val ordConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prevOrd = spark.conf.get(ordConf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(ordConf, "true")
      val txt = finalPlan(ops.Storage.qJoinBucketed(spark, sf))
      assert(txt.contains("SortMergeJoin"), s"expected SMJ in:\n$txt")
      // the layout carries HashPartitioning(orderkey, 8) through scan →
      // join → groupBy(l_orderkey); only the presentation sort shuffles
      assert(!txt.contains("Exchange hashpartitioning"),
        s"co-located join must not hash-shuffle:\n$txt")
      val sorts = "Sort \\[".r.findAllIn(txt).length
      assert(sorts == 1, s"expected only the output sort, got $sorts:\n$txt")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set(ordConf, prevOrd)
    }
  }

  test("q_join_bucketed: bucketed copy is content-faithful to the source tables") {
    val viaBuckets = ops.Storage.qJoinBucketed(spark, sf).collect().toSeq
    val direct = core.t(spark, sf, "lineitem")
      .join(core.t(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(core.cents(col("l_extendedprice"))).as("rev_c"),
        max(core.cents(col("o_totalprice"))).as("total_c"))
      .filter(col("l_orderkey") % 100 === 0)
      .orderBy(col("l_orderkey")).collect().toSeq
    assert(viaBuckets == direct)
  }

  test("q_merge_upsert: cardinality algebra matches the changeset rules") {
    val snap = core.t(spark, sf, "orders")
    val nSnap = snap.count()
    val nDel = snap.filter(col("o_orderkey") % 17 === 3).count()
    val nIns = snap.filter(col("o_orderkey") % 100 === 7).count()
    val out = ops.Storage.qMergeUpsert(spark, sf)
      .agg(sum(col("n")), sum(col("n_inserted"))).collect()(0)
    assert(out.getLong(0) == nSnap - nDel + nIns,
      s"merged rows ${out.getLong(0)} != $nSnap - $nDel + $nIns")
    assert(out.getLong(1) == nIns)
  }

  test("q_merge_upsert: update delta is visible in the cents total") {
    val snap = core.t(spark, sf, "orders")
      .select(col("o_orderkey"),
        core.cents(col("o_totalprice")).as("total_c"))
    val base = snap.agg(sum(col("total_c"))).collect()(0).getLong(0)
    val nUpd = snap
      .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 3)
      .count()
    val delSum = snap.filter(col("o_orderkey") % 17 === 3)
      .agg(coalesce(sum(col("total_c")), lit(0L))).collect()(0).getLong(0)
    val insSum = snap.filter(col("o_orderkey") % 100 === 7)
      .agg(coalesce(sum(col("o_orderkey") % 9973 * 100), lit(0L)))
      .collect()(0).getLong(0)
    val merged = ops.Storage.qMergeUpsert(spark, sf)
      .agg(sum(col("sum_c"))).collect()(0).getLong(0)
    assert(merged == base + 500 * nUpd - delSum + insSum)
  }

  test("q_merge_upsert: one key-shuffle applies the whole changeset") {
    val txt = finalPlan(ops.Storage.qMergeUpsert(spark, sf))
    // union(snapshot, changes) → ONE hash exchange on o_orderkey feeds
    // the row_number window; the output rollup adds its own on
    // o_orderstatus; nothing else may shuffle
    val hashEx = "Exchange hashpartitioning".r.findAllIn(txt).length
    assert(hashEx == 2,
      s"expected window + rollup exchanges only, got $hashEx:\n$txt")
  }

  test("q_compact_files: byte-census arithmetic governs the output file count") {
    val base = ops.Storage.compactedDir(spark, sf)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val small = parquetFiles(s"$base/small")
    val compact = parquetFiles(s"$base/compact")
    assert(small.length == 64, s"small tree: ${small.length} files")
    val expected = math.max(1,
      math.ceil(small.map(_.length).sum / (1024.0 * 1024)).toInt)
    assert(compact.length == expected,
      s"compacted to ${compact.length} files, census says $expected")
    assert(compact.length < small.length)
    val n = spark.read.parquet(s"$base/compact").count()
    assert(n == core.events(spark, sf).count())
  }
}
