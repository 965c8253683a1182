package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.TxLog

/** The contract workload run OVER the transactional layer (VERDICT r9
  * task 3): the registered `q_merge_upsert` semantics replayed as a
  * streaming CDC loop — MemoryStream micro-batches → foreachBatch →
  * `TxLog.upsert` / `TxLog.delete` on a real TxLog table — must
  * converge to frame equality with the registered batch key at
  * sf0.01, with a time-travel read pinning the intermediate state
  * mid-stream. This is where the ACID layer and the contract
  * workloads finally meet end-to-end: same snapshot, same derived
  * changeset (`Storage.mergeChangeset`), same presentation aggregate
  * (`Storage.mergeSummary`), two execution paths (one-shot window
  * merge vs sequential merge-on-write commits).
  */
class TxLogIntegrationSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  test("streaming CDC loop over TxLog == the registered q_merge_upsert key") {
    val s = spark
    val t = tempDir("graft_txlog_cdc").toString

    val snap = ops.Storage.mergeSnapshot(s, dir)
    val off = ops.Storage.mergeOffset(snap)
    // seed the table as range-partitioned files so upsert's stats
    // pruning works on real disjoint key ranges
    TxLog.append(s, t, snap.repartitionByRange(8, $"o_orderkey"))
    assert(TxLog.snapshot(t).files.size == 8)

    // the SAME deterministic changeset the registered key derives,
    // split into 3 micro-batches by key (each key changes exactly
    // once, so sequential application == the one-shot merge)
    val changes = ops.Storage.mergeChangeset(snap, off)
      .withColumn("b", pmod($"o_orderkey", lit(3L)))
    val batches = (0L to 2L).map(i => changes.filter($"b" === i).drop("b")
      .as[Change].collect().toSeq)
    assert(batches.map(_.size).sum > 1000, "changeset must be non-trivial")

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Change]
    val q = mem.toDF().writeStream
      .option("checkpointLocation",
        tempDir("graft_txlog_cdc_ck").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val ups = df.filter($"op" =!= "D").drop("op")
        if (!ups.isEmpty) TxLog.upsert(s, t, ups, "o_orderkey")
        val dels = df.filter($"op" === "D").select("o_orderkey")
        if (!dels.isEmpty) TxLog.delete(s, t, dels, "o_orderkey")
        ()
      }.start()

    // batch 0, then pin the mid-stream version for time travel
    mem.addData(batches(0): _*); q.processAllAvailable()
    val vMid = TxLog.currentVersion(t)
    mem.addData(batches(1): _*); q.processAllAvailable()
    mem.addData(batches(2): _*); q.processAllAvailable()
    q.stop()

    def asSet(df: DataFrame): Set[(Long, String, Long)] =
      df.select("o_orderkey", "o_orderstatus", "total_c").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // time travel: the mid-stream snapshot equals the batch merge of
    // batch 0 alone — later commits did not rewrite history
    val expectedMid = ops.Storage.mergeChanges(snap,
      batches(0).toDF().select($"o_orderkey", $"o_orderstatus",
        $"total_c", $"op"))
    assert(asSet(TxLog.read(s, t, Some(vMid))) == asSet(expectedMid),
      "time-travel read mid-stream must equal the batch-0-only merge")

    // final frame equality with the REGISTERED key, via the shared
    // presentation aggregate over both execution paths
    val viaTxLog = ops.Storage.mergeSummary(TxLog.read(s, t), off)
      .collect().toSeq
    val registered = ops.Storage.qMergeUpsert(s, dir).collect().toSeq
    assert(viaTxLog == registered,
      s"TxLog CDC replay must equal the registered key:\n" +
      s"  txlog:      $viaTxLog\n  registered: $registered")
  }
}
