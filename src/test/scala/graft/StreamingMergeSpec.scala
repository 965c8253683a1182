package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Change(o_orderkey: Long, o_orderstatus: String,
                  total_c: Long, op: String)

/** Streaming CDC upsert: the `Storage.mergeChanges` core applied per
  * micro-batch via foreachBatch against a parquet state table — the
  * merge-on-read maintenance loop of a mutable 100 TB table when the
  * changeset ARRIVES as a stream. Each batch reads the current
  * snapshot, merges, and atomically swaps the table dir; the final
  * table must equal applying all changes in one batch merge (keys
  * here change once, so sequential == single-shot).
  */
class StreamingMergeSpec extends SparkSuite {

  test("foreachBatch merge loop converges to the single-shot batch merge") {
    val s = spark
    import s.implicits._

    val base = tempDir("graft_stream_merge").toString
    val snap0 = Seq(
      (1L, "O", 1000L), (2L, "O", 2000L), (3L, "F", 3000L),
      (4L, "P", 4000L), (5L, "O", 5000L))
      .toDF("o_orderkey", "o_orderstatus", "total_c")
    snap0.write.mode("overwrite").parquet(s"$base/t0")

    // two micro-batches of disjoint-key changes: update 1, delete 3,
    // insert 6 — then update 4, delete 5, insert 7
    val b1 = Seq(Change(1L, "F", 1500L, "U"), Change(3L, "F", 3000L, "D"),
      Change(6L, "O", 6000L, "I"))
    val b2 = Seq(Change(4L, "F", 4500L, "U"), Change(5L, "O", 5000L, "D"),
      Change(7L, "O", 7000L, "I"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    // generation counter: batch i reads t{i}, writes t{i+1} — the
    // atomic-swap discipline (never rewrite the dir you are reading)
    var gen = 0
    val q = mem.toDF().writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (changes: org.apache.spark.sql.DataFrame, _: Long) =>
        val cur = s.read.parquet(s"$base/t$gen")
        ops.Storage.mergeChanges(cur, changes)
          .write.mode("overwrite").parquet(s"$base/t${gen + 1}")
        gen += 1
      }
      .start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    assert(gen == 2, s"expected 2 micro-batches, ran $gen")
    val streamed = s.read.parquet(s"$base/t$gen")
      .orderBy($"o_orderkey").collect().toSeq
    val oneShot = ops.Storage
      .mergeChanges(snap0, (b1 ++ b2).toDF())
      .orderBy($"o_orderkey").collect().toSeq
    assert(streamed == oneShot,
      s"streamed $streamed\n!= one-shot $oneShot")
    // spot-check semantics: 1 updated, 3 & 5 gone, 6 & 7 inserted
    val byKey = streamed.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byKey(1L) == ("F", 1500L))
    assert(!byKey.contains(3L) && !byKey.contains(5L))
    assert(byKey(6L) == ("O", 6000L) && byKey(7L) == ("O", 7000L))
  }
}
