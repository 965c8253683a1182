package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.streaming.RunningCountProcessor

/** Spark 4 transformWithState (RocksDB-backed typed state) + the
  * parquet file streaming source — the remaining §2.9 runtime rows.
  */
class TransformWithStateSpec extends SparkSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("transformWithState accumulates typed per-key state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long)]
      val out = mem.toDS.groupByKey(_._1)
        .transformWithState(new RunningCountProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "n", "sum_c")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("tws").start()
      mem.addData(Seq((1L, 100L), (1L, 250L), (2L, 40L)))
      q.processAllAvailable()
      mem.addData(Seq((1L, 50L)))
      q.processAllAvailable(); q.stop()
      val last = spark.table("tws").groupBy($"user_id")
        .agg(max($"n").as("n"), max($"sum_c").as("sum_c"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(last(1L) == ((3L, 400L)), s"got ${last(1L)}")
      assert(last(2L) == ((1L, 40L)))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("parquet file source streams the events fixture incrementally") {
    val s = spark
    import s.implicits._
    // the events fixture needs the nanos workaround, so stream the
    // customer table (plain µs-free schema) as the file-source check
    // the file source wants a directory to watch — stage the fixture
    // file into a temp dir
    val dir = tempDir("graft_filesrc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/customer.parquet"),
      dir.resolve("part-0.parquet"))
    val schema = graft.ops.core.t(spark, sf, "customer").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    assert(stream.isStreaming)
    val q = stream.groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("filesrc").start()
    q.processAllAvailable(); q.stop()
    val total = spark.table("filesrc").agg(sum($"n")).head().getLong(0)
    assert(total == graft.ops.core.t(spark, sf, "customer").count())
  }
}
