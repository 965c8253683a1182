package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.ops.core

/** Fixture reads from parquet footers: [[core.t]] takes each table's
  * schema from its footer ([[GraftBridge.parquetSchema]]) instead of an
  * inference job, and [[core.tableRows]] answers its row count the same
  * way. Both must return exactly what inference and `count()` return —
  * same fields in the same order with the same nullability — for the
  * DuckDB-written single-file fixtures, a Spark-written multi-file
  * directory, and a crafted events fixture whose `ts` is raw nanos
  * longs. Building the frames, and q_scan_count end to end, launches
  * no Spark job.
  */
class FixtureReadSpec extends SparkSuite {
  import spark.implicits._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val sf01 =
    new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  private def nanosAsLong(): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The read before footers: inference, then the events `ts` dispatch. */
  private def inferredT(dir: String, name: String): DataFrame = {
    nanosAsLong()
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def assertFooterMatches(dir: String, name: String): Unit = {
    nanosAsLong()
    val path = s"$dir/$name.parquet"
    val inferred = spark.read.parquet(path)
    val schema = GraftBridge.parquetSchema(spark, path)
    val n = GraftBridge.parquetRows(spark, path)
    assert(schema == inferred.schema,
      s"$path: footer ${schema.treeString} vs inferred ${inferred.schema.treeString}")
    assert(n == inferred.count(), s"$path: footer rows")
    assert(core.tableRows(spark, dir, name) == n)
    assert(core.t(spark, dir, name).schema == inferredT(dir, name).schema,
      s"$path: core.t schema")
  }

  test("footer schema and rows equal inference and count() at sf0.001 and sf0.01") {
    for (dir <- Seq(sf, sf01); name <- tables) assertFooterMatches(dir, name)
  }

  test("a Spark-written multi-file directory reads like its inference twin") {
    val dir = Files.createTempDirectory("graft_fixture_dirs").toString
    tables.foreach { name =>
      core.t(spark, sf, name).repartition(3)
        .write.parquet(s"$dir/$name.parquet")
    }
    val files = new java.io.File(s"$dir/lineitem.parquet").list()
    assert(files.count(_.endsWith(".parquet")) == 3 &&
      files.exists(_.startsWith("_")) && files.exists(_.startsWith(".")),
      s"expected part files plus _SUCCESS and .crc files: ${files.mkString(", ")}")
    tables.foreach(assertFooterMatches(dir, _))
    assert(rows(core.t(spark, dir, "part")) == rows(core.t(spark, sf, "part")))
  }

  test("a nanos-long events fixture takes the LONG branch") {
    val dir = Files.createTempDirectory("graft_fixture_nanos").toString
    spark.range(0, 50).select(
      lit("t").as("event_type"), $"id".as("event_id"),
      lit(7.0).as("value"), ($"id" * 1000000123L).as("ts"),
      $"id".as("user_id"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    assertFooterMatches(dir, "events")
    assert(GraftBridge.parquetSchema(spark, s"$dir/events.parquet")("ts")
      .dataType == LongType)
    val ev = core.t(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(rows(ev) == rows(inferredT(dir, "events")))
  }

  test("building every fixture frame and running q_scan_count launch no Spark job") {
    core.t(spark, sf, "region").schema // first-use class loading outside the probe
    var frames = Seq.empty[DataFrame]
    var counts = Array.empty[org.apache.spark.sql.Row]
    val jobs = JobProbe.jobs(spark, "fixture-read-build") {
      frames = tables.map(core.t(spark, sf, _))
      counts = ops.Relational.qScanCount(spark, sf).collect()
    }
    assert(frames.map(_.columns.nonEmpty) == tables.map(_ => true))
    assert(jobs == 0, "fixture schemas and q_scan_count's counts come from footers")
    assert(counts.map(_.getString(0)).toSeq == tables.sorted)
    assert(counts.map(_.getLong(1)).toSeq ==
      tables.sorted.map(n => inferredT(sf, n).count()))
  }

  test("the listing-built date dim equals the distinct() dim it replaced") {
    val base = ops.Storage.layoutDir(spark, sf)
    val d = to_date(col("ts"))
    val old = core.events(spark, sf).select(d.as("event_date")).distinct()
      .withColumn("peak",
        datediff(col("event_date"), to_date(lit("2024-01-01"))) % 7 === 5)
    val dim = spark.read.parquet(s"$base/date_dim")
    assert(dim.schema == old.schema)
    assert(rows(dim) == rows(old))
    // the fact read's explicit schema is the one inference finds
    val inferredFact = spark.read.parquet(s"$base/events_by_date")
    val fact = ops.Storage.prunedRead(spark, sf)
    val oldJoin = inferredFact
      .filter(col("event_date") >= lit("2024-01-05").cast("date"))
      .join(broadcast(dim.filter(col("peak")).select(col("event_date"))),
        Seq("event_date"))
    assert(fact.schema == oldJoin.schema)
    assert(rows(fact) == rows(oldJoin))
  }
}
