package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.sources.TxLog

/** The logged-schema read: [[TxLog.readSnapshot]] takes the schema the
  * snapshot replayed from the log instead of inferring one from the
  * files' footers. It must return exactly what the `mergeSchema`
  * inference read returned — same fields in the same order with the
  * same nullability, same rows — across additive evolution, RENAME and
  * DROP COLUMN and partitioned tables, fall back to inference for a
  * log with no schema line, and build its frame without a footer
  * inference job (over a few files; above 32 files Spark still lists
  * them in a job).
  */
class TxLogReadSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft_read").toString + "/t"

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map {
      case (r, rs) => r -> rs.size }

  /** The logged-schema read of `t` against its inference twin. */
  private def assertSameAsInferred(t: String): Unit = {
    val snap = TxLog.snapshot(t)
    assert(snap.schema.isDefined, "the log carries a schema line")
    val logged = TxLog.readSnapshot(spark, snap)
    val inferred = TxLog.readSnapshot(spark, snap.copy(schema = None))
    assert(logged.schema == inferred.schema,
      s"logged ${logged.schema.treeString} vs inferred ${inferred.schema.treeString}")
    assert(rows(logged) == rows(inferred))
  }

  test("additive evolution: files without the new column read it as null") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    TxLog.append(spark, t, Seq((3L, "c", 7)).toDF("id", "v", "x"))
    assertSameAsInferred(t)
    assert(rows(TxLog.read(spark, t).select("id", "x")) ==
      Map(Seq(1L, null) -> 1, Seq(2L, null) -> 1, Seq(3L, 7) -> 1))
  }

  test("RENAME and DROP COLUMN read under the logical names") {
    val t = fresh()
    TxLog.append(spark, t, Seq((1L, "a", 5)).toDF("id", "v", "x"))
    TxLog.renameColumn(t, "v", "label")
    TxLog.append(spark, t, Seq((2L, "b", 6)).toDF("id", "label", "x"))
    TxLog.dropColumn(t, "x")
    TxLog.append(spark, t, Seq(3L -> "c").toDF("id", "label"))
    assertSameAsInferred(t)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "label"))
    assert(rows(TxLog.read(spark, t)) ==
      Map(Seq(1L, "a") -> 1, Seq(2L, "b") -> 1, Seq(3L, "c") -> 1))
  }

  test("partitioned tables read the logged schema") {
    val t = fresh()
    TxLog.append(spark, t,
      Seq((1L, "en", 1.5), (2L, "de", 2.5)).toDF("id", "lang", "score"),
      Seq("lang"))
    TxLog.upsert(spark, t, Seq((2L, "de", 9.0)).toDF("id", "lang", "score"), "id")
    assertSameAsInferred(t)
  }

  test("a log with no schema line falls back to footer inference") {
    val t = fresh()
    val staged = Files.createTempDirectory("graft_read_stage").toString + "/out"
    Seq(1L -> "a", 2L -> "b").toDF("id", "v").coalesce(1).write.parquet(staged)
    val part = Files.list(Paths.get(staged)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(t))
    Files.move(part, Paths.get(t, "part-legacy.parquet"))
    TxLog.commit(t, "append", 0L, Seq("part-legacy.parquet" -> None), Nil)
    val snap = TxLog.snapshot(t)
    assert(snap.schema.isEmpty)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "v"))
    assert(rows(TxLog.read(spark, t)) == Map(Seq(1L, "a") -> 1, Seq(2L, "b") -> 1))
  }

  test("building a TxLog.read frame launches no Spark job") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))
    TxLog.append(spark, t, Seq((2L, "b", 3)).toDF("id", "v", "x"))
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("txlog-read-build", "build a TxLog.read frame")
      val df = try TxLog.read(spark, t) finally sc.clearJobGroup()
      assert(df.columns.toSeq == Seq("id", "v", "x"))
      // listener events arrive in job order: once the marker job's start
      // is seen, any job the build launched has been seen too
      sc.setJobGroup("txlog-read-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("txlog-read-marker") &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(groups.contains("txlog-read-marker"))
      assert(!groups.contains("txlog-read-build"),
        "the read took its schema from the log; no footer-inference job")
    } finally sc.removeSparkListener(listener)
  }
}
