package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
  * them in a job). The incremental reads — [[TxLog.readChanges]],
  * [[TxLog.syncOnce]] and the append-only streaming source — take the
  * logged schema at their range's end the same way.
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
    var df: DataFrame = null
    val jobs = JobProbe.jobs(spark, "txlog-read-build") {
      df = TxLog.read(spark, t)
    }
    assert(df.columns.toSeq == Seq("id", "v", "x"))
    assert(jobs == 0, "the read took its schema from the log; no footer-inference job")
  }

  /** A renamed, additively evolved append-only table: v1 (id, v),
    * RENAME v → label, v3 (id, label, x).
    */
  private def evolvedAppends(): String = {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))
    TxLog.renameColumn(t, "v", "label")
    TxLog.append(spark, t, Seq((2L, "b", 3)).toDF("id", "label", "x"))
    t
  }

  test("readChanges and syncOnce read under the logged schema at the range's end") {
    val t = evolvedAppends()
    val changes = TxLog.readChanges(spark, t, 0L)
    assert(changes.schema == TxLog.read(spark, t).schema)
    assert(changes.columns.toSeq == Seq("id", "label", "x"))
    val want = Map(Seq(1L, "a", null) -> 1, Seq(2L, "b", 3) -> 1)
    assert(rows(changes) == want)
    val dst = fresh()
    assert(TxLog.syncOnce(spark, t, dst, "sync-1") == TxLog.currentVersion(t))
    assert(TxLog.read(spark, dst).columns.toSeq == Seq("id", "label", "x"))
    assert(rows(TxLog.read(spark, dst)) == want)
  }

  test("syncOnce after a RENAME at src fails loudly and leaves dst unchanged") {
    val src = fresh(); val dst = fresh()
    TxLog.append(spark, src, Seq(1L -> "a").toDF("id", "v"))
    assert(TxLog.syncOnce(spark, src, dst, "sync-1") == 1L)
    val before = TxLog.currentVersion(dst)
    TxLog.renameColumn(src, "v", "label")
    TxLog.append(spark, src, Seq(2L -> "b").toDF("id", "label"))
    val e = intercept[IllegalArgumentException] {
      TxLog.syncOnce(spark, src, dst, "sync-1")
    }
    assert(e.getMessage.contains("renamed or dropped"), e.getMessage)
    assert(TxLog.currentVersion(dst) == before, "no commit reached dst")
    assert(TxLog.read(spark, dst).columns.toSeq == Seq("id", "v"))
    assert(rows(TxLog.read(spark, dst)) == Map(Seq(1L, "a") -> 1))
  }

  test("building the incremental reads' frames launches no Spark job") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val t = evolvedAppends()
    val cur = TxLog.currentVersion(t)
    val files = TxLog.changedFiles(t, 0L, cur)
    val schema = TxLog.read(spark, t).schema
    var frames = Seq.empty[DataFrame]
    val jobs = JobProbe.jobs(spark, "txlog-incremental-build") {
      frames = Seq(
        TxLog.readChanges(spark, t, 0L),
        TxLog.readFilesAt(spark.read, t, cur, files), // syncOnce's read
        new graft.sources.TxLogStreamSource(spark, t, schema, 0L)
          .getBatch(None, LongOffset(cur)))
    }
    frames.foreach(f => assert(f.schema.fieldNames.toSeq == Seq("id", "label", "x")))
    assert(jobs == 0, "incremental reads took their schema from the log")
  }
}
