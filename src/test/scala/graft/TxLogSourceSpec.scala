package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, In, IsNull, Not, StringStartsWith}

import graft.sources.{TxLog, TxLogRelation}

/** The `format("txlog")` / `USING txlog` facade (VERDICT r9 missing
  * #2): save-mode writes mapping onto transactional ops, reads (with
  * time travel) pinning a snapshot per relation, SQL DDL+query over
  * the short name, and the DSv1 filter translation that feeds the
  * inner parquet scan's pushdown.
  */
class TxLogSourceSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    tempDir("graft_txsrc").toAbsolutePath.toString

  test("save modes: append, overwrite, errorIfExists, ignore") {
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").write.format("txlog")
      .mode(SaveMode.Append).option("path", t).save()
    Seq((2L, "b")).toDF("id", "v").write.format("txlog")
      .mode(SaveMode.Append).option("path", t).save()
    val read = spark.read.format("txlog").option("path", t).load()
    assert(read.as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"))
    // facade read == library read
    assert(read.collect().toSet ==
      TxLog.read(spark, t).collect().toSet)

    intercept[IllegalStateException] {
      Seq((9L, "x")).toDF("id", "v").write.format("txlog")
        .mode(SaveMode.ErrorIfExists).option("path", t).save()
    }
    Seq((9L, "x")).toDF("id", "v").write.format("txlog")
      .mode(SaveMode.Ignore).option("path", t).save() // existing: no-op
    assert(spark.read.format("txlog").option("path", t).load().count() == 2)

    Seq((7L, "z")).toDF("id", "v").write.format("txlog")
      .mode(SaveMode.Overwrite).option("path", t).save()
    assert(spark.read.format("txlog").option("path", t).load()
      .as[(Long, String)].collect().toSet == Set(7L -> "z"))
  }

  test("time travel via versionAsOf; snapshot pinned per relation") {
    val t = freshTable()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
    val v1 = spark.read.format("txlog").option("path", t)
      .option("versionAsOf", "1").load()
    assert(v1.as[(Long, String)].collect().toSet == Set(1L -> "a"))
    // a relation resolved BEFORE an overwrite keeps reading its pinned
    // snapshot afterwards (snapshot isolation through the facade)
    val pinned = spark.read.format("txlog").option("path", t).load()
    TxLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "v"))
    assert(pinned.as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"))
  }

  test("SQL surface: CREATE TABLE ... USING txlog, filtered SELECT") {
    val t = freshTable()
    Seq((1L, "ok"), (2L, "drop"), (3L, "ok")).toDF("id", "v")
      .write.format("txlog").mode(SaveMode.Append).option("path", t).save()
    spark.sql(s"CREATE TABLE txlog_spec_tbl USING txlog " +
      s"OPTIONS (path '$t')")
    try {
      val got = spark.sql(
        "SELECT id FROM txlog_spec_tbl WHERE v = 'ok' ORDER BY id")
        .as[Long].collect().toSeq
      assert(got == Seq(1L, 3L))
      assert(spark.sql("SELECT count(*) FROM txlog_spec_tbl")
        .head().getLong(0) == 3L)
    } finally spark.sql("DROP TABLE txlog_spec_tbl")
  }

  test("missing path option fails loudly") {
    intercept[IllegalArgumentException] {
      spark.read.format("txlog").load()
    }
  }

  test("DSv1 filter translation covers the parquet-prunable classes") {
    val df = Seq((1, "xa"), (2, "yb"), (3, "xc"))
      .toDF("a", "s").withColumn("n",
        org.apache.spark.sql.functions.when($"a" === 2, null)
          .otherwise($"a"))
    def ids(f: org.apache.spark.sql.sources.Filter): Set[Int] =
      df.filter(TxLogRelation.toColumn(f).get)
        .select("a").as[Int].collect().toSet
    assert(ids(EqualTo("a", 1)) == Set(1))
    assert(ids(GreaterThan("a", 1)) == Set(2, 3))
    assert(ids(In("a", Array(1, 2))) == Set(1, 2))
    assert(ids(IsNull("n")) == Set(2))
    assert(ids(Not(EqualTo("a", 1))) == Set(2, 3))
    assert(ids(And(GreaterThan("a", 1), StringStartsWith("s", "x")))
      == Set(3))
    // an untranslatable filter is simply not pushed (None), never an
    // error — Spark re-applies every filter above the scan anyway
    assert(TxLogRelation.toColumn(
      org.apache.spark.sql.sources.AlwaysTrue()).isEmpty)
  }

  // ---------------------------------------------------------------
  // Round 11: stats-based FILE SKIPPING on the read path
  // ---------------------------------------------------------------

  test("admits: filter-vs-footer-stats semantics, conservative by default") {
    import org.apache.spark.sql.sources._
    val fs = Some(TxLog.FileStats(10, Map(
      "id" -> TxLog.ColStats(10L, 20L),
      "s"  -> TxLog.ColStats("apple", "banana"))))
    def a(f: Filter): Boolean = TxLogRelation.admits(fs, f)
    // point/range lookups against [10, 20]
    assert(!a(EqualTo("id", 5)) && a(EqualTo("id", 15)) && a(EqualTo("id", 20)))
    assert(!a(GreaterThan("id", 20)) && a(GreaterThan("id", 19)))
    assert(!a(GreaterThanOrEqual("id", 21)) && a(GreaterThanOrEqual("id", 20)))
    assert(!a(LessThan("id", 10)) && a(LessThan("id", 11)))
    assert(!a(LessThanOrEqual("id", 9)) && a(LessThanOrEqual("id", 10)))
    assert(!a(In("id", Array(1, 2, 3))) && a(In("id", Array(1, 15))))
    // prefix pruning in byte order against ["apple", "banana"]
    assert(!a(StringStartsWith("s", "zebra")), "prefix above max must prune")
    assert(!a(StringStartsWith("s", "aa")),
      "prefix range entirely below min must prune")
    assert(a(StringStartsWith("s", "app")) && a(StringStartsWith("s", "b")))
    // boolean structure
    assert(!a(And(EqualTo("id", 15), EqualTo("id", 5))))
    assert(a(Or(EqualTo("id", 5), EqualTo("id", 15))))
    assert(!a(Or(EqualTo("id", 5), EqualTo("id", 6))))
    // conservative: no null counts, no stats, unknown column, odd types
    assert(a(IsNull("id")) && a(IsNotNull("id")))
    assert(a(Not(EqualTo("id", 15))))
    assert(a(EqualTo("nostats", 5)))
    assert(a(EqualTo("id", java.math.BigDecimal.ONE)))
    assert(TxLogRelation.admits(None, EqualTo("id", 5)))
    assert(a(EqualNullSafe("id", null)))
  }

  test("file skipping: a file whose stats cannot match is never opened") {
    val t = freshTable()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.format("txlog").mode(SaveMode.Append).option("path", t).save()
    Seq((100L, "x"), (200L, "y")).toDF("id", "v").coalesce(1)
      .write.format("txlog").mode(SaveMode.Append).option("path", t).save()
    val snap = TxLog.snapshot(t)
    assert(snap.files.size == 2 && snap.stats.size == 2)
    // physically delete the high-range file: if the filtered read
    // still succeeds, skipping decided from METADATA alone and the
    // file was genuinely never opened (without skipping this read
    // dies with FileNotFound)
    val big = snap.files.find(f =>
      snap.stats(f).cols("id") == TxLog.ColStats(100L, 200L)).get
    Files.delete(java.nio.file.Paths.get(big))
    val got = spark.read.format("txlog").option("path", t).load()
      .filter($"id" === 1L).select("v").as[String].collect().toSeq
    assert(got == Seq("a"))
    // a range predicate that only the surviving file admits also works
    assert(spark.read.format("txlog").option("path", t).load()
      .filter($"id" < 50L).count() == 2)
    // and an all-files-pruned predicate returns empty, not an error
    assert(spark.read.format("txlog").option("path", t).load()
      .filter($"id" === 99999L).count() == 0)
  }

  test("NaN-bearing files are never pruned (parquet double stats are NaN-greatest)") {
    val t = freshTable()
    // parquet-mr computes double chunk stats under Double.compare
    // total order: this file records max = NaN
    Seq(1.0, 10.0, Double.NaN).toDF("a").coalesce(1)
      .write.format("txlog").mode(SaveMode.Append).option("path", t).save()
    Seq(100.0, 200.0).toDF("a").coalesce(1)
      .write.format("txlog").mode(SaveMode.Append).option("path", t).save()
    // Spark's ordering also puts NaN above every number: a > 5.0
    // matches 10.0, NaN, 100.0, 200.0 — a primitive-< stats compare
    // read max=NaN as "max <= 5.0" and dropped the first file
    val got = spark.read.format("txlog").option("path", t).load()
      .filter($"a" > 5.0).as[Double].collect()
    assert(got.length == 4 && got.count(_.isNaN) == 1,
      s"NaN-bearing file must survive skipping: ${got.toSeq}")
    // and a range that only the NaN file admits still works
    assert(spark.read.format("txlog").option("path", t).load()
      .filter($"a" < 5.0).count() == 1)
  }

  test("catalog table: REFRESH TABLE picks up later TxLog commits") {
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").write.format("txlog")
      .mode(SaveMode.Append).option("path", t).save()
    spark.sql(s"CREATE TABLE txlog_refresh_tbl USING txlog " +
      s"OPTIONS (path '$t')")
    try {
      assert(spark.sql("SELECT count(*) FROM txlog_refresh_tbl")
        .head().getLong(0) == 1L)
      TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "v"))
      // the cached relation may keep serving its pinned snapshot —
      // the documented contract is that REFRESH TABLE re-resolves it
      spark.sql("REFRESH TABLE txlog_refresh_tbl")
      assert(spark.sql("SELECT count(*) FROM txlog_refresh_tbl")
        .head().getLong(0) == 2L,
        "REFRESH TABLE must re-pin the relation at the newest version")
    } finally spark.sql("DROP TABLE txlog_refresh_tbl")
  }
}
