package graft

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLog

/** The locate-and-rewrite core behind [[TxLog.upsert]],
  * [[TxLog.delete]], [[TxLog.merge]] and [[TxLog.applyChanges]].
  *
  * A remove set of at most [[TxLog.keyPruneLimit]] non-null key rows
  * is collected once, and where its key type allows, it is located by
  * `key IN (…)` and removed by `key IS NULL OR NOT key IN (…)`. The job
  * pins hold that budget. Each rewrite must leave exactly the rows,
  * and touch exactly the files, of the join formulation it replaces
  * for small sets. That formulation is kept here as the reference: the
  * files holding a key (left_semi on `input_file_name`), and the table
  * without the keys (left_anti) plus the added rows. Keys of types
  * whose equality a literal set does not reproduce stay on the joins.
  * The rewrite's staged frame is coalesced to its estimated size;
  * appends and compaction keep the caller's partitioning.
  */
class TxLogRewriteSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String =
    tempDir("graft_rewrite").toString + "/t"

  /** The files of `t`'s current snapshot holding a key of `remove`. */
  private def referenceTouched(t: String, remove: DataFrame,
                               key: String): Set[String] =
    TxLog.read(spark, t).withColumn("_f", input_file_name())
      .join(remove.select(col(key)), Seq(key), "left_semi")
      .select("_f").as[String].collect()
      .map(f => new java.io.File(new java.net.URI(f)).getName).toSet

  /** Rows as comparable strings: arrays by content, NaN and ±0.0 as
    * written.
    */
  private def rows(df: DataFrame): Map[Seq[String], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: Array[Byte] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def liveNames(t: String): Set[String] =
    TxLog.snapshot(t).files.map(f => java.nio.file.Paths.get(f).getFileName.toString).toSet

  /** Runs `op` on `t` and checks it against the join reference for
    * removing `remove`'s keys and adding `add`; returns the jobs `op`
    * launched.
    */
  private def checkRewrite(t: String, key: String, remove: DataFrame,
                           add: Option[DataFrame])(op: => Unit): Int = {
    val before = TxLog.read(spark, t)
    val want = rows((Seq(before.join(remove.select(col(key)), Seq(key),
      "left_anti")) ++ add).reduce(_.unionByName(_)))
    val wantTouched = referenceTouched(t, remove, key)
    val live = liveNames(t)
    val jobs = JobProbe.jobs(spark, s"rewrite-${System.nanoTime()}")(op)
    assert(rows(TxLog.read(spark, t)) == want)
    assert(live -- liveNames(t) == wantTouched,
      "the rewrite removes exactly the files a semi-join finds a key in")
    jobs
  }

  /** `n` rows `(id, "v<id>")` in `files` files. */
  private def longTable(n: Int, files: Int): String = {
    val t = fresh()
    TxLog.append(spark, t, spark.range(n).select(col("id"),
      concat(lit("v"), col("id").cast("string")).as("v")).repartition(files))
    t
  }

  private def upd(ids: Seq[Long], tag: String): DataFrame =
    ids.map(i => (i, s"$tag$i")).toDF("id", "v")

  test("a small upsert, delete and merge each launch 3 jobs") {
    val t = longTable(1000, 4)
    val up = upd((0L until 200L) ++ (5000L until 5200L), "u")
    assert(checkRewrite(t, "id", up, Some(up))(
      TxLog.upsert(spark, t, up, "id")) == 3)
    val del = (200L until 280L).toDF("id")
    assert(checkRewrite(t, "id", del, None)(
      TxLog.delete(spark, t, del, "id")) == 3)
    val mUp = upd(300L until 350L, "m")
    val mDel = (400L until 420L).toDF("id")
    assert(checkRewrite(t, "id", mUp.select("id").union(mDel), Some(mUp))(
      TxLog.merge(spark, t, mUp, mDel, "id")) == 3)
  }

  test("a rewrite that touches no file runs no job to learn whether it adds rows") {
    val t = longTable(1000, 4)
    // every key above the table's range: stats prune all four files,
    // and the key collect already proved the upsert non-empty — key
    // collect and staged write, no isEmpty job
    val miss = upd(5000L until 5400L, "o")
    assert(checkRewrite(t, "id", miss, Some(miss))(
      TxLog.upsert(spark, t, miss, "id")) == 2)
    // a delete-only change batch that touches no file: the winners'
    // collect carries no upsert flag, so no isEmpty job runs over the
    // (empty) upsert rows — 3 jobs, 4 with it — and nothing commits
    val v = TxLog.currentVersion(t)
    val deletes = changes((7000L until 7010L).map(i => (i, s"d$i", "delete", 1L)))
    assert(JobProbe.jobs(spark, "apply-delete-miss")(
      TxLog.applyChanges(spark, t, deletes, "id")) == 3)
    assert(TxLog.currentVersion(t) == v)
    // an empty upsert on a non-empty table commits nothing
    assert(TxLog.upsert(spark, t, upd(Nil, "e"), "id") == v)
    assert(TxLog.currentVersion(t) == v)
  }

  test("keyPruneLimit rows take the literal path, one more row the span and join path") {
    val n = TxLog.keyPruneLimit
    val t = longTable(4000, 4)
    val atLimit = upd(0L until n.toLong, "a")
    assert(checkRewrite(t, "id", atLimit, Some(atLimit))(
      TxLog.upsert(spark, t, atLimit, "id")) == 3)
    val above = upd(0L to n.toLong, "b")
    val jobs = checkRewrite(t, "id", above, Some(above))(
      TxLog.upsert(spark, t, above, "id"))
    assert(jobs > 3, s"$jobs jobs: the span agg and the joins run above the limit")
    val delAbove = (2000L to 2000L + n).toDF("id")
    assert(checkRewrite(t, "id", delAbove, None)(
      TxLog.delete(spark, t, delAbove, "id")) > 3)
  }

  /** A change batch shaped like `readChangeFeed` output. */
  private def changes(rs: Seq[(Long, String, String, Long)]): DataFrame =
    rs.toDF("id", "v", "_change_type", "_commit_version")

  test("a small applyChanges batch launches at most 4 jobs on an empty replica, 5 on a non-empty one") {
    val rep = fresh()
    val boot = changes((0L until 400L).map(i => (i, s"a$i", "insert", 1L)))
    val cold = JobProbe.jobs(spark, "apply-empty")(
      TxLog.applyChanges(spark, rep, boot, "id"))
    assert(cold <= 4, s"$cold jobs on an empty replica")
    val batch = changes(
      (0L until 200L).flatMap(i => Seq((i, s"a$i", "update_preimage", 2L),
        (i, s"b$i", "update_postimage", 2L))) ++
      (400L until 600L).map(i => (i, s"b$i", "insert", 2L)) ++
      (200L until 280L).map(i => (i, s"a$i", "delete", 3L)))
    val warm = JobProbe.jobs(spark, "apply-replica")(
      TxLog.applyChanges(spark, rep, batch, "id"))
    assert(warm <= 5, s"$warm jobs on a non-empty replica")
    assert(TxLog.read(spark, rep).as[(Long, String)].collect().toSet ==
      ((0L until 200L).map(i => i -> s"b$i") ++ (280L until 400L).map(i => i -> s"a$i") ++
        (400L until 600L).map(i => i -> s"b$i")).toSet)
  }

  test("applyChanges above keyPruneLimit winners still names ambiguous keys and applies") {
    val rep = fresh()
    val n = TxLog.keyPruneLimit + 10
    TxLog.applyChanges(spark, rep,
      changes((0L until n.toLong).map(i => (i, s"a$i", "insert", 1L))), "id")
    val amb = changes((0L until n.toLong).map(i => (i, s"b$i", "insert", 2L)) :+
      ((n - 1).toLong, "other", "insert", 2L))
    val e = intercept[IllegalArgumentException](
      TxLog.applyChanges(spark, rep, amb, "id"))
    assert(e.getMessage.contains("not unique") && e.getMessage.contains(s"${n - 1}"),
      e.getMessage)
    TxLog.applyChanges(spark, rep, changes(
      (0L until n.toLong).map(i => (i, s"b$i", "update_postimage", 2L)) :+
        (0L, "x", "delete", 3L)), "id")
    assert(TxLog.read(spark, rep).as[(Long, String)].collect().toSet ==
      (1L until n.toLong).map(i => i -> s"b$i").toSet)
  }

  test("null keys in the table and in the change set, and duplicate update keys") {
    val t = fresh()
    TxLog.append(spark, t, Seq[(java.lang.Long, String)]((1L, "a"), (null, "n1"),
      (2L, "b"), (3L, "c")).toDF("id", "v").repartition(2))
    TxLog.append(spark, t, Seq[(java.lang.Long, String)]((null, "n2"), (4L, "d"))
      .toDF("id", "v"))
    val up = Seq[(java.lang.Long, String)]((null, "n3"), (2L, "B"), (2L, "B2"),
      (5L, "e")).toDF("id", "v")
    assert(checkRewrite(t, "id", up, Some(up))(TxLog.upsert(spark, t, up, "id")) == 3)
    val del = Seq[java.lang.Long](null, 1L, 1L, 4L).toDF("id")
    assert(checkRewrite(t, "id", del, None)(TxLog.delete(spark, t, del, "id")) == 3)
  }

  test("Int delete keys against a Long key column") {
    val t = longTable(100, 2)
    val del = Seq(3, 4, 99).toDF("id")
    assert(checkRewrite(t, "id", del, None)(TxLog.delete(spark, t, del, "id")) == 3)
  }

  /** A two-file table of `keys` (the key column `k`, a value `v`); a
    * merge upserting the first two keys and deleting the third must
    * match the reference. Returns the merge's jobs.
    */
  private def checkKeys(keys: DataFrame): Int = {
    val t = fresh()
    val tbl = keys.withColumn("v", monotonically_increasing_id())
    TxLog.append(spark, t, tbl.repartition(2))
    val first = tbl.collect().toSeq
    val schema = tbl.schema
    val up = spark.createDataFrame(spark.sparkContext.parallelize(
      first.take(2).map(r => Row(r.get(0), -1L))), schema)
    val del = spark.createDataFrame(spark.sparkContext.parallelize(
      first.slice(2, 3).map(r => Row(r.get(0)))), StructType(schema.take(1)))
    checkRewrite(t, "k", up.select("k").union(del), Some(up))(
      TxLog.merge(spark, t, up, del, "k"))
  }

  test("strings beyond the BMP, dates, timestamps and timestamp_ntz take the literal path") {
    assert(checkKeys(Seq("a", "", "😀", "𝄞", "z").toDF("k")) == 3)
    assert(checkKeys(Seq(Date.valueOf("2024-02-29"), Date.valueOf("1000-01-01"),
      Date.valueOf("1970-01-01"), Date.valueOf("2038-01-19")).toDF("k")) == 3)
    assert(checkKeys(Seq(java.time.LocalDate.of(1582, 10, 10),
      java.time.LocalDate.of(1582, 10, 4), java.time.LocalDate.of(1582, 10, 15),
      java.time.LocalDate.of(2000, 1, 1)).toDF("k")) == 3)
    assert(checkKeys(Seq(Timestamp.valueOf("2024-06-01 00:00:00.123456"),
      Timestamp.valueOf("1969-12-31 23:59:59.999999"),
      Timestamp.valueOf("2024-06-01 00:00:00.123457")).toDF("k")) == 3)
    assert(checkKeys(Seq(LocalDateTime.parse("2024-06-01T00:00:00.000001"),
      LocalDateTime.parse("1900-01-01T00:00:00"),
      LocalDateTime.parse("2024-06-01T00:00:00.000002")).toDF("k")) == 3)
  }

  test("double (NaN, ±0.0), decimal and binary keys stay on the join path") {
    val doubles = checkKeys(Seq(-0.0, Double.NaN, 0.0, Double.NaN, 1.5).toDF("k"))
    assert(doubles > 3, s"$doubles jobs")
    // -0.0 and NaN as the change set: the join matches 0.0 and every NaN
    val t = fresh()
    TxLog.append(spark, t, Seq(0.0 -> "z", -0.0 -> "nz", Double.NaN -> "nan",
      1.5 -> "x").toDF("k", "v").repartition(2))
    val del = Seq(-0.0, Double.NaN).toDF("k")
    checkRewrite(t, "k", del, None)(TxLog.delete(spark, t, del, "k"))
    assert(TxLog.read(spark, t).as[(Double, String)].collect().toSeq == Seq(1.5 -> "x"))
    val decimals = checkKeys(Seq(new JBigDecimal("1.10"), new JBigDecimal("2.00"),
      new JBigDecimal("3.50"), new JBigDecimal("-4.25")).toDF("k"))
    assert(decimals > 3, s"$decimals jobs")
    val binary = checkKeys(Seq(Array[Byte](1, 2), Array[Byte](), Array[Byte](-1),
      Array[Byte](1, 2, 3)).toDF("k"))
    assert(binary > 3, s"$binary jobs")
  }

  test("a 400-row rewrite adds one file; appends and compaction keep their partitioning") {
    val t = longTable(2000, 4)
    TxLog.upsert(spark, t, upd((0L until 200L) ++ (9000L until 9200L), "u"), "id")
    assert(TxLog.history(t).head.adds == 1)
    val r = fresh()
    TxLog.append(spark, r, spark.range(8000).toDF("id")
      .repartitionByRange(8, col("id")))
    assert(TxLog.history(r).head.adds == 8)
    Seq(1, 3).foreach { k =>
      TxLog.compact(spark, r, targetFiles = k)
      assert(TxLog.history(r).head.adds == k)
    }
  }
}
