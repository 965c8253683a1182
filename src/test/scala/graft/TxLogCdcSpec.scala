package graft

import graft.sources.TxLog

/** Row-level CHANGE DATA FEED over the TxLog (round-12): rewrite
  * commits need no pre-written change files — copy-on-write at file
  * granularity means a commit's change rows ARE the multiset diff of
  * its removed vs added files. Pins the per-op classification
  * (append → insert, compact → nothing, upsert/delete → diff, keyed
  * diff → update_pre/postimage), the facade read spelling, schema
  * evolution inside a feed range, and the vacuum-retention loud
  * failure.
  */
class TxLogCdcSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String =
    tempDir("graft_cdc").toString + "/t"

  private def feed(t: String, from: Long, to: Option[Long] = None,
                   key: Option[String] = None): Set[(Long, String, String, Long)] =
    TxLog.readChangeFeed(spark, t, from, to, key)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet

  test("append commits feed as inserts; compact feeds nothing") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a", 2L -> "b").toDF("id", "v")) // v1
    TxLog.append(spark, t, Seq(3L -> "c").toDF("id", "v"))            // v2
    TxLog.compact(spark, t)                                           // v3
    assert(feed(t, 0L) == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 2L)),
      "appends are inserts at their commit version; the compact is " +
      "content-neutral and contributes no change rows")
    assert(feed(t, 2L).isEmpty, "a compact-only range is an empty feed")
  }

  test("upsert feeds the row-level diff, not the rewritten files") {
    val t = fresh()
    TxLog.append(spark, t,
      Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "v"))           // v1
    TxLog.upsert(spark, t,
      Seq(2L -> "B", 4L -> "d").toDF("id", "v"), "id")                // v2
    // unkeyed: the carried-over rows (1, 3) cancel out in the multiset
    // diff; only the genuinely changed rows surface
    assert(feed(t, 1L) == Set(
      (2L, "b", "delete", 2L), (2L, "B", "insert", 2L),
      (4L, "d", "insert", 2L)))
    // keyed: id 2 on both sides is an UPDATE; id 4 only on the new side
    // stays an insert
    assert(feed(t, 1L, key = Some("id")) == Set(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (4L, "d", "insert", 2L)))
  }

  test("delete feeds deletes; multi-version ranges stack by version") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a", 2L -> "b").toDF("id", "v")) // v1
    TxLog.delete(spark, t, Seq(Tuple1(1L)).toDF("id"), "id")          // v2
    TxLog.append(spark, t, Seq(5L -> "e").toDF("id", "v"))            // v3
    assert(feed(t, 0L) == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "delete", 2L), (5L, "e", "insert", 3L)))
    // half-open range semantics: (1, 2] sees only the delete
    assert(feed(t, 1L, Some(2L)) == Set((1L, "a", "delete", 2L)))
  }

  test("facade: read.format(txlog).option(readChangeFeed) twin") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    TxLog.upsert(spark, t, Seq(2L -> "B").toDF("id", "v"), "id")
    val got = spark.read.format("txlog")
      .option("path", t).option("readChangeFeed", "true")
      // startingVersion is INCLUSIVE (Delta CDF semantics): 2 = from
      // commit v2's own changes on; the library feed stays half-open
      .option("startingVersion", "2").option("changeKey", "id")
      .load()
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == Set(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L)),
      "the DSv1 facade spelling serves exactly the library feed")
  }

  test("additive schema evolution inside a feed range") {
    val t = fresh()
    TxLog.append(spark, t, Seq(Tuple2(1L, "a")).toDF("id", "v"))      // v1
    TxLog.append(spark, t,
      Seq((2L, "b", 7L)).toDF("id", "v", "extra"))                    // v2
    val got = TxLog.readChangeFeed(spark, t, 0L)
      .select("id", "v", "extra", "_commit_version")
      .as[(Long, String, Option[Long], Long)].collect().toSet
    assert(got == Set((1L, "a", None, 1L), (2L, "b", Some(7L), 2L)),
      "pre-evolution change rows carry the evolved column as null, " +
      "exactly like the batch read")
  }

  test("vacuumed pre-images fail loudly, naming vacuum") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))            // v1
    TxLog.upsert(spark, t, Seq(1L -> "A").toDF("id", "v"), "id")      // v2
    TxLog.vacuum(t) // retain 0: v1's rewritten pre-image file dies
    val e = intercept[IllegalArgumentException] {
      TxLog.readChangeFeed(spark, t, 1L).collect()
    }
    assert(e.getMessage.contains("vacuum"),
      s"the failure must name the cause: ${e.getMessage}")
    // (v1's own add file died with the rewrite+vacuum too — CDC over
    // any range touching it fails the same way; live-range feeds are
    // covered by the other tests)
  }

  test("merge: mixed upsert + delete lands as ONE commit") {
    val t = fresh()
    TxLog.append(spark, t,
      Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "v"))           // v1
    val v = TxLog.merge(spark, t,
      Seq(2L -> "B", 4L -> "d").toDF("id", "v"),
      Seq(Tuple1(3L)).toDF("id"), "id")
    assert(v == 2L && TxLog.currentVersion(t) == 2L,
      "update+insert+delete must be one atomic commit, not two")
    assert(TxLog.read(spark, t).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "B", 4L -> "d"))
    // the CDC view of that one commit carries all three change kinds
    assert(feed(t, 1L, key = Some("id")) == Set(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (3L, "c", "delete", 2L), (4L, "d", "insert", 2L)))
  }

  test("applyChanges nets a multi-version feed to the final state") {
    val src = fresh(); val replica = fresh()
    TxLog.append(spark, src, Seq(1L -> "a", 2L -> "b").toDF("id", "v")) // v1
    TxLog.upsert(spark, src, Seq(2L -> "B").toDF("id", "v"), "id")      // v2
    TxLog.delete(spark, src, Seq(Tuple1(1L)).toDF("id"), "id")          // v3
    TxLog.append(spark, src, Seq(3L -> "c").toDF("id", "v"))            // v4
    def srcRows = TxLog.read(spark, src).select("id", "v")
      .as[(Long, String)].collect().toSet

    val changes = TxLog.readChangeFeed(spark, src, 0L, key = Some("id"))
    TxLog.applyChanges(spark, replica, changes, "id")
    def repRows = TxLog.read(spark, replica).select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(repRows == srcRows && repRows == Set(2L -> "B", 3L -> "c"),
      "the netted feed reproduces the source's final state: the " +
      "inserted-then-deleted key 1 never survives, key 2 carries its " +
      "last value")

    // re-applying the same batch (a foreachBatch replay after restart)
    // is content-idempotent
    val vBefore = TxLog.currentVersion(replica)
    TxLog.applyChanges(spark, replica, changes, "id")
    assert(repRows == srcRows,
      "replayed apply converges to the same replica")
    assert(TxLog.currentVersion(replica) > vBefore,
      "idempotence is in content, not in suppressed commits")
  }

  test("a contentless rewrite commit never breaks spanning feed ranges") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))            // v1
    // an upsert-class commit with zero adds AND zero removes (e.g. an
    // upsert of an empty frame, or a pre-fix restore-to-current):
    // legal in the log, must be CDC-neutral — before the round-13
    // short-circuit it crashed every spanning feed read with
    // UNABLE_TO_INFER_SCHEMA (spark.read.parquet of zero paths)
    TxLog.commit(t, "upsert", TxLog.currentVersion(t), Nil, Nil)      // v2
    TxLog.append(spark, t, Seq(2L -> "b").toDF("id", "v"))            // v3
    assert(feed(t, 0L) == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 3L)),
      "the empty rewrite contributes nothing and breaks nothing")
  }

  test("restore to the current state is a true no-op (no empty commit)") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))            // v1
    val v = TxLog.restore(spark, t, 1L)
    assert(v == 1L && TxLog.currentVersion(t) == 1L,
      "restore(t, currentVersion) must not write a contentless commit")
  }

  test("applyChanges fails loudly when the key is not unique (instead " +
       "of keeping an arbitrary row)") {
    val replica = fresh()
    // two DISTINCT surviving rows for key 1 at its winning version —
    // a feed from a source where 'id' is not an upsert key
    val ambiguous = Seq(
      (1L, "a", "insert", 1L), (1L, "b", "insert", 1L),
      (2L, "c", "insert", 1L))
      .toDF("id", "v", "_change_type", "_commit_version")
    val e = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, replica, ambiguous, "id")
    }
    assert(e.getMessage.contains("not unique") && e.getMessage.contains("1"),
      e.getMessage)
    // benign exact duplicates still net fine (same row twice)
    val dup = Seq((1L, "a", "insert", 1L), (1L, "a", "insert", 1L))
      .toDF("id", "v", "_change_type", "_commit_version")
    TxLog.applyChanges(spark, replica, dup, "id")
    assert(TxLog.read(spark, replica).select("id", "v")
      .as[(Long, String)].collect().toSet == Set(1L -> "a"))
  }

  test("a 500-commit feed range plans as a balanced union and reads " +
       "every version (no range-deep plan tree)") {
    val t = fresh()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))            // v1
    // 499 more append commits re-adding the SAME file: content-cheap,
    // but each version contributes one branch to the feed plan — the
    // shape that made the pre-r13 left-leaning reduce build a
    // 500-deep lineage
    val rel = TxLog.relative(t, TxLog.snapshot(t).files.head)
    (2 to 500).foreach(_ => TxLog.commit(t, "append",
      TxLog.currentVersion(t), Seq(rel -> None), Nil))
    val feed = TxLog.readChangeFeed(spark, t, 0L)
    assert(feed.count() == 500, "one insert row per version")
    assert(feed.select("_commit_version").distinct().count() == 500,
      "every version in the range contributes its branch")
  }

  test("streaming replication: replica follows the source through rewrites") {
    val src = fresh(); val replica = fresh()
    val ckpt = tempDir("graft_cdc_rep_ckpt").toString
    TxLog.append(spark, src, Seq(1L -> "a", 2L -> "b").toDF("id", "v"))

    val q = spark.readStream.format("txlog").option("path", src)
      .option("readChangeFeed", "true").option("changeKey", "id").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!df.isEmpty) TxLog.applyChanges(spark, replica, df, "id")
        ()
      }.start()
    def srcRows = TxLog.read(spark, src).select("id", "v")
      .as[(Long, String)].collect().toSet
    def repRows = TxLog.read(spark, replica).select("id", "v")
      .as[(Long, String)].collect().toSet

    q.processAllAvailable()
    assert(repRows == srcRows)
    TxLog.upsert(spark, src, Seq(2L -> "B", 9L -> "i").toDF("id", "v"), "id")
    q.processAllAvailable()
    assert(repRows == srcRows,
      "an upstream UPSERT flows through as change rows and lands")
    TxLog.delete(spark, src, Seq(Tuple1(1L)).toDF("id"), "id")
    q.processAllAvailable()
    q.stop()
    assert(repRows == srcRows && repRows == Set(2L -> "B", 9L -> "i"),
      "an upstream DELETE propagates — the whole point of CDC mode")
  }

  test("CDC columns collide loudly with same-named table columns") {
    val t = fresh()
    TxLog.append(spark, t,
      Seq(("x", "i")).toDF("v", "_change_type"))
    val e = intercept[IllegalArgumentException] {
      TxLog.readChangeFeed(spark, t, 0L)
    }
    assert(e.getMessage.contains("_change_type"))
  }
}
