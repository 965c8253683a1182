package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.sources.TxLog

/** The ACID-table-format protocol, pinned end to end: append/read,
  * time travel, snapshot isolation under concurrent overwrite,
  * 8-thread concurrent appends, the rebase-vs-conflict rule, upsert
  * file pruning, compaction equivalence, checkpoint-vs-full-replay
  * equality, and vacuum destructiveness.
  */
class TxLogSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String = {
    val d = tempDir("graft_txlog")
    d.toAbsolutePath.toString
  }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def mk(pairs: (Long, String)*): DataFrame =
    pairs.toDF("id", "v")

  test("append twice, read the union; versions are contiguous") {
    val t = freshTable()
    assert(TxLog.append(spark, t, mk(1L -> "a", 2L -> "b")) == 1L)
    assert(TxLog.append(spark, t, mk(3L -> "c")) == 2L)
    assert(TxLog.currentVersion(t) == 2L)
    assert(rows(TxLog.read(spark, t)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("time travel reads every historical version") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    TxLog.append(spark, t, mk(2L -> "b"))
    TxLog.overwrite(spark, t, mk(9L -> "z"))
    assert(rows(TxLog.read(spark, t, Some(1L))) == Set(1L -> "a"))
    assert(rows(TxLog.read(spark, t, Some(2L))) == Set(1L -> "a", 2L -> "b"))
    assert(rows(TxLog.read(spark, t)) == Set(9L -> "z"))
    intercept[IllegalArgumentException](TxLog.read(spark, t, Some(7L)))
  }

  test("snapshot isolation: a pinned snapshot survives a later overwrite") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "old"))
    val pinned = TxLog.snapshot(t)
    TxLog.overwrite(spark, t, mk(1L -> "new"))
    // the pinned snapshot still reads the pre-overwrite data, and the
    // current read sees the new — no torn state in either direction
    assert(rows(TxLog.readSnapshot(spark, pinned)) == Set(1L -> "old"))
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "new"))
  }

  test("staged-but-uncommitted files are invisible to readers") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    // simulate a writer crash after staging: drop a stray parquet file
    // into the table dir outside any commit
    mk(99L -> "torn").coalesce(1).write.parquet(t + "/.stage-crashed")
    val stray = Files.list(Paths.get(t + "/.stage-crashed")).iterator()
    while (stray.hasNext) {
      val p = stray.next()
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.move(p, Paths.get(t, "part-crashed.parquet"))
    }
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "a"),
      "readers scan the log's file list, never the directory")
  }

  test("8 concurrent appenders all commit; nothing is lost") {
    val t = freshTable()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val futures = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          TxLog.append(spark, t, mk(i.toLong -> s"w$i"))
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.toSet == (1L to 8L).toSet,
      s"each append must win a distinct contiguous version: $versions")
    assert(rows(TxLog.read(spark, t)) ==
      (1 to 8).map(i => i.toLong -> s"w$i").toSet)
  }

  test("conflict rule: racing rewrites of the same files throw; appends rebase") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    // writer A reads v1, then B commits an overwrite (removing A's
    // read set) before A's own overwrite lands -> A must fail
    val aSnap = TxLog.snapshot(t)
    TxLog.overwrite(spark, t, mk(1L -> "b"))
    intercept[java.util.ConcurrentModificationException] {
      // an overwrite that read aSnap and tries to commit after B
      TxLog.commit(t, "overwrite", aSnap.version, Seq.empty,
        aSnap.files.map(f =>
          Paths.get(t).toAbsolutePath.relativize(
            Paths.get(f).toAbsolutePath).toString))
    }
    // but an append that read the same stale version rebases fine
    val v = TxLog.append(spark, t, mk(2L -> "c"))
    assert(v == 3L)
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "b", 2L -> "c"))
  }

  test("upsert rewrites only the files containing matched keys") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a", 2L -> "b"))   // file(s) F1
    TxLog.append(spark, t, mk(3L -> "c"))              // file(s) F2
    val before = TxLog.snapshot(t)
    val untouched = before.files.toSet
    TxLog.upsert(spark, t, mk(3L -> "C", 4L -> "d"), "id")
    val after = TxLog.snapshot(t)
    assert(rows(TxLog.read(spark, t)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "C", 4L -> "d"))
    // every file holding only ids 1,2 must still be live (not rewritten)
    val kept = after.files.toSet & untouched
    assert(kept.nonEmpty, "files without matching keys must not be rewritten")
    val keptRows = rows(TxLog.readSnapshot(spark,
      TxLog.Snapshot(after.version, kept.toVector)))
    assert(keptRows == Set(1L -> "a", 2L -> "b"))
  }

  test("compaction preserves content, reduces files, and is one commit") {
    val t = freshTable()
    (1 to 5).foreach(i => TxLog.append(spark, t, mk(i.toLong -> s"r$i")))
    val before = TxLog.snapshot(t)
    assert(before.files.size >= 5)
    val v = TxLog.compact(spark, t, targetFiles = 1)
    assert(v == before.version + 1)
    val after = TxLog.snapshot(t)
    assert(after.files.size < before.files.size)
    assert(rows(TxLog.read(spark, t)) ==
      (1 to 5).map(i => i.toLong -> s"r$i").toSet)
    // old version still time-travels (files not vacuumed yet)
    assert(rows(TxLog.read(spark, t, Some(before.version))) ==
      (1 to 5).map(i => i.toLong -> s"r$i").toSet)
  }

  test("checkpoint: replay-from-checkpoint equals full replay") {
    val t = freshTable()
    (1 to (TxLog.checkpointEvery + 3)).foreach(i =>
      TxLog.append(spark, t, mk(i.toLong -> s"r$i")))
    val cp = Paths.get(t, "_graft_log",
      f"${TxLog.checkpointEvery.toLong}%020d.checkpoint")
    assert(Files.exists(cp), s"expected a checkpoint at $cp")
    val viaCp = TxLog.snapshot(t)
    // force a full replay by snapshotting at a version below the
    // checkpoint, then walking forward manually
    val full = (1 to (TxLog.checkpointEvery + 3)).map(i =>
      TxLog.snapshot(t, Some(i.toLong)).files.toSet)
    assert(viaCp.files.toSet == full.last,
      "checkpoint replay and commit-by-commit replay must agree")
    assert(rows(TxLog.read(spark, t)) ==
      (1 to (TxLog.checkpointEvery + 3)).map(i => i.toLong -> s"r$i").toSet)
  }

  test("appendOnce: a replayed epoch is a no-op (exactly-once sink)") {
    val t = freshTable()
    assert(TxLog.appendOnce(spark, t, mk(1L -> "a"), "q", 0L) == 1L)
    assert(TxLog.appendOnce(spark, t, mk(2L -> "b"), "q", 1L) == 2L)
    // a restart from checkpoint re-runs the last micro-batch with the
    // same batchId — the sink must detect its own earlier commit
    assert(TxLog.appendOnce(spark, t, mk(2L -> "b"), "q", 1L) == 2L)
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "a", 2L -> "b"))
    // a DIFFERENT writer's epoch 1 is independent
    assert(TxLog.appendOnce(spark, t, mk(3L -> "c"), "q2", 1L) == 3L)
    assert(TxLog.lastEpoch(t, 3L, "q") == Some(1L))
    assert(TxLog.lastEpoch(t, 3L, "q2") == Some(1L))
  }

  test("foreachBatch into TxLog across a checkpointed restart stays exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val ckpt = tempDir("graft_txlog_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDF.toDF("id", "v").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        TxLog.appendOnce(spark, t, df, "ing", id); ()
      }.start()

    val q1 = start()
    mem.addData((1L, "a"), (2L, "b"))
    q1.processAllAvailable(); q1.stop()
    // replay the already-committed epoch by hand — the exact call a
    // post-crash restart makes before its checkpoint catches up
    TxLog.appendOnce(spark, t,
      Seq(1L -> "a", 2L -> "b").toDF("id", "v"), "ing", 0L)
    val q2 = start()
    mem.addData((3L, "c"))
    q2.processAllAvailable(); q2.stop()
    assert(rows(TxLog.read(spark, t)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "replayed micro-batch must not duplicate rows")
  }

  test("readChanges: append-only ranges stream; rewrites throw; compaction is silent") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    TxLog.append(spark, t, mk(2L -> "b"))
    assert(rows(TxLog.readChanges(spark, t, 1L)) == Set(2L -> "b"))
    assert(rows(TxLog.readChanges(spark, t, 0L)) == Set(1L -> "a", 2L -> "b"))
    val vc = TxLog.compact(spark, t)
    // the compaction itself emits nothing new
    assert(TxLog.changedFiles(t, 2L, vc).isEmpty)
    TxLog.overwrite(spark, t, mk(9L -> "z"))
    intercept[IllegalStateException](TxLog.readChanges(spark, t, vc))
  }

  test("syncOnce chain: bronze->silver->gold stays exactly-once under replays") {
    val bronze = freshTable(); val silver = freshTable(); val gold = freshTable()
    TxLog.append(spark, bronze, mk(1L -> "a"))
    TxLog.append(spark, bronze, mk(2L -> "b"))
    assert(TxLog.syncOnce(spark, bronze, silver, "b2s") == 2L)
    assert(TxLog.syncOnce(spark, silver, gold, "s2g") == 1L)
    // replays: nothing moves until upstream grows
    assert(TxLog.syncOnce(spark, bronze, silver, "b2s") == 0L)
    assert(TxLog.syncOnce(spark, silver, gold, "s2g") == 0L)
    assert(rows(TxLog.read(spark, gold)) == Set(1L -> "a", 2L -> "b"))
    // new bronze data + a content-neutral compaction flow through once
    TxLog.append(spark, bronze, mk(3L -> "c"))
    TxLog.compact(spark, bronze)
    assert(TxLog.syncOnce(spark, bronze, silver, "b2s") == 2L)
    assert(TxLog.syncOnce(spark, bronze, silver, "b2s") == 0L)
    TxLog.syncOnce(spark, silver, gold, "s2g")
    assert(rows(TxLog.read(spark, gold)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "each row must reach gold exactly once through the chain")
  }

  test("compaction racing concurrent appends loses no rows") {
    val t = freshTable()
    TxLog.append(spark, t, mk(0L -> "seed"))
    val pool = Executors.newFixedThreadPool(2)
    val appender = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit =
        (1 to 12).foreach(i => TxLog.append(spark, t, mk(i.toLong -> s"a$i")))
    })
    val compactor = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        var ok = 0
        (1 to 4).foreach { _ =>
          try { TxLog.compact(spark, t); ok += 1 }
          catch { case _: java.util.ConcurrentModificationException => () }
        }
        ok
      }
    })
    appender.get(180, TimeUnit.SECONDS)
    val compactions = compactor.get(180, TimeUnit.SECONDS)
    pool.shutdown()
    // every append survives every interleaved compaction: a compact
    // rebases over appends it didn't see (their files stay live) and
    // only ever removes the files it actually read
    assert(rows(TxLog.read(spark, t)) ==
      ((0 to 12).map(i => i.toLong ->
        (if (i == 0) "seed" else s"a$i")).toSet),
      s"rows lost under $compactions interleaved compactions")
  }

  test("additive schema evolution: old files read the new column as null") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    TxLog.append(spark, t,
      Seq((2L, "b", 7L)).toDF("id", "v", "extra"))
    val df = TxLog.read(spark, t)
    assert(df.columns.toSet == Set("id", "v", "extra"))
    val got = df.select("id", "extra").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got == Map(1L -> None, 2L -> Some(7L)),
      "pre-evolution files must read the new column as null")
  }

  // ---------------------------------------------------------------
  // Round 10: footer stats, metadata-pruned locate, schema
  // enforcement, upsert-vs-append conflict, checkpointed writer HWMs,
  // relocatable logs, cross-process races
  // ---------------------------------------------------------------

  test("footer stats land in the log and prune the upsert locate step") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a", 10L -> "b").coalesce(1))  // ids 1..10
    TxLog.append(spark, t, mk(11L -> "c", 20L -> "d").coalesce(1)) // ids 11..20
    TxLog.append(spark, t, mk(21L -> "e", 25L -> "f").coalesce(1)) // ids 21..25
    val snap = TxLog.snapshot(t)
    assert(snap.files.size == 3)
    // every add line carried stats with exact id min/max + row counts
    assert(snap.stats.size == 3, "all three files must have footer stats")
    val ranges = snap.files.map(f => snap.stats(f).cols("id"))
      .map(cs => (cs.min, cs.max)).toSet
    assert(ranges == Set((1L, 10L), (11L, 20L), (21L, 25L)))
    assert(snap.files.map(f => snap.stats(f).rows).sum == 6L)
    // metadata-only pruning: key 25 admits exactly one file
    val cand = TxLog.pruneCandidates(snap, "id", 25L, 25L, Some(Seq(25L)))
    assert(cand.size == 1 && snap.stats(cand.head).cols("id") ==
      TxLog.ColStats(21L, 25L))
    // the locate step scans ONLY that candidate, and finds it touched
    val (candidates, touched) =
      TxLog.locateTouched(spark, snap, mk(25L -> "F"), "id")
    assert(candidates == cand, "locate must scan only stats-admitted files")
    assert(touched == cand)
    // without stats the same locate scans the whole table — the A/B
    val (noStats, _) =
      TxLog.locateTouched(spark, snap, mk(25L -> "F"), "id", useStats = false)
    assert(noStats.size == 3)
    // and the end-to-end upsert stays correct
    TxLog.upsert(spark, t, mk(25L -> "F", 99L -> "new"), "id")
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "a", 10L -> "b",
      11L -> "c", 20L -> "d", 21L -> "e", 25L -> "F", 99L -> "new"))
  }

  test("string-key stats prune too (binary/UTF8 footer path)") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, t,
      Seq(("apple", 1L), ("cherry", 2L)).toDF("k", "n").coalesce(1))
    TxLog.append(spark, t,
      Seq(("xray", 3L), ("zulu", 4L)).toDF("k", "n").coalesce(1))
    val snap = TxLog.snapshot(t)
    val cand = TxLog.pruneCandidates(snap, "k", "yankee", "yankee",
      Some(Seq("yankee")))
    assert(cand.size == 1 &&
      snap.stats(cand.head).cols("k") == TxLog.ColStats("xray", "zulu"))
  }

  // ---------------------------------------------------------------
  // Round 12: partitioned tables (per-file partition tuples in the
  // log — files stay flat and full-schema; the spec is immutable)
  // ---------------------------------------------------------------

  test("partitioned append: per-file tuples, auto-respect, immutable spec") {
    import spark.implicits._
    val t = freshTable()
    val df = Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c"))
      .toDF("id", "lang", "v")
    TxLog.append(spark, t, df, Seq("lang"))
    assert(TxLog.partitionSpec(t, TxLog.currentVersion(t)) == Seq("lang"))
    val snap = TxLog.snapshot(t)
    val tuples = snap.files.map(f => snap.stats(f).part)
    assert(tuples.forall(_.keySet == Set("lang")),
      s"every file must carry its partition tuple: $tuples")
    assert(tuples.map(_("lang")).toSet == Set("en", "de"))
    // a later append WITHOUT restating the spec still partitions
    TxLog.append(spark, t, Seq((4L, "fr", "d")).toDF("id", "lang", "v"))
    val s2 = TxLog.snapshot(t)
    assert(s2.files.map(f => s2.stats(f).part("lang")).toSet ==
      Set("en", "de", "fr"))
    // the spec is immutable
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t, df, Seq("v"))
    }
    // null partition values are rejected loudly
    intercept[Exception] {
      TxLog.append(spark, t,
        Seq((9L, null.asInstanceOf[String], "x")).toDF("id", "lang", "v"))
    }
    // content survives the partitioned staging intact (incl. escaping:
    // a value with space and '=' round-trips the hive dir encoding)
    val t2 = freshTable()
    TxLog.append(spark, t2,
      Seq((1L, "en US=x", "a")).toDF("id", "lang", "v"), Seq("lang"))
    val s3 = TxLog.snapshot(t2)
    assert(s3.files.map(f => s3.stats(f).part("lang")).toSet == Set("en US=x"))
    assert(TxLog.read(spark, t2).select("lang").as[String].collect().toSeq
      == Seq("en US=x"))
  }

  test("partition pruning works without footer stats and skips unread files") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, t,
      Seq((1L, "en", "a"), (2L, "de", "b")).toDF("id", "lang", "v"),
      Seq("lang"))
    // partition-value pruning: only the en file is a candidate
    val snap = TxLog.snapshot(t)
    val cand = TxLog.pruneCandidates(snap, "lang", "en", "en",
      Some(Seq("en")))
    assert(cand.size == 1 && snap.stats(cand.head).part("lang") == "en")
    // the prune holds from the PART TUPLE ALONE (no footer stats):
    // hand-commit a stats-less add line carrying only a tuple
    TxLog.commit(t, "append", snap.version,
      Seq("ghost.parquet" ->
        Some(TxLog.FileStats(1L, Map.empty, Map("lang" -> "zz")))), Nil)
    val s2 = TxLog.snapshot(t)
    val cand2 = TxLog.pruneCandidates(s2, "lang", "en", "en",
      Some(Seq("en")))
    assert(cand2.size == 1,
      "a part-only (statless) file of another partition must be pruned")
    // and a pruned file is never OPENED: delete the de file's bytes,
    // then filter to en through the facade — the read must succeed
    val deFile = s2.files.find(f =>
      s2.stats(f).part.get("lang").contains("de")).get
    Files.delete(Paths.get(deFile))
    // (ghost.parquet never existed on disk at all — surviving the
    // filtered read below proves BOTH pruned files stay unopened)
    val got = spark.read.format("txlog").option("path", t).load()
      .where($"lang" === "en").select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L),
      "partition pruning must keep other partitions unopened")
  }

  test("per-partition compaction keeps tuples; date/int specs round-trip") {
    import spark.implicits._
    val t = freshTable()
    (1 to 3).foreach { i =>
      TxLog.append(spark, t,
        Seq((i.toLong, "en", s"e$i"), (i + 10L, "de", s"d$i"))
          .toDF("id", "lang", "v"), Seq("lang"))
    }
    assert(TxLog.snapshot(t).files.size >= 6)
    TxLog.compact(spark, t, targetFiles = 1)
    val s2 = TxLog.snapshot(t)
    assert(s2.files.size == 2,
      s"compaction of a 2-partition table must leave one file per " +
      s"partition, got ${s2.files.size}")
    assert(s2.files.map(f => s2.stats(f).part("lang")).toSet ==
      Set("en", "de"))
    assert(TxLog.read(spark, t).count() == 6)
    // date + int partition columns land in the stats domain exactly
    val t2 = freshTable()
    val d = java.sql.Date.valueOf("2024-03-01")
    TxLog.append(spark, t2,
      Seq((1L, d, 7, "x")).toDF("id", "dt", "bucket", "v"),
      Seq("dt", "bucket"))
    val s3 = TxLog.snapshot(t2)
    val tup = s3.stats(s3.files.head).part
    assert(tup("dt") == d.toLocalDate.toEpochDay,
      s"date partition values are epoch days in the stats domain: $tup")
    assert(tup("bucket") == 7L)
    // …and prune like stats: equality on the date column
    val cand = TxLog.pruneCandidates(s3, "dt",
      d.toLocalDate.toEpochDay, d.toLocalDate.toEpochDay,
      Some(Seq(d.toLocalDate.toEpochDay)))
    assert(cand.size == 1)
  }

  test("_last_checkpoint pointer: O(1) discovery, verified hint, listing fallback") {
    import spark.implicits._
    val t = freshTable()
    (1 to 25).foreach(i =>
      TxLog.append(spark, t, Seq(i.toLong -> s"v$i").toDF("id", "v")))
    val logDir = java.nio.file.Paths.get(t, "_graft_log")
    val ptr = logDir.resolve("_last_checkpoint")
    // 25 commits at cadence 10 → checkpoints at 10 and 20; the pointer
    // names the NEWEST
    assert(Files.exists(ptr))
    assert(new String(Files.readAllBytes(ptr), "UTF-8").trim == "20")
    assert(TxLog.currentVersion(t) == 25L)
    // O(tail) reconstruction: deleting the OLDER checkpoint changes
    // nothing — only the pointer, the newest checkpoint, and the
    // commit tail are ever touched on the discovery path
    Files.delete(logDir.resolve(f"${10L}%020d.checkpoint"))
    assert(TxLog.currentVersion(t) == 25L)
    assert(TxLog.read(spark, t).count() == 25L)
    // a corrupted pointer degrades to the listing fallback, loudly
    // never wrongly
    Files.write(ptr, "garbage".getBytes("UTF-8"))
    assert(TxLog.currentVersion(t) == 25L)
    assert(TxLog.read(spark, t).count() == 25L)
    // a pointer naming a MISSING checkpoint is verified and rejected
    Files.write(ptr, "19".getBytes("UTF-8"))
    assert(TxLog.currentVersion(t) == 25L)
    // the next checkpoint heals the pointer
    (26 to 30).foreach(i =>
      TxLog.append(spark, t, Seq(i.toLong -> s"v$i").toDF("id", "v")))
    assert(new String(Files.readAllBytes(ptr), "UTF-8").trim == "30")
  }

  test("non-finite double stats are dropped at stage time, not serialized") {
    // round-12 ADVICE fix: NaN/Infinity can't ride JSON as numbers —
    // json4s would quote them and parseStats would read back the
    // STRING "NaN", silently degrading that column's stats to
    // mixed-type never-comparable. The column's stats are dropped
    // from the add line instead: absent = never pruned = correct.
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, t,
      Seq((1L, Double.NaN), (2L, 5.0)).toDF("id", "x").coalesce(1))
    TxLog.append(spark, t,
      Seq((3L, Double.PositiveInfinity), (4L, 1.0))
        .toDF("id", "x").coalesce(1))
    TxLog.append(spark, t,
      Seq((5L, 7.0), (6L, 9.0)).toDF("id", "x").coalesce(1))
    val snap = TxLog.snapshot(t)
    assert(snap.stats.size == 3, "all add lines still carry stats")
    val xStats = snap.files.flatMap(f => snap.stats(f).cols.get("x"))
    assert(xStats == Vector(TxLog.ColStats(7.0, 9.0)),
      s"only the finite file may record x stats, got $xStats")
    // id stats are unaffected — finite columns keep pruning
    assert(snap.files.flatMap(f => snap.stats(f).cols.get("id")).size == 3)
    // and the NaN/Inf files are never pruned on x: a read filtered to
    // a range far from any finite value still finds nothing WRONGLY
    // dropped (conservative scan of the statless files)
    val got = TxLog.read(spark, t).where($"x" >= 100.0).count()
    assert(got == 2L, "x = +Infinity AND x = NaN (Spark sorts NaN " +
      "above every double) live in statless files and must survive " +
      "the x >= 100.0 scan")
  }

  test("schema enforcement: type change and dropped column are rejected") {
    import spark.implicits._
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    // type change on an existing column
    val typeChange = intercept[IllegalArgumentException] {
      TxLog.append(spark, t, Seq((2L, 7)).toDF("id", "v")) // v: int != string
    }
    assert(typeChange.getMessage.contains("type"))
    // dropped column
    val dropped = intercept[IllegalArgumentException] {
      TxLog.append(spark, t, Seq(3L).toDF("id"))
    }
    assert(dropped.getMessage.contains("missing"))
    // upsert enforces the same contract
    intercept[IllegalArgumentException] {
      TxLog.upsert(spark, t, Seq((1L, 9)).toDF("id", "v"), "id")
    }
    // overwrite may retype — it replaces the schema...
    TxLog.overwrite(spark, t, Seq((1L, 9)).toDF("id", "v"))
    // ...after which the OLD string shape is what's now incompatible
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t, mk(2L -> "b"))
    }
    TxLog.append(spark, t, Seq((2L, 8)).toDF("id", "v"))
    assert(TxLog.read(spark, t).count() == 2)
  }

  test("upsert conflicts with a concurrent append (duplicate-key rule)") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    val stale = TxLog.snapshot(t).version
    // a concurrent append lands after the upsert's read
    TxLog.append(spark, t, mk(2L -> "b"))
    // even a pure-insert upsert (no removes) must NOT commit over it —
    // the appended rows may share keys with the upsert's updates
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commit(t, "upsert", stale, Seq.empty, Seq.empty)
    }
    // a compact racing the upsert is content-neutral: rebase is fine
    val t2 = freshTable()
    TxLog.append(spark, t2, mk(1L -> "a"))
    TxLog.append(spark, t2, mk(2L -> "b"))
    val stale2 = TxLog.snapshot(t2).version
    TxLog.compact(spark, t2)
    assert(TxLog.commit(t2, "upsert", stale2, Seq.empty, Seq.empty) > 0)
  }

  test("checkpoints fold writer high-water marks and schema; lastEpoch is O(checkpointEvery)") {
    val t = freshTable()
    // writer "early" commits once, then falls silent while another
    // writer pushes the log past a checkpoint
    TxLog.appendOnce(spark, t, mk(0L -> "e"), "early", 5L)
    (1 to TxLog.checkpointEvery + 2).foreach(i =>
      TxLog.appendOnce(spark, t, mk(i.toLong -> s"r$i"), "busy", i.toLong))
    val cur = TxLog.currentVersion(t)
    assert(cur > TxLog.checkpointEvery)
    val cp = Paths.get(t, "_graft_log",
      f"${TxLog.checkpointEvery.toLong}%020d.checkpoint")
    assert(Files.exists(cp))
    val cpLines = Files.readAllLines(cp)
    assert(cpLines.asScala.exists(_.startsWith("txn early 5")),
      "the silent writer's HWM must be folded into the checkpoint")
    assert(cpLines.asScala.exists(_.startsWith("schema ")),
      "the table schema must be folded into the checkpoint")
    assert(cpLines.asScala.filter(_.startsWith("file ")).forall(l =>
      !l.split(" ", 3)(1).startsWith("/")),
      "checkpoint file entries must be RELATIVE names")
    // "early"'s newest txn commit is below the checkpoint: only the
    // checkpoint can answer this without an O(versions) walk
    assert(TxLog.lastEpoch(t, cur, "early") == Some(5L))
    assert(TxLog.lastEpoch(t, cur, "busy") ==
      Some((TxLog.checkpointEvery + 2).toLong))
    assert(TxLog.lastEpoch(t, cur, "nobody") == None)
    // replay-from-checkpoint and full replay agree on schema too
    assert(TxLog.tableSchema(t, cur).map(_.fieldNames.toSeq) ==
      Some(Seq("id", "v")))
  }

  test("writerId with whitespace is rejected before it corrupts the log") {
    val t = freshTable()
    intercept[IllegalArgumentException] {
      TxLog.appendOnce(spark, t, mk(1L -> "a"), "bad id", 0L)
    }
    intercept[IllegalArgumentException] {
      TxLog.syncOnce(spark, t, t, "worse\tid")
    }
  }

  test("the log is relocatable: move the table dir, read/write continue") {
    val t = freshTable()
    (1 to TxLog.checkpointEvery + 1).foreach(i =>
      TxLog.append(spark, t, mk(i.toLong -> s"r$i")))
    val moved = freshTable() + "/moved"
    Files.move(Paths.get(t), Paths.get(moved))
    assert(rows(TxLog.read(spark, moved)) ==
      (1 to TxLog.checkpointEvery + 1).map(i => i.toLong -> s"r$i").toSet,
      "relative log paths must survive a table move")
    // writes at the new location still remove checkpoint-era files
    TxLog.overwrite(spark, moved, mk(99L -> "z"))
    assert(rows(TxLog.read(spark, moved)) == Set(99L -> "z"))
    val deleted = TxLog.vacuum(moved, retainVersions = 0)
    assert(deleted.nonEmpty, "pre-move files must be vacuumable post-move")
  }

  /** One child-JVM launcher for every cross-process race test. */
  private def spawnRacer(table: String, tag: String, n: Int,
                         mode: String = "append"): Process = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    new ProcessBuilder(java, "-Xmx1g", "-cp", cp, "graft.TxLogRacer",
      table, tag, n.toString, mode).redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
  }

  test("cross-process concurrent appenders: two extra JVMs, nothing lost") {
    val t = freshTable()
    val p1 = spawnRacer(t, "x", 4)
    val p2 = spawnRacer(t, "y", 4)
    // the parent races its own appends against both child JVMs
    (1 to 4).foreach(i => TxLog.append(spark, t, mk(i.toLong -> s"z$i")))
    assert(p1.waitFor(180, TimeUnit.SECONDS) && p1.exitValue() == 0,
      "child appender 1 must commit all its appends")
    assert(p2.waitFor(180, TimeUnit.SECONDS) && p2.exitValue() == 0,
      "child appender 2 must commit all its appends")
    assert(TxLog.currentVersion(t) == 12L,
      "12 appends across 3 processes must win 12 contiguous versions")
    assert(rows(TxLog.read(spark, t)) ==
      (1 to 4).flatMap(i => Seq(i.toLong -> s"x$i", i.toLong -> s"y$i",
        i.toLong -> s"z$i")).toSet,
      "every row from every process must be present exactly once")
  }

  test("cross-process upsert + compact + appends race to a consistent table") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "seed1", 2L -> "seed2"))
    TxLog.append(spark, t, mk(3L -> "seed3", 4L -> "seed4"))
    // one JVM upserting the seed keys (retrying through the designed
    // upsert-vs-add conflicts), one JVM compacting, the parent
    // appending fresh keys — three processes, three op classes
    val up = spawnRacer(t, "u", 4, "upsert")
    val co = spawnRacer(t, "c", 3, "compact")
    (101 to 104).foreach(i => TxLog.append(spark, t, mk(i.toLong -> s"p$i")))
    assert(up.waitFor(240, TimeUnit.SECONDS) && up.exitValue() == 0,
      "the upserting child must eventually win every conflict retry")
    assert(co.waitFor(240, TimeUnit.SECONDS) && co.exitValue() == 0,
      "the compacting child must eventually win every retry")
    assert(rows(TxLog.read(spark, t)) ==
      ((1 to 4).map(i => i.toLong -> s"u$i") ++
        (101 to 104).map(i => i.toLong -> s"p$i")).toSet,
      "every upsert exactly-once, every append kept, compaction neutral")
  }

  test("rowCount answers from log metadata without touching data files") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a", 2L -> "b").coalesce(1))
    TxLog.append(spark, t, mk(3L -> "c").coalesce(1))
    assert(TxLog.rowCount(spark, t) == 3L)
    assert(TxLog.rowCount(spark, t, asOf = Some(1L)) == 2L)
    // the claim "metadata only": physically delete the data files —
    // the count must still answer (a scan would die)
    TxLog.snapshot(t).files.foreach(f =>
      Files.delete(Paths.get(f)))
    assert(TxLog.rowCount(spark, t) == 3L,
      "rowCount must come from the log's footer stats, not a scan")
  }

  test("delete removes matching keys and rewrites only touched files") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a", 2L -> "b").coalesce(1))
    TxLog.append(spark, t, mk(11L -> "c", 12L -> "d").coalesce(1))
    val before = TxLog.snapshot(t).files.toSet
    TxLog.delete(spark, t, mk(11L -> "_").select("id"), "id")
    assert(rows(TxLog.read(spark, t)) ==
      Set(1L -> "a", 2L -> "b", 12L -> "d"))
    assert((TxLog.snapshot(t).files.toSet & before).nonEmpty,
      "the file without matching keys must not be rewritten")
    // deleting absent keys is version-neutral (stats prune to nothing)
    val v = TxLog.currentVersion(t)
    assert(TxLog.delete(spark, t, mk(99L -> "_").select("id"), "id") == v)
    // a delete in a version range breaks CDC reads like any rewrite
    intercept[IllegalStateException](TxLog.readChanges(spark, t, 2L))
  }

  test("vacuum deletes only unreferenced files; current read unaffected") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "old"))
    TxLog.overwrite(spark, t, mk(1L -> "new"))
    val deleted = TxLog.vacuum(t, retainVersions = 0)
    assert(deleted.nonEmpty, "the overwritten file must be vacuumed")
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "new"))
    // deeper time travel is now destructively gone — documented
    intercept[Exception](TxLog.read(spark, t, Some(1L)).collect())
  }

  // ---------------------------------------------------------------
  // Round 11: the ADVICE r10 fixes — unprunable key types must fall
  // back to scan (not silently skip the rewrite), string stats
  // compare in UTF-8 byte order, unknown checkpoint lines fail
  // loudly, timestamp stats are unit-checked, NTZ keys prune
  // ---------------------------------------------------------------

  test("upsert/delete with a stats-unmappable key type (decimal) still rewrites") {
    val t = freshTable()
    def mkd(pairs: (String, String)*): DataFrame =
      pairs.map { case (d, v) => (BigDecimal(d), v) }.toDF("id", "v")
    TxLog.append(spark, t, mkd("1.5" -> "a", "2.5" -> "b"))
    // normKey has no mapping for DecimalType: the locate must fall
    // back to scanning every file, NOT treat the keys as absent —
    // the old conflation inserted without rewriting (duplicate keys)
    TxLog.upsert(spark, t, mkd("2.5" -> "B2"), "id")
    val got = TxLog.read(spark, t).select("id", "v")
      .as[(BigDecimal, String)].collect()
    assert(got.length == 2, s"duplicate keys after decimal upsert: ${got.toSeq}")
    assert(got.toMap == Map(BigDecimal("1.5") -> "a", BigDecimal("2.5") -> "B2"))
    // ...and delete must not be a silent no-op
    TxLog.delete(spark, t, mkd("1.5" -> "_").select("id"), "id")
    val left = TxLog.read(spark, t).select("id", "v")
      .as[(BigDecimal, String)].collect()
    assert(left.toSeq == Seq(BigDecimal("2.5") -> "B2"),
      "delete on an unprunable key type must still remove the rows")
  }

  test("upsert whose update keys are ALL null inserts without rewriting") {
    val t = freshTable()
    def mkn(pairs: (Option[Long], String)*): DataFrame = pairs.toDF("id", "v")
    TxLog.append(spark, t, mkn(Some(1L) -> "a"))
    val before = TxLog.snapshot(t).files.toSet
    // SQL equality on null joins nothing: the rows are pure inserts
    TxLog.upsert(spark, t, mkn(None -> "n1", None -> "n2"), "id")
    assert((TxLog.snapshot(t).files.toSet & before) == before,
      "no existing file can match a null key — none may be rewritten")
    val got = TxLog.read(spark, t).select("id", "v")
      .as[(Option[Long], String)].collect().toSet
    assert(got == Set(Some(1L) -> "a", None -> "n1", None -> "n2"))
  }

  test("TIMESTAMP_NTZ keys prune by stats and upsert correctly") {
    val t = freshTable()
    def ntz(s: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(s)
    def mkt(pairs: (String, String)*): DataFrame =
      pairs.map { case (ts, v) => (ntz(ts), v) }.toDF("ts", "v")
    TxLog.append(spark, t,
      mkt("2024-01-01T00:00:00" -> "a", "2024-01-31T00:00:00" -> "b").coalesce(1))
    TxLog.append(spark, t,
      mkt("2024-06-01T00:00:00" -> "c", "2024-06-30T00:00:00" -> "d").coalesce(1))
    val snap = TxLog.snapshot(t)
    // NTZ is INT64 MICROS in parquet: stats recorded and prunable
    val (candidates, touched) =
      TxLog.locateTouched(spark, snap, mkt("2024-06-01T00:00:00" -> "C"), "ts")
    assert(candidates.size == 1,
      s"an NTZ point key must stats-prune to one file, got $candidates")
    assert(touched == candidates)
    TxLog.upsert(spark, t, mkt("2024-06-01T00:00:00" -> "C"), "ts")
    val got = TxLog.read(spark, t).select("ts", "v")
      .as[(java.time.LocalDateTime, String)].collect().toSet
    assert(got == Set(ntz("2024-01-01T00:00:00") -> "a",
      ntz("2024-01-31T00:00:00") -> "b", ntz("2024-06-01T00:00:00") -> "C",
      ntz("2024-06-30T00:00:00") -> "d"))
  }

  test("string stats compare in UTF-8 byte order (supplementary planes)") {
    val t = freshTable()
    // parquet computes UTF8 min/max under UNSIGNED BYTE order, where
    // U+E000 (EE 80 80) < U+F000 (EF 80 80) < U+1F600 (F0 9F 98 80) —
    // but Java UTF-16 order puts the emoji (surrogates 0xD83D…) FIRST.
    // A UTF-16 comparison concludes  > max and wrongly prunes.
    TxLog.append(spark, t,
      Seq(("", "a"), ("", "b"), ("😀", "c"))
        .toDF("k", "v").coalesce(1))
    val snap = TxLog.snapshot(t)
    assert(snap.stats.nonEmpty && snap.stats.head._2.cols.contains("k"))
    val cand = TxLog.pruneCandidates(snap, "k", "", "",
      Some(Seq("")))
    assert(cand == snap.files,
      "a key inside the byte-order range must never be pruned")
    TxLog.upsert(spark, t, Seq(("", "B")).toDF("k", "v"), "k")
    val got = TxLog.read(spark, t).select("k", "v")
      .as[(String, String)].collect()
    assert(got.length == 3, s"duplicate keys after upsert: ${got.toSeq}")
    assert(got.toMap ==
      Map("" -> "a", "" -> "B", "😀" -> "c"))
  }

  test("an unrecognized checkpoint line fails loudly instead of losing files") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    // simulate a pre-r10 (or foreign) checkpoint: a plain full-path line
    Files.write(Paths.get(t, "_graft_log", f"${1L}%020d.checkpoint"),
      s"$t/part-legacy.parquet".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](TxLog.snapshot(t))
    assert(e.getMessage.contains("checkpoint"),
      s"must name the checkpoint as the problem: ${e.getMessage}")
  }

  test("clustered compaction makes file stats disjoint, so point keys prune to one file") {
    val t = freshTable()
    // three appends with INTERLEAVED key ranges: every file overlaps
    // every key, so stats exist but prune nothing
    TxLog.append(spark, t, mk(1L -> "a", 100L -> "b").coalesce(1))
    TxLog.append(spark, t, mk(2L -> "c", 99L -> "d").coalesce(1))
    TxLog.append(spark, t, mk(3L -> "e", 98L -> "f").coalesce(1))
    val before = TxLog.snapshot(t)
    assert(TxLog.pruneCandidates(before, "id", 50L, 50L,
      Some(Seq(50L))).size == 3,
      "interleaved ranges: stats cannot prune anything")
    // range-clustered compaction: tight disjoint ranges per file
    TxLog.compact(spark, t, targetFiles = 3, clusterBy = Seq("id"))
    val after = TxLog.snapshot(t)
    assert(after.files.size == 3 && after.stats.size == 3)
    val cand = TxLog.pruneCandidates(after, "id", 99L, 99L, Some(Seq(99L)))
    assert(cand.size == 1,
      s"after clustering a point key must admit one file, got ${cand.size}")
    // ranges must be pairwise disjoint
    val ranges = after.files.map(f => after.stats(f).cols("id"))
      .map(cs => (cs.min.asInstanceOf[Long], cs.max.asInstanceOf[Long]))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"clustered file ranges must be disjoint: $ranges")
      case _ => ()
    }
    // content unchanged
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "a", 100L -> "b",
      2L -> "c", 99L -> "d", 3L -> "e", 98L -> "f"))
  }

  test("z-ordered compaction prunes on BOTH dimensions; lexicographic only the leading one") {
    val grid = (for { x <- 0 until 16; y <- 0 until 16 }
      yield (x.toLong, y.toLong, s"$x-$y")).toDF("x", "y", "p")
    // lexicographic clusterBy(x, y): every file spans ALL of y
    val lex = freshTable()
    TxLog.append(spark, lex, grid.coalesce(1))
    TxLog.compact(spark, lex, targetFiles = 4, clusterBy = Seq("x", "y"))
    val lexSnap = TxLog.snapshot(lex)
    assert(lexSnap.files.size == 4)
    assert(TxLog.pruneCandidates(lexSnap, "x", 5L, 5L, Some(Seq(5L))).size <= 2,
      "the leading sort column prunes under lexicographic layout")
    assert(TxLog.pruneCandidates(lexSnap, "y", 5L, 5L, Some(Seq(5L))).size == 4,
      "the trailing column prunes NOTHING under lexicographic layout")
    // z-order: every file is a narrow rectangle in (x, y)
    val zed = freshTable()
    TxLog.append(spark, zed, grid.coalesce(1))
    TxLog.compactZOrder(spark, zed, targetFiles = 4, "x", "y")
    val zSnap = TxLog.snapshot(zed)
    assert(zSnap.files.size == 4)
    val zx = TxLog.pruneCandidates(zSnap, "x", 5L, 5L, Some(Seq(5L))).size
    val zy = TxLog.pruneCandidates(zSnap, "y", 5L, 5L, Some(Seq(5L))).size
    assert(zx <= 3 && zy <= 3,
      s"z-order must prune on BOTH dimensions (got x->$zx, y->$zy of 4)")
    // content unchanged through both layouts
    assert(TxLog.read(spark, zed).count() == 256 &&
      TxLog.read(spark, lex).count() == 256)
    assert(TxLog.read(spark, zed).select("x", "y", "p").collect().toSet ==
      TxLog.read(spark, lex).select("x", "y", "p").collect().toSet)
  }

  test("z-order scales wide domains: ids far beyond 2^16 still prune on both dims") {
    // raw mod-2^16 interleaving aliases values 65536 apart into the
    // same cell — the per-dim min/max scaling must keep pruning alive
    // for real id-sized domains
    val wide = (for { x <- 0 until 16; y <- 0 until 16 }
      yield (x.toLong * 100000001L, y.toLong * 999983L, s"$x-$y"))
      .toDF("x", "y", "p")
    val t = freshTable()
    TxLog.append(spark, t, wide.coalesce(1))
    TxLog.compactZOrder(spark, t, targetFiles = 4, "x", "y")
    val snap = TxLog.snapshot(t)
    val px = TxLog.pruneCandidates(snap, "x", 500000005L, 500000005L,
      Some(Seq(5L * 100000001L))).size
    val py = TxLog.pruneCandidates(snap, "y", 4999915L, 4999915L,
      Some(Seq(5L * 999983L))).size
    assert(px <= 3 && py <= 3,
      s"wide-domain z-order must prune both dims (got x->$px, y->$py of 4)")
    assert(TxLog.read(spark, t).count() == 256)
  }

  test("a >limit key sample with nulls still rewrites every matched key") {
    val t = freshTable()
    val lo = spark.range(0, 1000)
      .selectExpr("id", "'old' as v")
    val hi = spark.range(5000, 6000)
      .selectExpr("id", "'keep' as v")
    TxLog.append(spark, t, lo.coalesce(1))
    TxLog.append(spark, t, hi.coalesce(1))
    // 1100 distinct keys (> keyPruneLimit) PLUS a null row: the
    // truncation probe must count collected rows before nulls drop,
    // or the sample falls back to an incomplete per-key set and
    // files holding the unsampled keys are never rewritten
    val updates = spark.range(0, 1100)
      .selectExpr("id", "'new' as v")
      .unionByName(Seq((Option.empty[Long], "nullrow"))
        .toDF("id", "v"))
    TxLog.upsert(spark, t, updates, "id")
    val got = TxLog.read(spark, t)
    assert(got.count() == 1000 + 1100 + 1,
      s"1000 kept + 1100 upserted + 1 null insert, got: ${got.count()}")
    assert(got.filter($"v" === "old").count() == 0,
      "every matched key must be rewritten — none may survive as 'old'")
    assert(got.filter($"id".isNotNull).groupBy($"id").count()
      .filter($"count" > 1).count() == 0, "no duplicate keys")
  }

  test("history lists every commit newest-first with op and add/remove counts") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    TxLog.appendOnce(spark, t, mk(2L -> "b"), "w1", 7L)
    TxLog.upsert(spark, t, mk(1L -> "A"), "id")
    TxLog.compact(spark, t)
    val h = TxLog.history(t)
    assert(h.map(_.version) == Seq(4L, 3L, 2L, 1L))
    assert(h.map(_.op) == Seq("compact", "upsert", "txn w1", "append"))
    assert(h.forall(_.adds > 0))
    assert(h.find(_.op == "compact").get.removes > 0,
      "compaction removes the files it rewrote")
    assert(h.last.readVersion == 0L)
  }

  test("restore rolls back as a new commit; history stays time-travelable") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))          // v1
    TxLog.append(spark, t, mk(2L -> "b"))          // v2
    TxLog.upsert(spark, t, mk(1L -> "A2"), "id")   // v3 rewrite
    val v = TxLog.restore(spark, t, 2L)            // v4
    assert(v == 4L, "restore must be ONE new commit, not history erasure")
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "a", 2L -> "b"),
      "the restored table reads exactly like the target version")
    // the rolled-back state is still time-travelable (audit trail)
    assert(rows(TxLog.read(spark, t, Some(3L))) == Set(1L -> "A2", 2L -> "b"))
    // restore is a rewrite for CDC purposes: never silently re-emit
    intercept[IllegalStateException](TxLog.readChanges(spark, t, 3L))
    // appends continue on top of the restored state
    TxLog.append(spark, t, mk(3L -> "c"))
    assert(rows(TxLog.read(spark, t)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // restoring past a vacuum fails loudly (files are really gone)
    val t2 = freshTable()
    TxLog.append(spark, t2, mk(1L -> "old"))
    TxLog.overwrite(spark, t2, mk(1L -> "new"))
    TxLog.vacuum(t2, retainVersions = 0)
    intercept[IllegalArgumentException](TxLog.restore(spark, t2, 1L))
  }

  test("footer stats are unit-checked: non-micros timestamps are never recorded") {
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    def statsOf(dir: java.nio.file.Path): TxLog.FileStats = {
      val f = Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      TxLog.footerStats(f).get
    }
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    try {
      // MILLIS: raw longs are in the wrong unit for normKey's micros —
      // pruning on them would overclaim, so the column must be skipped
      spark.conf.set(conf, "TIMESTAMP_MILLIS")
      val dMillis = tempDir("graft_stats_ms")
      Seq((1L, ts)).toDF("id", "t").coalesce(1)
        .write.mode("overwrite").parquet(dMillis.toString)
      val ms = statsOf(dMillis)
      assert(ms.cols.contains("id") && !ms.cols.contains("t"),
        s"TIMESTAMP_MILLIS stats must be skipped, got ${ms.cols.keySet}")
      // MICROS: the same column IS recorded, as epoch micros
      spark.conf.set(conf, "TIMESTAMP_MICROS")
      val dMicros = tempDir("graft_stats_us")
      Seq((1L, ts)).toDF("id", "t").coalesce(1)
        .write.mode("overwrite").parquet(dMicros.toString)
      val us = statsOf(dMicros)
      assert(us.cols.contains("t"),
        s"TIMESTAMP_MICROS stats must be recorded, got ${us.cols.keySet}")
    } finally spark.conf.set(conf, prev)
  }

  test("rebase re-merges the schema line: a narrower racing commit " +
       "cannot silently drop an added column") {
    val t = freshTable()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))       // v1
    val narrow = TxLog.tableSchema(t, 1L).get                    // (id, v)
    TxLog.addColumns(t, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))                   // v2
    // a commit prepared against v1 with the pre-ALTER schema loses the
    // publish race and rebases over v2: without the re-merge its
    // narrower schema line would become the newest and 'extra' would
    // vanish from every read — it must throw instead
    val e = intercept[IllegalArgumentException] {
      TxLog.commit(t, "append", 1L, Nil, Nil, Some(narrow.json))
    }
    assert(e.getMessage.contains("extra"), e.getMessage)
    assert(TxLog.tableSchema(t, TxLog.currentVersion(t)).get
      .fieldNames.contains("extra"),
      "the added column survives the failed racing commit")
    // the altschema side of the race unions instead: an ALTER prepared
    // against v1 rebases over a racing evolved append and keeps BOTH
    // new columns
    TxLog.append(spark, t,
      Seq((2L, "b", 7L, 8L)).toDF("id", "v", "extra", "raced"))  // v3
    val alterMerged = org.apache.spark.sql.types.StructType(
      narrow.fields :+ org.apache.spark.sql.types.StructField("mine",
        org.apache.spark.sql.types.LongType))
    TxLog.commit(t, "altschema", 1L, Nil, Nil, Some(alterMerged.json))
    val head = TxLog.tableSchema(t, TxLog.currentVersion(t)).get.fieldNames
    assert(head.contains("mine") && head.contains("raced") &&
      head.contains("extra"),
      s"altschema rebase must union with the rebased head: ${head.toSeq}")
  }

  test("TIMESTAMP AS OF bisects commit mtimes: O(log n) probes, " +
       "same answer as the linear walk") {
    val t = freshTable()
    (1 to 64).foreach(i => TxLog.commit(t, "append", i - 1L,
      Seq(s"f$i.parquet" -> None), Nil))
    val ts = TxLog.commitTimeMicros(t, 40L)
    val (v, probes) = TxLog.versionAtTimestamp(t, ts)
    val linear = (1L to 64L)
      .filter(x => TxLog.commitTimeMicros(t, x) <= ts).lastOption
    assert(v == linear, s"bisect $v != linear walk $linear")
    assert(probes <= 8,
      s"bisect over 64 commits must probe ≤ ⌈log2(65)⌉+1 mtimes, got $probes")
    assert(TxLog.versionAtTimestamp(t,
      TxLog.commitTimeMicros(t, 1L) - 1L)._1.isEmpty,
      "a timestamp before the first commit resolves to nothing")
  }

  test("staged adds log the file's byte size; doctored log bytes prove " +
       "CBO stats never touch the filesystem") {
    val t = freshTable()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))
    val snap = TxLog.snapshot(t)
    val file = snap.files.head
    val real = java.nio.file.Files.size(java.nio.file.Paths.get(file))
    assert(snap.stats(file).bytes == real,
      "append must record the staged file's on-disk size in its add line")
    // re-add the SAME file with a DOCTORED size: if estimateStatistics
    // echoes it, bytes came from the log, not a Files.size call
    val fake = 123456789L
    TxLog.commit(t, "append", snap.version,
      Seq(TxLog.relative(t, file) ->
        Some(TxLog.FileStats(1L, Map.empty, bytes = fake))), Nil)
    val scan = new graft.sources.TxLogV2Table(t, None)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    val stats = scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.sizeInBytes.getAsLong == fake,
      s"sizeInBytes must serve the LOGGED bytes ($fake), " +
      s"got ${stats.sizeInBytes.getAsLong} (fs size is $real)")
  }

  test("truncate racing ALTER ADD COLUMNS keeps the added column " +
       "(union rebase, not overwrite's schema-replace)") {
    val t = freshTable()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))       // v1
    val snapV1 = TxLog.snapshot(t)
    val schemaV1 = TxLog.tableSchema(t, 1L).get                  // (id, v)
    TxLog.addColumns(t, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))                   // v2
    // a TRUNCATE prepared against v1 (schema + live set read before
    // the ALTER landed) loses the publish race and rebases over v2:
    // its removes are intact (altschema moves no files) so the rebase
    // succeeds — and its schema line must UNION with the rebased
    // head, or the raced-in 'extra' column silently vanishes
    TxLog.commit(t, "truncate", 1L, Nil,
      snapV1.files.map(f => TxLog.relative(t, f)),
      Some(schemaV1.json))
    val head = TxLog.tableSchema(t, TxLog.currentVersion(t)).get.fieldNames
    assert(head.contains("extra"),
      s"truncate's rebase dropped the raced ALTER's column: ${head.toSeq}")
    assert(TxLog.snapshot(t).files.isEmpty, "the truncate still emptied")
  }

  test("truncate racing an append conflicts loudly (those rows must " +
       "not survive a truncate that logically follows them)") {
    val t = freshTable()
    TxLog.append(spark, t, Seq(1L -> "a").toDF("id", "v"))       // v1
    val snapV1 = TxLog.snapshot(t)
    TxLog.append(spark, t, Seq(2L -> "b").toDF("id", "v"))       // v2 races
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commit(t, "truncate", 1L, Nil,
        snapV1.files.map(f => TxLog.relative(t, f)),
        Some(TxLog.tableSchema(t, 1L).get.json))
    }
    assert(TxLog.read(spark, t).count() == 2,
      "the failed truncate must leave both appends live")
  }

  // ------------------------------------------------------------------
  // Column mapping (round 14): RENAME / DROP COLUMN
  // ------------------------------------------------------------------

  test("RENAME COLUMN is one metadata commit: pre-rename files keep " +
       "serving under the new name; stale-name writes fail loudly") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a", 2L -> "b").coalesce(1)) // v1
    val filesBefore = TxLog.snapshot(t).files.toSet
    assert(TxLog.renameColumn(t, "v", "label") == 2L)
    assert(TxLog.snapshot(t).files.toSet == filesBefore,
      "RENAME COLUMN must move zero data")
    val got = TxLog.read(spark, t)
    assert(got.columns.toSeq == Seq("id", "label"))
    assert(got.as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"),
      "pre-rename files must serve their values under the new name")
    // new-era writes interleave with old-era files transparently
    TxLog.append(spark, t, Seq(3L -> "c").toDF("id", "label").coalesce(1))
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // a write still carrying the OLD name is incompatible, loudly
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, t, mk(4L -> "d"))
    }
    assert(e.getMessage.contains("label"), e.getMessage)
    // time travel to before the rename shows the old schema
    assert(TxLog.read(spark, t, Some(1L)).columns.toSeq == Seq("id", "v"))
    // upsert keyed on the RENAMED column: stats were rekeyed to
    // logical, so locate pruning and the rewrite still work
    TxLog.upsert(spark, t,
      Seq(2L -> "B2").toDF("id", "label"), "id")
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("DROP COLUMN tombstones the physical identity: buried data " +
       "never resurrects; re-add reads null") {
    val t = freshTable()
    TxLog.append(spark, t,
      Seq((1L, "a", "x1"), (2L, "b", "x2")).toDF("id", "v", "extra")
        .coalesce(1))
    TxLog.dropColumn(t, "extra")
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "v"))
    // a write still carrying the dropped name: rejected, naming the
    // re-creation path
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, t,
        Seq((3L, "c", "boo")).toDF("id", "v", "extra"))
    }
    assert(e.getMessage.contains("ALTER TABLE ADD COLUMNS"), e.getMessage)
    // explicit re-add: fresh physical identity, so the buried x1/x2
    // stay buried. Until a file carries the fresh physical column the
    // raw library read omits it (the existing ADD COLUMNS semantics —
    // the relation/facade path aligns it to null); the resurrection
    // check is the mixed-era read below.
    TxLog.addColumns(t, Seq(org.apache.spark.sql.types.StructField(
      "extra", org.apache.spark.sql.types.StringType, nullable = true)))
    assert(!TxLog.read(spark, t).columns.contains("extra") ||
      TxLog.read(spark, t)
        .where(org.apache.spark.sql.functions.col("extra").isNotNull)
        .count() == 0,
      "no buried value may surface right after the re-add")
    TxLog.append(spark, t,
      Seq((3L, "c", Some("fresh"))).toDF("id", "v", "extra").coalesce(1))
    val mixed = TxLog.read(spark, t)
      .select("id", "extra").as[(Long, Option[String])].collect().toMap
    assert(mixed == Map(1L -> None, 2L -> None, 3L -> Some("fresh")),
      s"re-added column must NOT resurrect dropped data: $mixed")
  }

  test("CDC across a rename: the whole feed speaks the newest names, " +
       "pre-rename branch values intact") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a").coalesce(1))   // v1
    TxLog.renameColumn(t, "v", "label")                 // v2 (neutral)
    TxLog.upsert(spark, t,
      Seq(1L -> "A2").toDF("id", "label"), "id")        // v3
    val feed = TxLog.readChangeFeed(spark, t, 0L, key = Some("id"))
    assert(feed.columns.contains("label") && !feed.columns.contains("v"))
    val byType = feed.select("_change_type", "id", "label")
      .as[(String, Long, String)].collect().toSet
    assert(byType == Set(
      ("insert", 1L, "a"),
      ("update_preimage", 1L, "a"),
      ("update_postimage", 1L, "A2")),
      s"feed across the rename: $byType")
  }

  test("rename-vs-rename race: the loser recomputes at the new head " +
       "and fails loudly naming the vanished column") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a").coalesce(1)) // v1
    // inject a COMPETING rename v->y winning the loser's first
    // publish (the TxLogIoSpec race pattern, at the remap path)
    val injected = new java.util.concurrent.atomic.AtomicInteger(1)
    val schemaY = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.StringType)))
    TxLog.io = new graft.sources.TxLogIo {
      private val base = graft.sources.LocalTxLogIo
      override def exists(p: String) = base.exists(p)
      override def isDirectory(p: String) = base.isDirectory(p)
      override def listNames(d: String) = base.listNames(d)
      override def readLines(p: String) = base.readLines(p)
      override def readString(p: String) = base.readString(p)
      override def mtimeMillis(p: String) = base.mtimeMillis(p)
      override def deleteIfExists(p: String) = base.deleteIfExists(p)
      override def replace(tg: String, b: Array[Byte]) = base.replace(tg, b)
      override def putIfAbsent(tg: String, b: Array[Byte]) = {
        if (tg.endsWith(".commit") && injected.getAndDecrement() > 0) {
          val competing = ("meta remap 1\nschema " + schemaY.json +
            "\ncolmap {\"map\":{\"y\":\"v\"},\"dropped\":[]}")
          base.putIfAbsent(tg, competing.getBytes("UTF-8"))
        }
        base.putIfAbsent(tg, b)
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        TxLog.renameColumn(t, "v", "z")
      }
      assert(e.getMessage.contains("no column 'v'"), e.getMessage)
    } finally TxLog.io = graft.sources.LocalTxLogIo
    // the winner's rename stands; values intact under y
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "y"))
    assert(TxLog.read(spark, t).select("id", "y").as[(Long, String)]
      .collect().toSet == Set(1L -> "a"))
  }

  /** Runs `body` with `race` committed just ahead of `body`'s first
    * commit publish, at the same version: that publish loses and
    * `body`'s commit rebases over `race`'s.
    */
  private def losingFirstPublish(race: => Unit)(body: => Unit): Unit = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxLog.io = new graft.sources.TxLogIo {
      private val base = graft.sources.LocalTxLogIo
      override def exists(p: String) = base.exists(p)
      override def isDirectory(p: String) = base.isDirectory(p)
      override def listNames(d: String) = base.listNames(d)
      override def readLines(p: String) = base.readLines(p)
      override def readString(p: String) = base.readString(p)
      override def mtimeMillis(p: String) = base.mtimeMillis(p)
      override def deleteIfExists(p: String) = base.deleteIfExists(p)
      override def replace(tg: String, b: Array[Byte]) = base.replace(tg, b)
      override def putIfAbsent(tg: String, b: Array[Byte]) = {
        if (tg.endsWith(".commit") && armed.getAndSet(false)) race
        base.putIfAbsent(tg, b)
      }
    }
    try body finally TxLog.io = graft.sources.LocalTxLogIo
  }

  test("a compaction that loses its publish to ADD COLUMNS keeps the " +
       "added column") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a").coalesce(1))
    TxLog.append(spark, t, mk(2L -> "b").coalesce(1))
    losingFirstPublish(TxLog.addColumns(t, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType, nullable = true)))) {
      assert(TxLog.compact(spark, t) == 4L, "compaction rebases past v3")
    }
    assert(TxLog.snapshot(t).files.size == 1)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "v", "extra"),
      "compaction must not republish its pre-race schema line")
    assert(rows(TxLog.read(spark, t)) == Set(1L -> "a", 2L -> "b"))
  }

  test("a compaction that loses its publish to RENAME COLUMN keeps the " +
       "new name in the schema line") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a").coalesce(1))
    TxLog.append(spark, t, mk(2L -> "b").coalesce(1))
    losingFirstPublish(TxLog.renameColumn(t, "v", "y")) {
      assert(TxLog.compact(spark, t) == 4L, "compaction rebases past v3")
    }
    val snap = TxLog.snapshot(t)
    assert(snap.files.size == 1)
    assert(snap.schema.map(_.fieldNames.toSeq).contains(Seq("id", "y")),
      s"the logged schema must keep the rename: ${snap.schema}")
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "y"))
    assert(TxLog.read(spark, t).select("id", "y").as[(Long, String)]
      .collect().toSet == Set(1L -> "a", 2L -> "b"))
  }

  test("partition columns are rename/drop-protected; the mapping " +
       "survives a checkpoint") {
    val t = freshTable()
    TxLog.append(spark, t,
      Seq((1L, "en", "a"), (2L, "de", "b")).toDF("id", "lang", "v"),
      partitionBy = Seq("lang"))
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(t, "lang", "language")
    }
    intercept[IllegalArgumentException] { TxLog.dropColumn(t, "lang") }
    // rename a data column, then push past a checkpoint boundary
    TxLog.renameColumn(t, "v", "label")
    (1 to TxLog.checkpointEvery).foreach { i =>
      TxLog.append(spark, t,
        Seq((100L + i, "en", s"r$i")).toDF("id", "lang", "label"))
    }
    val cur = TxLog.currentVersion(t)
    assert(TxLog.columnMapping(t, cur).toPhysical == Map("label" -> "v"),
      "the colmap line must fold into (and serve from) checkpoints")
    val got = TxLog.read(spark, t).select("id", "label")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "a" && got(101L) == "r1")
    // partition pruning still works next to the mapping
    val snap = TxLog.snapshot(t)
    assert(snap.stats.values.forall(_.part.nonEmpty))
  }

  // ------------------------------------------------------------------
  // The log-line codec: one decoder and one encoder for every commit
  // and checkpoint line
  // ------------------------------------------------------------------

  /** Every commit and checkpoint file under `table`'s log, by name. */
  private def logFiles(table: String): Seq[java.nio.file.Path] = {
    val ls = Files.list(Paths.get(table, "_graft_log"))
    try ls.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".commit") || n.endsWith(".checkpoint")
    }.toVector.sortBy(_.getFileName.toString)
    finally ls.close()
  }

  test("codec round trip: every line a full workflow writes re-encodes " +
       "byte-identically") {
    val t = freshTable()
    val tp = freshTable()
    val every = TxLog.checkpointEvery
    // checkpoints every 3 commits, so they carry txn, colmap and
    // partition lines too
    TxLog.checkpointEvery = 3
    try {
      TxLog.append(spark, t, mk(1L -> "a", 2L -> "b", 3L -> "c"))
      TxLog.upsert(spark, t, mk(2L -> "B"), "id")
      TxLog.delete(spark, t, Seq(1L).toDF("id"), "id")
      TxLog.merge(spark, t, mk(4L -> "d"), Seq(3L).toDF("id"), "id")
      TxLog.appendOnce(spark, t, mk(5L -> "e"), "w1", 0L)
      TxLog.registerReader(t, "r1", 5L)
      TxLog.addColumns(t, Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.StringType)))
      TxLog.renameColumn(t, "x", "y")
      TxLog.dropColumn(t, "y")
      TxLog.compact(spark, t)
      TxLog.overwrite(spark, t, mk(9L -> "z"))
      TxLog.restore(spark, t, 4L)
      TxLog.truncate(t)
      TxLog.commit(t, "append", TxLog.currentVersion(t),
        Seq("part-legacy.parquet" -> None), Nil)
      // one more commit puts the stats-less file into a checkpoint
      TxLog.registerReader(t, "r2", 1L)
      TxLog.append(spark, tp, Seq((1L, 0L), (2L, 1L)).toDF("id", "p"),
        partitionBy = Seq("p"))
      TxLog.append(spark, tp, Seq((3L, 0L)).toDF("id", "p"))
      TxLog.append(spark, tp, Seq((4L, 1L)).toDF("id", "p"))
    } finally TxLog.checkpointEvery = every
    val kinds = collection.mutable.Set.empty[String]
    for (f <- logFiles(t) ++ logFiles(tp)) {
      val cp = f.getFileName.toString.endsWith(".checkpoint")
      val bytes = new String(Files.readAllBytes(f), "UTF-8")
      val lines = Files.readAllLines(f).asScala.toVector
      val rec = TxLog.LogRecord.decode(lines, cp)
      assert(TxLog.LogRecord.encode(rec).mkString("\n") == bytes,
        s"$f does not re-encode byte-identically")
      lines.foreach { l =>
        assert(TxLog.LogRecord.encode(TxLog.LogRecord.decode(Seq(l), cp)) ==
          Seq(l), s"line of $f does not round-trip: '$l'")
        val words = l.split(" ")
        kinds += (words(0) match {
          case "meta" if words(1) == "txn" => "meta txn"
          case "add" | "file" => s"${words(0)}${if (words.length > 2) "+stats" else ""}"
          case k => k
        })
      }
    }
    val want = Set("meta", "meta txn", "schema", "partition", "colmap",
      "remove", "add+stats", "add", "file+stats", "file", "txn")
    assert(want.subsetOf(kinds), s"workflow missed line kinds ${want -- kinds}")
    // and a round trip through history: every op the workflow committed
    assert(TxLog.history(t).map(_.op).reverse == Seq("append", "upsert",
      "delete", "upsert", "txn w1", "txn rdr-r1", "altschema", "remap",
      "remap", "compact", "overwrite", "restore", "truncate", "append",
      "txn rdr-r2"))
  }

  test("a legacy hand-written log reads as before: commits without a " +
       "meta line or read version, stats-less adds, a file/txn checkpoint") {
    val t = freshTable()
    val log = Paths.get(t, "_graft_log")
    Files.createDirectories(log)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    def write(name: String, lines: String*): Unit =
      Files.write(log.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    val statsA = """{"rows":3,"cols":{"id":{"min":1,"max":3}}}"""
    val statsC = """{"rows":2,"cols":{"id":{"min":7,"max":8}},"bytes":42}"""
    write(f"${1L}%020d.commit", s"schema ${schema.json}",
      s"add part-a.parquet $statsA")
    write(f"${2L}%020d.commit", "meta upsert", "remove part-a.parquet",
      "add part-b.parquet")
    write(f"${3L}%020d.commit", "meta txn w1 7 2",
      s"add part-c.parquet $statsC")
    write(f"${3L}%020d.checkpoint", s"schema ${schema.json}", "txn rdr-r 2",
      "txn w1 7", "file part-b.parquet", s"file part-c.parquet $statsC")
    write(f"${4L}%020d.commit", "meta append 3", "add part-d.parquet")
    assert(TxLog.currentVersion(t) == 4L)
    val head = TxLog.snapshot(t)
    assert(head.files == Vector("b", "c", "d").map(n => s"$t/part-$n.parquet"))
    assert(head.stats.keySet == Set(s"$t/part-c.parquet"))
    assert(head.stats(s"$t/part-c.parquet").rows == 2L &&
      head.stats(s"$t/part-c.parquet").bytes == 42L)
    assert(head.schema == Some(schema))
    val v1 = TxLog.snapshot(t, Some(1L))
    assert(v1.files == Vector(s"$t/part-a.parquet") &&
      v1.stats(s"$t/part-a.parquet").rows == 3L)
    val v2 = TxLog.snapshot(t, Some(2L))
    assert(v2.files == Vector(s"$t/part-b.parquet") && v2.stats.isEmpty &&
      v2.schema == Some(schema))
    assert(TxLog.history(t) == Seq(
      TxLog.CommitInfo(4L, "append", 3L, 1, 0),
      TxLog.CommitInfo(3L, "txn w1", 2L, 1, 0),
      TxLog.CommitInfo(2L, "upsert", 1L, 1, 1),
      TxLog.CommitInfo(1L, "append", 0L, 1, 0)))
    assert(TxLog.lastEpoch(t, 4L, "w1") == Some(7L))
    assert(TxLog.lastEpoch(t, 4L, "rdr-r") == Some(2L))
    assert(TxLog.lastEpoch(t, 3L, "w1") == Some(7L))
    assert(TxLog.lastEpoch(t, 2L, "w1") == None)
    assert(TxLog.readerHwms(t, 4L) == Map("r" -> 2L))
    assert(TxLog.tableSchema(t, 4L) == Some(schema))
    assert(TxLog.tableSchema(t, 2L) == Some(schema))
  }

  test("an unrecognized commit line fails loudly instead of dropping state") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    // a foreign line, and the checkpoint-only kinds in a commit
    for (bad <- Seq("frobnicate part-x.parquet", "file part-x.parquet",
                    "txn w1 3")) {
      Files.write(Paths.get(t, "_graft_log", f"${2L}%020d.commit"),
        s"meta append 1\n$bad".getBytes("UTF-8"))
      val e = intercept[IllegalStateException](TxLog.snapshot(t))
      assert(e.getMessage.contains("unrecognized commit line"),
        s"must name the commit line as the problem: ${e.getMessage}")
    }
  }
}
