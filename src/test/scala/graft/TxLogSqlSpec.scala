package graft

import java.nio.file.Files

import graft.sources.{TxLog, TxLogCatalog}

/** TxLog as a FIRST-CLASS SQL CITIZEN (round-11 VERDICT #1): the DSv2
  * catalog + `SupportsRowLevelOperations` surface. Every statement is
  * checked frame-equal to its library twin (upsert/delete/snapshot)
  * and the rewrite granularity (files actually touched) is pinned —
  * SQL DML must inherit the locate-then-rewrite scale story, not
  * rewrite the table.
  */
class TxLogSqlSpec extends SparkSuite {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = tempDir("graft_txsql_wh").toString
    spark.conf.set("spark.sql.catalog.txsql", classOf[TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.txsql.warehouse", dir)
    dir
  }

  private var n = 0
  private def freshName(): String = { wh; n += 1; s"t$n" }

  private def rows(tbl: String): Set[(Long, String)] =
    spark.sql(s"SELECT id, v FROM txsql.$tbl ORDER BY id")
      .as[(Long, String)].collect().toSet

  test("CREATE TABLE / INSERT INTO / SELECT round-trip") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    assert(spark.sql(s"SELECT * FROM txsql.$t").count() == 0,
      "a created table reads as an empty frame with the logged schema")
    spark.sql(s"INSERT INTO txsql.$t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO txsql.$t VALUES (3, 'c')")
    assert(rows(t) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // the SQL writes are ordinary log commits: the library sees them
    assert(TxLog.currentVersion(s"$wh/$t") == 3L) // create + 2 inserts
  }

  test("INSERT OVERWRITE replaces content transactionally") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO txsql.$t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT OVERWRITE txsql.$t VALUES (9, 'z')")
    assert(rows(t) == Set(9L -> "z"))
    // time travel still sees the pre-overwrite content
    assert(spark.sql(s"SELECT id, v FROM txsql.$t VERSION AS OF 2")
      .as[(Long, String)].collect().toSet == Set(1L -> "a", 2L -> "b"))
  }

  test("DELETE FROM matches the library delete twin, file-granular") {
    val t = freshName(); val lib = tempDir("graft_txsql_lib").toString
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    // three files with disjoint id ranges (one insert each → one file each)
    Seq(Seq(1L -> "a", 10L -> "b"), Seq(11L -> "c", 20L -> "d"),
        Seq(21L -> "e", 30L -> "f")).foreach { batch =>
      TxLog.append(spark, s"$wh/$t", batch.toDF("id", "v").coalesce(1))
      TxLog.append(spark, lib, batch.toDF("id", "v").coalesce(1))
    }
    val before = TxLog.snapshot(s"$wh/$t")
    // a predicate matching no row is a no-op on both engines
    spark.sql(s"DELETE FROM txsql.$t WHERE id = 15")
    assert(rows(t).size == 6, "id=15 matches nothing: no row may vanish")
    spark.sql(s"DELETE FROM txsql.$t WHERE id = 20")
    TxLog.delete(spark, lib, Seq(20L).toDF("id"), "id")
    assert(rows(t) == TxLog.read(spark, lib).as[(Long, String)]
      .collect().toSet, "SQL DELETE must equal the library twin")
    // file granularity: only the file containing id=15 was rewritten
    val after = TxLog.snapshot(s"$wh/$t")
    val untouched = before.files.toSet intersect after.files.toSet
    assert(untouched.size == 2,
      s"DELETE must rewrite only the touched file: kept $untouched")
  }

  test("UPDATE matches the library upsert twin, file-granular") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    Seq(Seq(1L -> "a", 10L -> "b"), Seq(11L -> "c", 20L -> "d"),
        Seq(21L -> "e", 30L -> "f")).foreach { batch =>
      TxLog.append(spark, s"$wh/$t", batch.toDF("id", "v").coalesce(1))
    }
    val before = TxLog.snapshot(s"$wh/$t")
    spark.sql(s"UPDATE txsql.$t SET v = 'UPDATED' WHERE id = 20")
    assert(rows(t) == Set(1L -> "a", 10L -> "b", 11L -> "c",
      20L -> "UPDATED", 21L -> "e", 30L -> "f"))
    val after = TxLog.snapshot(s"$wh/$t")
    assert((before.files.toSet intersect after.files.toSet).size == 2,
      "UPDATE must rewrite only the file containing the matched key")
    // stats survive the rewrite: a later point-op still prunes
    val cand = TxLog.pruneCandidates(after, "id", 20L, 20L, Some(Seq(20L)))
    assert(cand.size == 1, s"rewritten file must carry stats: $cand")
  }

  test("SQL DELETE and UPDATE with a pushable condition each run 4 jobs") {
    // three files with disjoint id ranges, one append each
    def threeFiles(): String = {
      val t = freshName()
      spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
      Seq(Seq(1L -> "a", 10L -> "b"), Seq(11L -> "c", 20L -> "d"),
          Seq(21L -> "e", 30L -> "f")).foreach { batch =>
        TxLog.append(spark, s"$wh/$t", batch.toDF("id", "v").coalesce(1))
      }
      t
    }
    val d = threeFiles()
    assert(JobProbe.jobs(spark, "sql-delete") {
      spark.sql(s"DELETE FROM txsql.$d WHERE id = 11"); ()
    } == 4)
    assert(rows(d) == Set(1L -> "a", 10L -> "b", 20L -> "d", 21L -> "e",
      30L -> "f"))
    val u = threeFiles()
    assert(JobProbe.jobs(spark, "sql-update") {
      spark.sql(s"UPDATE txsql.$u SET v = 'z' WHERE id = 21"); ()
    } == 4)
    assert(rows(u) == Set(1L -> "a", 10L -> "b", 11L -> "c", 20L -> "d",
      21L -> "z", 30L -> "f"))
  }

  test("MERGE INTO upsert semantics match the library twin") {
    val t = freshName(); val lib = tempDir("graft_txsql_lib2").toString
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    val base = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "v")
    TxLog.append(spark, s"$wh/$t", base)
    TxLog.append(spark, lib, base)
    Seq(2L -> "B2", 9L -> "new").toDF("id", "v")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO txsql.$t t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    TxLog.upsert(spark, lib, Seq(2L -> "B2", 9L -> "new").toDF("id", "v"), "id")
    assert(rows(t) == TxLog.read(spark, lib).as[(Long, String)]
      .collect().toSet, "MERGE must equal the library upsert twin")
  }

  test("MERGE INTO rewrites only the matching file(s): runtime group " +
       "filtering (round-12 VERDICT #1)") {
    val t = freshName(); val t2 = freshName()
    Seq(t, t2).foreach { name =>
      spark.sql(s"CREATE TABLE txsql.$name (id BIGINT, v STRING)")
      // four files with disjoint clustered id ranges — the shape a
      // point MERGE must NOT rewrite wholesale
      Seq(Seq(1L -> "a", 10L -> "b"), Seq(11L -> "c", 20L -> "d"),
          Seq(21L -> "e", 30L -> "f"), Seq(31L -> "g", 40L -> "h"))
        .foreach(b => TxLog.append(spark, s"$wh/$name",
          b.toDF("id", "v").coalesce(1)))
    }
    val before = TxLog.snapshot(s"$wh/$t")
    assert(before.files.size == 4)
    // one matched key (20, lives in file 2 only) + one pure insert
    Seq(20L -> "D2", 25L -> "ins").toDF("id", "v")
      .createOrReplaceTempView("rtgf_src")
    val mergeSql = (name: String) =>
      s"""MERGE INTO txsql.$name x USING rtgf_src s ON x.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    spark.sql(mergeSql(t))
    val expected = Set(1L -> "a", 10L -> "b", 11L -> "c", 20L -> "D2",
      21L -> "e", 25L -> "ins", 30L -> "f", 31L -> "g", 40L -> "h")
    assert(rows(t) == expected)
    // file granularity: the three files whose id ranges cannot hold
    // the single matching key survive the MERGE untouched
    val after = TxLog.snapshot(s"$wh/$t")
    val untouched = before.files.toSet intersect after.files.toSet
    assert(untouched.size == 3,
      s"a point MERGE must rewrite only the matching file; " +
      s"kept ${untouched.size} of ${before.files.size}")
    // unchanged-result pin: the same MERGE with runtime group
    // filtering OFF (the all-files rewrite) produces identical rows
    val key = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      spark.sql(mergeSql(t2))
    } finally spark.conf.set(key, old)
    assert(rows(t2) == expected,
      "group filtering must never change MERGE results")
  }

  test("ranked pruning attribute: a near-constant leading column is " +
       "passed over for the clustered key (round-13 VERDICT task 4)") {
    import graft.sources.TxLogV2Util
    val t = freshName()
    // grp is FIRST in schema order and near-constant (values 1..3 in
    // EVERY file — all ranges overlap); id is disjoint-clustered.
    // The pre-r14 rule (first covered column) declared grp, whose
    // stats admit every file; the ranked rule must pick id.
    spark.sql(s"CREATE TABLE txsql.$t (grp BIGINT, id BIGINT, v STRING)")
    Seq(Seq((1L, 1L, "a"), (3L, 10L, "b")),
        Seq((1L, 11L, "c"), (3L, 20L, "d")),
        Seq((1L, 21L, "e"), (3L, 30L, "f")),
        Seq((1L, 31L, "g"), (3L, 40L, "h")))
      .foreach(b => TxLog.append(spark, s"$wh/$t",
        b.toDF("grp", "id", "v").coalesce(1)))
    val before = TxLog.snapshot(s"$wh/$t")
    assert(before.files.size == 4)
    val schema = spark.table(s"txsql.$t").schema
    // the naive choice would have been grp (schema-first covered
    // column), and grp's stats admit EVERY file for the matched row's
    // value — it can never prune here
    val covered = TxLogV2Util.coveredPruningColumns(before, schema,
      before.files)
    assert(covered.head == "grp", s"schema-first covered column: $covered")
    assert(before.files.forall { f =>
      val r = before.stats(f).colRange("grp").get
      r.min.asInstanceOf[Long] <= 3L && 3L <= r.max.asInstanceOf[Long]
    }, "every file's grp range must admit the matched value (grp=3)")
    assert(TxLogV2Util.rangeDisjointness(before, "grp",
      before.files) == 0.0, "near-constant column scores 0")
    assert(TxLogV2Util.rangeDisjointness(before, "id",
      before.files) == 1.0, "disjoint-clustered column scores 1")
    assert(TxLogV2Util.pruningAttributes(s"$wh/$t", before, schema,
      before.files) == Seq("id"),
      "the ranked rule must declare the clustered key, not the " +
      "schema-first near-constant column")
    // integration: a one-key MERGE (id=20, lives in file 2) rewrites
    // exactly one file under the ranked attribute; the naive grp
    // declaration would have rewritten all four
    Seq((3L, 20L, "D2")).toDF("grp", "id", "v")
      .createOrReplaceTempView("ranked_src")
    spark.sql(
      s"""MERGE INTO txsql.$t x USING ranked_src s ON x.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = TxLog.snapshot(s"$wh/$t")
    assert((before.files.toSet intersect after.files.toSet).size == 3,
      "the ranked attribute must confine the rewrite to 1 of 4 files")
    assert(spark.sql(s"SELECT grp, id, v FROM txsql.$t WHERE id = 20")
      .as[(Long, Long, String)].collect().toSeq == Seq((3L, 20L, "D2")))
  }

  test("OPTIMIZE via CALL compact(zorder_by): a selective predicate on " +
       "EITHER dimension reads strictly fewer files after the rewrite " +
       "(round-13 VERDICT task 2)") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (x BIGINT, y BIGINT, p STRING)")
    // a 16x16 grid scattered round-robin into 4 files: every file
    // spans the FULL x and y ranges, so log-stats skipping can prune
    // nothing before the rewrite
    val grid = (for { x <- 0 until 16; y <- 0 until 16 }
      yield (x.toLong, y.toLong, s"$x-$y"))
    (0 until 4).foreach { slice =>
      TxLog.append(spark, s"$wh/$t",
        grid.zipWithIndex.filter(_._2 % 4 == slice).map(_._1)
          .toDF("x", "y", "p").coalesce(1))
    }
    def filesRead(where: String): Int = {
      val df = spark.sql(s"SELECT x, y, p FROM txsql.$t WHERE $where")
      df.collect()
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }.collectFirst {
        case s: graft.sources.TxLogScan => s.currentFiles.size
      }.getOrElse(0) // 0 = fully skipped (TxLogEmptyScan)
    }
    val content = spark.sql(s"SELECT x, y, p FROM txsql.$t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(filesRead("x = 5") == 4 && filesRead("y = 5") == 4,
      "the scattered layout must defeat log-stats skipping entirely")
    // OPTIMIZE: one metadata commit, z-ordered 4-file layout
    spark.sql(s"CALL txsql.system.compact(table => '$t', " +
      s"target_files => 4, zorder_by => 'x,y')")
    val fx = filesRead("x = 5"); val fy = filesRead("y = 5")
    // strictly fewer on BOTH dims (<= 3 tolerates the sampled
    // repartitionByRange boundary caveat; lexicographic layout would
    // leave the trailing dim at 4)
    assert(fx <= 3 && fy <= 3,
      s"z-order must skip files on both dims: x->$fx, y->$fy of 4")
    assert(spark.sql(s"SELECT x, y, p FROM txsql.$t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      content, "OPTIMIZE is content-neutral through the SQL surface")
    info(s"zorder skip ratio: x=5 reads $fx/4, y=5 reads $fy/4")
  }

  test("star-join runtime file skipping: a selective dim filter prunes " +
       "fact files at execution (DPP over the txlog scan)") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    Seq(Seq(1L -> "a", 10L -> "b"), Seq(11L -> "c", 20L -> "d"),
        Seq(21L -> "e", 30L -> "f"), Seq(31L -> "g", 40L -> "h"))
      .foreach(b => TxLog.append(spark, s"$wh/$t",
        b.toDF("id", "v").coalesce(1)))
    // the dim must be a TABLE: a local Seq folds to a LocalRelation
    // at optimization (filter pre-evaluated, no selective predicate
    // left in the plan) and PartitionPruning correctly skips it
    val dim = freshName()
    spark.sql(s"CREATE TABLE txsql.$dim (id BIGINT, tag STRING)")
    TxLog.append(spark, s"$wh/$dim",
      Seq((20L, "keep"), (25L, "drop"), (35L, "drop")).toDF("id", "tag"))
    val joined = spark.sql(
      s"""SELECT f.id, f.v FROM txsql.$t f
         |JOIN txsql.$dim d ON f.id = d.id WHERE d.tag = 'keep'""".stripMargin)
    // collect on THIS Dataset: .as[...] would wrap the plan in a NEW
    // QueryExecution whose own scan instances execute instead, and
    // the instance inspected below would never see the runtime filter
    assert(joined.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set(20L -> "d"))
    // find the fact-side scan (same instance the physical plan
    // runtime-filters; collected from the logical side because AQE
    // wraps the executed plan) and pin that the runtime IN-filter
    // narrowed its file set to the one matching file
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val scans = joined.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    val fact = scans.collectFirst {
      case s: graft.sources.TxLogRuntimeScan => s
    }
    assert(fact.nonEmpty, s"no runtime-filterable txlog scan in: $scans")
    assert(fact.get.currentFiles.size == 1,
      s"dim keys {20} must prune the fact to 1 of 4 files, " +
      s"scan kept ${fact.get.currentFiles.size}")
  }

  test("MERGE WHEN MATCHED DELETE removes matched rows") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    TxLog.append(spark, s"$wh/$t",
      Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "v"))
    Seq(2L).toDF("id").createOrReplaceTempView("del_src")
    spark.sql(
      s"""MERGE INTO txsql.$t t USING del_src s ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(rows(t) == Set(1L -> "a", 3L -> "c"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE (full sync semantics)") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    TxLog.append(spark, s"$wh/$t",
      Seq(1L -> "keep", 2L -> "update", 3L -> "drop").toDF("id", "v"))
    Seq(1L -> "keep", 2L -> "UPDATED", 9L -> "insert")
      .toDF("id", "v").createOrReplaceTempView("sync_src")
    // the full source-sync shape: matched rows update, unmatched
    // source rows insert, target rows ABSENT from the source delete
    spark.sql(
      s"""MERGE INTO txsql.$t t USING sync_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(rows(t) == Set(1L -> "keep", 2L -> "UPDATED", 9L -> "insert"),
      "MERGE must mirror the source exactly (update/insert/delete)")
  }

  test("VERSION AS OF and TIMESTAMP AS OF time-travel reads") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO txsql.$t VALUES (1, 'v2')")
    spark.sql(s"INSERT INTO txsql.$t VALUES (2, 'v3')")
    assert(spark.sql(s"SELECT count(*) FROM txsql.$t VERSION AS OF 2")
      .head().getLong(0) == 1L)
    assert(spark.sql(s"SELECT count(*) FROM txsql.$t VERSION AS OF 3")
      .head().getLong(0) == 2L)
    // TIMESTAMP AS OF now() = the current version
    assert(spark.sql(
      s"SELECT count(*) FROM txsql.$t TIMESTAMP AS OF current_timestamp()")
      .head().getLong(0) == 2L)
  }

  test("SQL row-level ops keep optimistic concurrency: racing append conflicts") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    TxLog.append(spark, s"$wh/$t", Seq(1L -> "a", 2L -> "b").toDF("id", "v"))
    // pin the operation's snapshot by loading the table NOW, then
    // race an append underneath before the commit: the rewrite path
    // goes through TxLog.commit, whose upsert/delete rule must throw.
    // Simplest deterministic spelling: run DELETE while a concurrent
    // append already moved the version — the DSv2 table pins its
    // snapshot at analysis, so inject the append between analysis and
    // execution via a lazy-planned frame.
    val del = spark.sql(s"DELETE FROM txsql.$t WHERE id = 1") // eager: runs now
    assert(rows(t) == Set(2L -> "b"))
    // the eager path worked; now the true race: analyze against v_n,
    // append, then execute — DataFrame DML statements execute eagerly
    // in sql(), so drive the race through the operation's commit
    // directly: a stale-read-version delete commit must throw
    val stale = TxLog.currentVersion(s"$wh/$t")
    TxLog.append(spark, s"$wh/$t", Seq(9L -> "z").toDF("id", "v"))
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commit(s"$wh/$t", "delete", stale, Seq.empty, Seq.empty)
    }
  }

  test("path identifier: txsql.`/abs/path` loads a table by location") {
    wh
    val dir = tempDir("graft_txsql_path").toString + "/tbl"
    TxLog.append(spark, dir, Seq(1L -> "a").toDF("id", "v"))
    assert(spark.sql(s"SELECT id, v FROM txsql.`$dir`")
      .as[(Long, String)].collect().toSet == Set(1L -> "a"))
  }

  test("CTAS, DROP TABLE, and tableExists") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t AS SELECT 5L AS id, 'x' AS v")
    assert(rows(t) == Set(5L -> "x"))
    spark.sql(s"DROP TABLE txsql.$t")
    intercept[Exception] { spark.sql(s"SELECT * FROM txsql.$t").collect() }
  }

  test("scan reports log statistics: small txlog table broadcasts, big one doesn't") {
    val small = freshName(); val big = freshName()
    spark.sql(s"CREATE TABLE txsql.$small (id BIGINT, v STRING)")
    spark.sql(s"CREATE TABLE txsql.$big (id BIGINT, w STRING)")
    TxLog.append(spark, s"$wh/$small",
      (1L to 10L).map(i => i -> s"s$i").toDF("id", "v"))
    TxLog.append(spark, s"$wh/$big",
      (1L to 200000L).map(i => i -> s"w$i").toDF("id", "w"))
    // pin the threshold between the two tables' on-disk sizes (~1 KB
    // vs ~2 MB) so both directions of the decision are exercised
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thrKey)
    try {
      spark.conf.set(thrKey, (100 * 1024).toString)
      val joined = spark.sql(
        s"SELECT b.id, s.v, b.w FROM txsql.$big b JOIN txsql.$small s ON b.id = s.id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"log stats must drive a broadcast join with no ANALYZE step:\n$plan")
      // threshold respected: two above-threshold sides → no broadcast
      val bigJoin = spark.sql(
        s"SELECT a.id FROM txsql.$big a JOIN txsql.$big b ON a.id = b.id")
      val bigPlan = bigJoin.queryExecution.executedPlan.toString
      assert(!bigPlan.contains("BroadcastHashJoin"),
        s"two above-threshold sides must not broadcast:\n$bigPlan")
    } finally spark.conf.set(thrKey, saved)
  }

  test("PARTITIONED BY: DSv2 create, partition + stats double pruning") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, lang STRING, v STRING) " +
      s"PARTITIONED BY (lang)")
    assert(TxLog.partitionSpec(s"$wh/$t", 1L) == Seq("lang"))
    spark.sql(s"INSERT INTO txsql.$t VALUES " +
      s"(1, 'en', 'a'), (2, 'en', 'b'), (11, 'de', 'c'), (12, 'de', 'd')")
    val snap = TxLog.snapshot(s"$wh/$t")
    assert(snap.files.map(f => snap.stats(f).part("lang")).toSet ==
      Set("en", "de"), "the SQL insert must land per-partition files")
    // DOUBLE pruning (the q_part_layout shape over a txlog table):
    // the lang predicate prunes by PARTITION VALUE, the id predicate
    // by FOOTER STATS — delete everything either should skip and the
    // read must still succeed
    val keep = snap.files.filter { f =>
      val st = snap.stats(f)
      val r = st.cols("id")
      st.part("lang") == "en" &&
        r.min.asInstanceOf[Long] <= 1L && 1L <= r.max.asInstanceOf[Long]
    }
    snap.files.filterNot(keep.contains)
      .foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    assert(keep.nonEmpty && keep.size < snap.files.size,
      s"fixture must actually exercise pruning: kept ${keep.size} of " +
      s"${snap.files.size}")
    val got = spark.sql(
      s"SELECT v FROM txsql.$t WHERE lang = 'en' AND id = 1")
      .as[String].collect().toSeq
    assert(got == Seq("a"),
      "partition + stats double pruning must leave the skipped files unopened")
    // row-level ops respect partition pruning too: DELETE in one
    // partition must not touch (deleted!) files of the other
    val t2 = freshName()
    spark.sql(s"CREATE TABLE txsql.$t2 (id BIGINT, lang STRING) " +
      s"PARTITIONED BY (lang)")
    spark.sql(s"INSERT INTO txsql.$t2 VALUES (1, 'en'), (2, 'de')")
    val s2 = TxLog.snapshot(s"$wh/$t2")
    val deFile = s2.files.find(f =>
      s2.stats(f).part("lang") == "de").get
    Files.delete(java.nio.file.Paths.get(deFile))
    spark.sql(s"DELETE FROM txsql.$t2 WHERE lang = 'en'")
    assert(spark.sql(s"SELECT count(*) FROM txsql.$t2 WHERE lang = 'en'")
      .head().getLong(0) == 0L)
    // …and a row-level REWRITE keeps the tuples: the replace write
    // re-stages through the spec-aware path, so the rewritten file
    // still carries its partition value (prunable forever after)
    val t3 = freshName()
    spark.sql(s"CREATE TABLE txsql.$t3 (id BIGINT, lang STRING) " +
      s"PARTITIONED BY (lang)")
    spark.sql(s"INSERT INTO txsql.$t3 VALUES (1, 'en'), (2, 'en'), (3, 'de')")
    spark.sql(s"UPDATE txsql.$t3 SET id = 99 WHERE id = 1")
    val s3 = TxLog.snapshot(s"$wh/$t3")
    assert(s3.files.forall(f => s3.stats(f).part.get("lang").nonEmpty),
      "every post-UPDATE file must still carry its partition tuple")
    assert(spark.sql(s"SELECT sum(id) FROM txsql.$t3 WHERE lang = 'en'")
      .head().getLong(0) == 101L)
  }

  test("file skipping on the DSv2 read path: pruned file is never opened") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    TxLog.append(spark, s"$wh/$t",
      Seq(1L -> "a", 10L -> "b").toDF("id", "v").coalesce(1))
    TxLog.append(spark, s"$wh/$t",
      Seq(100L -> "x", 110L -> "y").toDF("id", "v").coalesce(1))
    // delete the first file's bytes: a stats-pruned read can't notice
    val snap = TxLog.snapshot(s"$wh/$t")
    val lowFile = snap.files.find(f =>
      snap.stats(f).cols("id") == TxLog.ColStats(1L, 10L)).get
    Files.delete(java.nio.file.Paths.get(lowFile))
    assert(spark.sql(s"SELECT id, v FROM txsql.$t WHERE id >= 100")
      .as[(Long, String)].collect().toSet == Set(100L -> "x", 110L -> "y"),
      "the id<100 file must be skipped from log stats (it no longer exists)")
  }

  test("ALTER TABLE ADD COLUMNS: schema-only commit, old files read null") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO txsql.$t VALUES (1, 'a')")
    val vBefore = TxLog.currentVersion(s"$wh/$t")
    spark.sql(s"ALTER TABLE txsql.$t ADD COLUMNS (extra BIGINT)")
    assert(TxLog.currentVersion(s"$wh/$t") == vBefore + 1,
      "ALTER is one schema-only commit")
    spark.sql(s"REFRESH TABLE txsql.$t")
    spark.sql(s"INSERT INTO txsql.$t VALUES (2, 'b', 7)")
    assert(spark.sql(s"SELECT id, v, extra FROM txsql.$t")
      .as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))),
      "pre-ALTER files read the added column as null")
    // retype keeps a loud refusal (Spark's analysis rejects the
    // unsupported type change before the catalog even sees it;
    // RENAME/DROP are metadata-only since round 14)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE txsql.$t ALTER COLUMN v TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("requires overwrite"), e.getMessage)
  }

  test("ALTER TABLE RENAME COLUMN / DROP COLUMN: metadata-only, " +
       "pre-rename files keep serving (round-13 VERDICT task 3)") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO txsql.$t VALUES (1, 'a'), (2, 'b')")
    val filesBefore = TxLog.snapshot(s"$wh/$t").files.toSet
    spark.sql(s"ALTER TABLE txsql.$t RENAME COLUMN v TO label")
    spark.sql(s"REFRESH TABLE txsql.$t")
    assert(TxLog.snapshot(s"$wh/$t").files.toSet == filesBefore,
      "RENAME COLUMN must move zero data")
    assert(spark.sql(s"SELECT id, label FROM txsql.$t")
      .as[(Long, String)].collect().toSet == Set(1L -> "a", 2L -> "b"),
      "pre-rename files serve under the new name")
    // filter pushdown on the renamed column stays correct
    assert(spark.sql(s"SELECT id FROM txsql.$t WHERE label = 'b'")
      .as[Long].collect().toSeq == Seq(2L))
    // DML under the new schema: INSERT + a MERGE join on the table
    spark.sql(s"INSERT INTO txsql.$t VALUES (3, 'c')")
    spark.sql(
      s"""MERGE INTO txsql.$t x USING (SELECT 2L AS id, 'B' AS label) s
         |ON x.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(spark.sql(s"SELECT id, label FROM txsql.$t")
      .as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "B", 3L -> "c"))
    // time travel to before the rename shows the old name
    assert(spark.sql(s"SELECT * FROM txsql.$t VERSION AS OF 2")
      .columns.toSeq == Seq("id", "v"))
    // DROP COLUMN: metadata-only; the data disappears from reads
    spark.sql(s"ALTER TABLE txsql.$t DROP COLUMN label")
    spark.sql(s"REFRESH TABLE txsql.$t")
    assert(spark.sql(s"SELECT * FROM txsql.$t").columns.toSeq == Seq("id"))
    assert(spark.sql(s"SELECT * FROM txsql.$t").count() == 3)
  }

  test("runtime key-set pruner: per key up to 4,096 IN values, by span " +
       "above, conservative otherwise") {
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import graft.sources.TxLogV2Util
    def in(vs: Any*): Predicate = new Predicate("IN",
      (Expressions.column("id") +: vs.map(v => Expressions.literal(v): Expression))
        .toArray)
    // id ranges [0, 9], [100, 109], [200, 209], [10000, 10009], and a
    // file with no id stats
    val files = Seq(0L, 100L, 200L, 10000L).map(lo => Some(TxLog.FileStats(
      10, Map("id" -> TxLog.ColStats(lo, lo + 9))))) :+
      Some(TxLog.FileStats(10, Map.empty))
    def admitted(p: Predicate): Seq[Int] = {
      val prune = TxLogV2Util.compileRuntimePruner(p)
      files.indices.filter(i => prune(files(i)))
    }
    assert(admitted(in(5L, 205L)) == Seq(0, 2, 4))
    // 4,096 values, none in [100, 109]: per key drops that file
    val few = (0L until 100L) ++ (110L until 4106L)
    assert(few.size == 4096)
    assert(admitted(in(few: _*)) == Seq(0, 2, 4))
    // one more value: the span [0, 4106] admits a superset
    val spanned = admitted(in(few :+ 4106L: _*))
    assert(spanned == Seq(0, 1, 2, 4))
    assert(Seq(0, 2, 4).forall(spanned.contains))
    // an empty IN matches no row: every file goes, statless ones too
    assert(admitted(in()) == Nil)
    // a null or unmappable literal admits every file
    assert(admitted(in(5L, null)) == files.indices)
    assert(admitted(in(true)) == files.indices)
    // any other predicate admits everything
    assert(admitted(new Predicate("=", Array[Expression](
      Expressions.column("id"), Expressions.literal(5L)))) == files.indices)
  }

  test("TRUNCATE TABLE: one commit, schema survives, history travels") {
    val t = freshName()
    spark.sql(s"CREATE TABLE txsql.$t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO txsql.$t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"TRUNCATE TABLE txsql.$t")
    spark.sql(s"REFRESH TABLE txsql.$t")
    assert(spark.sql(s"SELECT * FROM txsql.$t").count() == 0)
    // schema survived: an insert with the old shape still works
    spark.sql(s"INSERT INTO txsql.$t VALUES (9, 'z')")
    assert(rows(t) == Set(9L -> "z"))
    // pre-truncate content stays time-travelable
    assert(spark.sql(s"SELECT id, v FROM txsql.$t VERSION AS OF 2")
      .as[(Long, String)].collect().toSet == Set(1L -> "a", 2L -> "b"))
    // and the change feed saw the truncate as deletes
    val feed = TxLog.readChangeFeed(spark, s"$wh/$t", 2L, Some(3L))
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set(1L -> "delete", 2L -> "delete"),
      s"truncate must feed as row deletes: $feed")
  }
}
