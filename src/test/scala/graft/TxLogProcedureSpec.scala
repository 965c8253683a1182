package graft

import graft.sources.{TxLog, TxLogCatalog}

/** SQL `CALL` maintenance procedures over txlog tables (round-12):
  * compact / vacuum / restore / history / sync through Spark's DSv2
  * ProcedureCatalog, each checked against its library twin. Named
  * arguments and declared defaults are exercised on purpose — they
  * are the production spelling.
  */
class TxLogProcedureSpec extends SparkSuite {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = tempDir("graft_txproc_wh").toString
    spark.conf.set("spark.sql.catalog.txp", classOf[TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.txp.warehouse", dir)
    dir
  }

  private var n = 0
  private def fresh(rows: Seq[(Long, String)]*): String = {
    wh; n += 1; val t = s"t$n"
    spark.sql(s"CREATE TABLE txp.$t (id BIGINT, v STRING)")
    rows.foreach(batch =>
      TxLog.append(spark, s"$wh/$t", batch.toDF("id", "v").coalesce(1)))
    t
  }

  test("CALL compact bin-packs and reports the file collapse") {
    val t = fresh(Seq(1L -> "a"), Seq(2L -> "b"), Seq(3L -> "c"))
    val r = spark.sql(
      s"CALL txp.system.compact(table => '$t')").collect()
    assert(r.length == 1)
    val (v, before, after) = (r(0).getLong(0), r(0).getInt(1), r(0).getInt(2))
    assert(before == 3 && after == 1,
      s"3 one-row files bin-pack to 1, got $before -> $after")
    assert(v == TxLog.currentVersion(s"$wh/$t"))
    assert(spark.sql(s"SELECT id FROM txp.$t").as[Long].collect().toSet
      == Set(1L, 2L, 3L), "compaction is content-neutral")
  }

  test("CALL compact(cluster_by) range-clusters like the library twin") {
    val t = fresh(Seq(5L -> "e", 1L -> "a"), Seq(3L -> "c", 7L -> "g"))
    spark.sql(s"CALL txp.system.compact(table => '$t', " +
      s"target_files => 2, cluster_by => 'id')")
    val snap = TxLog.snapshot(s"$wh/$t")
    assert(snap.files.size == 2)
    // clustered files carry disjoint id ranges — the reason compaction
    // exists: stats that prune instead of merely existing
    val ranges = snap.files.map { f =>
      val cs = snap.stats(f).colRange("id").get
      (cs.min.asInstanceOf[Long], cs.max.asInstanceOf[Long])
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"clustered ranges must be disjoint: $ranges")
  }

  test("CALL compact rejects cluster_by together with zorder_by") {
    val t = fresh(Seq(1L -> "a"))
    val e = intercept[Exception] {
      spark.sql(s"CALL txp.system.compact(table => '$t', " +
        s"cluster_by => 'id', zorder_by => 'id,v')").collect()
    }
    assert(e.getMessage.contains("not both"))
  }

  test("CALL vacuum deletes exactly the unreferenced files") {
    val t = fresh(Seq(1L -> "a"), Seq(2L -> "b"))
    spark.sql(s"CALL txp.system.compact(table => '$t')")
    val dead = spark.sql(s"CALL txp.system.vacuum(table => '$t')")
      .as[String].collect()
    assert(dead.length == 2,
      s"the two pre-compact files are unreferenced at retain 0: $dead")
    assert(spark.sql(s"SELECT count(*) FROM txp.$t").as[Long].head() == 2L,
      "vacuum never touches live files")
  }

  test("CALL vacuum refuses while a registered reader lags; proceeds " +
       "after it advances (retention handshake, round-13 VERDICT #4)") {
    val t = fresh(Seq(1L -> "a"), Seq(2L -> "b"), Seq(3L -> "c"))
    val path = s"$wh/$t"
    // a reader registered at v1 still needs the files of (1, cur] —
    // compact de-references them, so a retain-0 vacuum would delete
    // them out from under it
    TxLog.registerReader(path, "sink1", 1L)
    spark.sql(s"CALL txp.system.compact(table => '$t')")
    val refused = intercept[Exception] {
      spark.sql(s"CALL txp.system.vacuum(table => '$t')").collect()
    }
    def rootMsg(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    assert(rootMsg(refused).contains("sink1@v1"),
      s"the refusal must name the lagging reader: ${rootMsg(refused)}")
    // the reader catches up: vacuum proceeds and reclaims the
    // pre-compact files
    TxLog.registerReader(path, "sink1", TxLog.currentVersion(path))
    val dead = spark.sql(s"CALL txp.system.vacuum(table => '$t')")
      .as[String].collect()
    assert(dead.length == 3,
      s"the three pre-compact files reclaim once the reader is caught " +
      s"up: ${dead.toSeq}")
    assert(spark.sql(s"SELECT count(*) FROM txp.$t").as[Long].head() == 3L)
    // explicit override for a decommissioned reader
    val t2 = fresh(Seq(1L -> "a"), Seq(2L -> "b"))
    TxLog.registerReader(s"$wh/$t2", "dead-sink", 1L)
    spark.sql(s"CALL txp.system.compact(table => '$t2')")
    val forced = spark.sql(s"CALL txp.system.vacuum(table => '$t2', " +
      s"respect_readers => false)").as[String].collect()
    assert(forced.length == 2,
      "respect_readers => false must override the handshake")
  }

  test("CALL restore rolls back as a new commit; history tells the tale") {
    val t = fresh(Seq(1L -> "a"))
    TxLog.append(spark, s"$wh/$t", Seq(2L -> "b").toDF("id", "v"))
    val r = spark.sql(
      s"CALL txp.system.restore(table => '$t', version => 2)").collect()
    assert(r(0).getLong(0) == 2L && r(0).getLong(1) == 4L,
      "restore to v2 commits as v4 (create + 2 appends + restore)")
    spark.sql(s"REFRESH TABLE txp.$t")
    assert(spark.sql(s"SELECT id FROM txp.$t").as[Long].collect().toSet
      == Set(1L))
    val hist = spark.sql(s"CALL txp.system.history(table => '$t')")
    assert(hist.columns.toSeq == Seq("version", "operation",
      "read_version", "files_added", "files_removed", "commit_time"))
    val ops = hist.select("version", "operation")
      .as[(Long, String)].collect().toSeq
    assert(ops.head._1 == 4L && ops.map(_._2).take(4) ==
      Seq("restore", "append", "append", "create"),
      s"newest-first history: $ops")
  }

  test("CALL sync is the exactly-once bronze->silver micro-batch") {
    val src = fresh(Seq(1L -> "a"), Seq(2L -> "b"))
    val dst = fresh()
    def call(): Long = spark.sql(s"CALL txp.system.sync(" +
      s"src => '$src', dst => '$dst', writer_id => 'w1')")
      .as[Long].head()
    assert(call() > 0L, "first sync consumes the backlog")
    assert(spark.sql(s"SELECT id FROM txp.$dst").as[Long].collect().toSet
      == Set(1L, 2L))
    assert(call() == 0L, "replayed sync is a no-op (exactly-once)")
  }

  test("unknown procedures fail loudly, listing what exists") {
    wh
    val e = intercept[Exception] {
      spark.sql("CALL txp.system.nosuch(table => 't')").collect()
    }
    // Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE;
    // our listing travels in the cause
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("FAILED_TO_LOAD_ROUTINE") &&
      msgs.contains("PROCEDURE_NOT_FOUND") &&
      msgs.contains("system.compact"), msgs)
  }
}
