package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sources.TxLog

/** The TxLog STREAMING SOURCE (`readStream.format("txlog")`) — the
  * table-as-a-queue half of the lakehouse loop (the sink half,
  * appendOnce, is pinned in TxLogSpec/SinkSpec): offsets are table
  * versions, each trigger reads exactly the files appended since the
  * last offset, restarts replay identical version ranges from the
  * checkpoint (exactly-once), compactions are silent, rewrites fail
  * the query loudly, and `startingVersion` skips the backlog.
  */
class TxLogStreamSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_txstream").toAbsolutePath.toString

  private def mk(pairs: (Long, String)*): DataFrame = pairs.toDF("id", "v")

  test("each append commit becomes a micro-batch; restart is exactly-once") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txstream_ckpt").toString
    TxLog.append(spark, t, mk(1L -> "a"))

    // (batchId, rows) pairs observed across both query incarnations
    val seen = mutable.ArrayBuffer.empty[(Long, Set[(Long, String)])]
    def start() = spark.readStream.format("txlog").option("path", t).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.select("id", "v").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        seen.synchronized { seen += id -> rows }; ()
      }.start()

    val q1 = start()
    q1.processAllAvailable()
    assert(seen.synchronized(seen.flatMap(_._2).toSet) == Set(1L -> "a"),
      "the backlog (startingVersion default 0) is the first batch")
    TxLog.append(spark, t, mk(2L -> "b"))
    q1.processAllAvailable()
    assert(seen.synchronized(seen.flatMap(_._2).toSet) ==
      Set(1L -> "a", 2L -> "b"))
    q1.stop()

    // two commits while the query is down land in ONE catch-up batch,
    // and nothing already committed is re-emitted after the restart
    TxLog.append(spark, t, mk(3L -> "c"))
    TxLog.append(spark, t, mk(4L -> "d"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val all = seen.synchronized(seen.toVector)
    val rows = all.flatMap(_._2)
    assert(rows.toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(rows.size == rows.toSet.size,
      s"no row may be emitted twice across the restart: $all")
  }

  test("compaction mid-stream is silent; an upsert fails the query loudly") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    TxLog.append(spark, t, mk(2L -> "b"))
    val seen = mutable.Set.empty[(Long, String)]
    val q = spark.readStream.format("txlog").option("path", t).load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("id", "v").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        seen.synchronized { seen ++= rows }; ()
      }.start()
    q.processAllAvailable()
    assert(seen.synchronized(seen.toSet) == Set(1L -> "a", 2L -> "b"))
    // a compaction advances the version but emits nothing (its files
    // are content-neutral rewrites)
    TxLog.compact(spark, t)
    q.processAllAvailable()
    assert(seen.synchronized(seen.toSet) == Set(1L -> "a", 2L -> "b"),
      "compaction must not re-emit rows through the stream")
    // an upsert cannot be represented as appends: the query must FAIL
    // (never silently drop or duplicate), the streaming-source rule
    TxLog.upsert(spark, t, mk(1L -> "A2"), "id")
    intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(30000)
    }
    assert(!q.isActive)
  }

  test("maxVersionsPerTrigger bounds backlog catch-up batches " +
       "(plain and CDC sources), content exact") {
    val t = freshTable()
    (1 to 5).foreach(i => TxLog.append(spark, t, mk(i.toLong -> s"r$i")))
    // plain source: 5 one-row commits, cap 2 versions/trigger
    val plainBatches = mutable.ArrayBuffer.empty[Set[Long]]
    val q1 = spark.readStream.format("txlog").option("path", t)
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0)).toSet
        plainBatches.synchronized { plainBatches += ids }; ()
      }.start()
    q1.processAllAvailable(); q1.stop()
    plainBatches.synchronized {
      assert(plainBatches.flatten.toSet == (1L to 5L).toSet,
        s"capped catch-up must still deliver everything: $plainBatches")
      assert(plainBatches.forall(_.size <= 2),
        s"a batch spanned more than maxVersionsPerTrigger commits: " +
        s"$plainBatches")
      assert(plainBatches.count(_.nonEmpty) >= 3,
        s"5 versions at cap 2 need >= 3 batches: $plainBatches")
    }
    // CDC source: same capping on the change feed
    val cdcBatches = mutable.ArrayBuffer.empty[Set[Long]]
    val q2 = spark.readStream.format("txlog").option("path", t)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        val vs = df.select("_commit_version").collect()
          .map(_.getLong(0)).toSet
        cdcBatches.synchronized { cdcBatches += vs }; ()
      }.start()
    q2.processAllAvailable(); q2.stop()
    cdcBatches.synchronized {
      assert(cdcBatches.flatten.toSet == (1L to 5L).toSet)
      assert(cdcBatches.forall(_.size <= 2),
        s"a CDC batch spanned more than 2 commit versions: $cdcBatches")
    }
  }

  test("maxBytesPerTrigger splits a fat backlog on the byte budget; " +
       "a single over-budget commit still drains whole") {
    val t = freshTable()
    // 5 commits of ~equal size; measure one commit's logged bytes and
    // budget ~2 commits per trigger
    (1 to 5).foreach(i => TxLog.append(spark, t,
      mk((1 to 50).map(j => (i * 100L + j) -> s"row$i-$j"): _*)
        .coalesce(1)))
    val perCommit = TxLog.snapshot(t).stats.values.map(_.bytes).min
    assert(perCommit > 0, "add lines must carry logged byte sizes")
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("txlog").option("path", t)
      .option("maxBytesPerTrigger", (perCommit * 2).toString).load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0)).toSet
        batches.synchronized { batches += ids }; ()
      }.start()
    q.processAllAvailable(); q.stop()
    batches.synchronized {
      val nonEmpty = batches.filter(_.nonEmpty)
      assert(nonEmpty.flatten.toSet.size == 250,
        s"byte-capped catch-up must still deliver everything: " +
        s"${nonEmpty.map(_.size)}")
      assert(nonEmpty.forall(_.size <= 100),
        s"a batch exceeded the ~2-commit byte budget: " +
        s"${nonEmpty.map(_.size)}")
      assert(nonEmpty.size >= 3,
        s"5 commits at a 2-commit byte budget need >= 3 batches: " +
        s"${nonEmpty.map(_.size)}")
    }
    // a commit bigger than the whole budget is still taken, whole —
    // commits are the atomic replay unit (never a stuck stream)
    val t2 = freshTable()
    TxLog.append(spark, t2,
      mk((1 to 100).map(j => j.toLong -> s"fat$j"): _*).coalesce(1))
    val fatSeen = mutable.Set.empty[Long]
    val q2 = spark.readStream.format("txlog").option("path", t2)
      .option("maxBytesPerTrigger", "1").load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        fatSeen.synchronized { fatSeen ++= ids }; ()
      }.start()
    q2.processAllAvailable(); q2.stop()
    assert(fatSeen.synchronized(fatSeen.toSet) == (1L to 100L).toSet,
      "an over-budget commit must drain whole, not wedge the stream")
  }

  test("restart from checkpoint mid-backlog under maxVersionsPerTrigger " +
       "re-emits no version (round-13 ADVICE)") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txstream_cap_ckpt").toString
    (1 to 6).foreach(i => TxLog.append(spark, t, mk(i.toLong -> s"r$i")))
    val seen = mutable.ArrayBuffer.empty[Long]
    def start(one: Boolean) = {
      val w = spark.readStream.format("txlog").option("path", t)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0))
          seen.synchronized { seen ++= ids }; ()
        }
      // Trigger.Once = exactly one micro-batch: with the cap that is
      // versions 1-2, DETERMINISTICALLY leaving a mid-walk remainder
      (if (one) w.trigger(
        org.apache.spark.sql.streaming.Trigger.Once()) else w).start()
    }
    val q1 = start(one = true)
    q1.awaitTermination(60000)
    val afterStop = seen.synchronized(seen.toVector)
    assert(afterStop.toSet == Set(1L, 2L),
      s"one capped batch is exactly versions 1-2: $afterStop")
    // restart against the remaining backlog: the committed offset
    // re-seeds the walk (getBatch replay), so no version re-emits
    val q2 = start(one = false)
    q2.processAllAvailable(); q2.stop()
    val all = seen.synchronized(seen.toVector)
    assert(all.toSet == (1L to 6L).map(identity).toSet,
      s"the full backlog must eventually drain: $all")
    assert(all.size == all.toSet.size,
      s"no version may be re-emitted across the restart: $all")
  }

  test("readerId auto-registers the stream's consumed offset without " +
       "self-feeding the trigger loop") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    TxLog.append(spark, t, mk(2L -> "b"))
    val q = spark.readStream.format("txlog").option("path", t)
      .option("readerId", "hwm-stream").load()
      .writeStream.foreachBatch { (_: DataFrame, _: Long) => () }.start()
    q.processAllAvailable()
    // a second data batch forces the engine through the commit/
    // getBatch callbacks for the first one (source commit lags one
    // batch by engine design)
    TxLog.append(spark, t, mk(3L -> "c"))
    q.processAllAvailable()
    q.processAllAvailable()
    val v1 = TxLog.currentVersion(t)
    val hwm1 = TxLog.readerHwms(t, v1).getOrElse("hwm-stream", 0L)
    assert(hwm1 >= 2L,
      s"the drained backlog must be registered (hwm $hwm1 at v$v1)")
    // LIVELOCK pin: registration commits are content-neutral, so with
    // no new data the version must stop advancing
    q.processAllAvailable()
    q.processAllAvailable()
    q.processAllAvailable()
    val v2 = TxLog.currentVersion(t)
    assert(v2 == v1,
      s"registration must not self-feed the trigger loop (v$v1 -> v$v2)")
    // SAFETY pin: the registered floor never claims unconsumed data —
    // every version > hwm is either unconsumed-yet or content-neutral,
    // so (hwm, cur] never contains data the query hasn't processed;
    // here the query is fully drained, so hwm may lag (conservative)
    // but never exceed the newest version
    assert(TxLog.readerHwms(t, v2)("hwm-stream") <= v2)
    q.stop()
    // and the floor actually guards: vacuum at retain 0 refuses while
    // the mark lags a post-stop rewrite, proceeds once re-registered
    TxLog.append(spark, t, mk(4L -> "d"))
    TxLog.compact(spark, t)
    val ex = intercept[IllegalArgumentException] { TxLog.vacuum(t) }
    assert(ex.getMessage.contains("hwm-stream"),
      s"vacuum must name the lagging stream reader: ${ex.getMessage}")
    TxLog.registerReader(t, "hwm-stream", TxLog.currentVersion(t))
    assert(TxLog.vacuum(t).nonEmpty,
      "vacuum proceeds once the reader is caught up")
  }

  test("a mid-stream RENAME fails a CDC stream loudly instead of " +
       "silently nulling the pinned column") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "a"))
    val q = spark.readStream.format("txlog").option("path", t)
      .option("readChangeFeed", "true").load()
      .writeStream.foreachBatch { (_: DataFrame, _: Long) => () }.start()
    q.processAllAvailable()
    TxLog.renameColumn(t, "v", "label")
    TxLog.append(spark, t, Seq(2L -> "b").toDF("id", "label"))
    val e = intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(30000)
    }
    def root(x: Throwable): Throwable =
      if (x.getCause == null) x else root(x.getCause)
    assert(root(e).getMessage.contains("restart the CDC stream"),
      root(e).getMessage)
    assert(!q.isActive)
  }

  test("a mid-stream RENAME or DROP fails a plain stream loudly instead " +
       "of silently nulling the pinned column") {
    def root(x: Throwable): Throwable =
      if (x.getCause == null) x else root(x.getCause)
    Seq[(String, String => Unit)](
      "rename" -> (t => {
        TxLog.renameColumn(t, "v", "label")
        TxLog.append(spark, t, Seq(2L -> "b").toDF("id", "label"))
      }),
      "drop" -> (t => {
        TxLog.dropColumn(t, "v")
        TxLog.append(spark, t, Seq(2L).toDF("id"))
      })).foreach { case (what, evolve) =>
      val t = freshTable()
      TxLog.append(spark, t, mk(1L -> "a"))
      val seen = mutable.ArrayBuffer.empty[(Long, String)]
      val q = spark.readStream.format("txlog").option("path", t).load()
        .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getString(1)))
          seen.synchronized { seen ++= rows }; ()
        }.start()
      q.processAllAvailable()
      evolve(t)
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(30000)
      }
      assert(root(e).getMessage.contains("restart the stream"),
        s"$what: ${root(e).getMessage}")
      assert(!q.isActive)
      assert(seen.synchronized(seen.toList) == List(1L -> "a"),
        s"$what: no batch after the $what may be emitted")
    }
  }

  test("startingVersion skips the backlog; schema comes from the log") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "backlog"))
    TxLog.append(spark, t, mk(2L -> "backlog"))
    // startingVersion is INCLUSIVE (the Delta spelling): to skip the
    // whole backlog, start at the version AFTER the current one
    val cur = TxLog.currentVersion(t)
    val src = spark.readStream.format("txlog").option("path", t)
      .option("startingVersion", (cur + 1).toString).load()
    assert(src.schema.fieldNames.toSeq == Seq("id", "v"),
      "streaming schema must come from the table log")
    val seen = mutable.Set.empty[(Long, String)]
    val q = src.writeStream.foreachBatch { (df: DataFrame, _: Long) =>
      val rows = df.select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      seen.synchronized { seen ++= rows }; ()
    }.start()
    q.processAllAvailable()
    assert(seen.synchronized(seen.isEmpty),
      "nothing before the inclusive startingVersion may be emitted")
    TxLog.append(spark, t, mk(3L -> "live"))
    q.processAllAvailable()
    q.stop()
    assert(seen.synchronized(seen.toSet) == Set(3L -> "live"))
  }

  test("exactly-once table-to-table: txlog stream into an appendOnce sink") {
    val src = freshTable(); val dst = freshTable()
    val ckpt = Files.createTempDirectory("graft_txstream_e2e").toString
    TxLog.append(spark, src, mk(1L -> "a"))
    def start() = spark.readStream.format("txlog").option("path", src).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        TxLog.appendOnce(spark, dst, df, "pipe", id); ()
      }.start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // replay the committed epoch by hand (the post-crash call), then
    // resume with new upstream data
    TxLog.appendOnce(spark, dst, mk(1L -> "a"), "pipe", 0L)
    TxLog.append(spark, src, mk(2L -> "b"))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = TxLog.read(spark, dst).select("id", "v")
      .as[(Long, String)].collect().toSeq
    assert(got.sorted == Seq(1L -> "a", 2L -> "b"),
      s"exactly-once on both edges must yield each row once: $got")
  }

  test("native sink: writeStream.format(\"txlog\") is exactly-once across restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txsink_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDF.toDF("id", "v").writeStream.format("txlog")
      .option("path", t).option("checkpointLocation", ckpt).start()
    val q1 = start()
    mem.addData((1L, "a"), (2L, "b"))
    q1.processAllAvailable(); q1.stop()
    assert(TxLog.read(spark, t).count() == 2)
    // replay the committed epoch by hand (the post-crash call a
    // restart makes before its checkpoint catches up): writerId is
    // checkpoint-derived, so the replay must hit the SAME txn line
    val writerId = "ckpt-" + java.util.UUID.nameUUIDFromBytes(
      ckpt.getBytes("UTF-8")).toString
    TxLog.appendOnce(spark, t,
      Seq(1L -> "a", 2L -> "b").toDF("id", "v"), writerId, 0L)
    val q2 = start()
    mem.addData((3L, "c"))
    q2.processAllAvailable(); q2.stop()
    val got = TxLog.read(spark, t).select("id", "v")
      .as[(Long, String)].collect().toSeq
    assert(got.sorted == Seq(1L -> "a", 2L -> "b", 3L -> "c"),
      s"a replayed micro-batch must not duplicate rows: $got")
    // mis-use fails loudly: no checkpoint/writerId, wrong output mode
    intercept[IllegalArgumentException] {
      mem.toDF.toDF("id", "v").writeStream.format("txlog")
        .option("path", t).start()
    }
    intercept[Exception] {
      mem.toDF.toDF("id", "v").groupBy($"id").count().writeStream
        .format("txlog").option("path", t)
        .outputMode("complete")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_txsink_bad").toString).start()
    }
  }

  test("sink writerId is path-normalized: a respelled checkpoint keeps identity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txsink_norm").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("id", "v").writeStream.format("txlog")
      .option("path", t).option("checkpointLocation", ckpt).start()
    mem.addData((1L, "a"))
    q.processAllAvailable(); q.stop()
    assert(TxLog.read(spark, t).count() == 1)
    // replay epoch 0 under a DIFFERENT spelling of the same checkpoint
    // path — the derived writer identity must match the original's,
    // so the replay is a no-op instead of a duplicate
    val respelled = ckpt + "/."
    val altId = "ckpt-" + java.util.UUID.nameUUIDFromBytes(
      java.nio.file.Paths.get(respelled).toAbsolutePath.normalize
        .toString.getBytes("UTF-8")).toString
    TxLog.appendOnce(spark, t, Seq(1L -> "a").toDF("id", "v"), altId, 0L)
    assert(TxLog.read(spark, t).count() == 1,
      "a respelled checkpoint path must not change the sink's identity")
    // round-12 ADVICE fix: a file: URI spelling of the same checkpoint
    // must also derive the same identity. Start a REAL sink under the
    // URI spelling and replay the committed epoch through it (the
    // post-crash call): if the scheme weren't stripped, this writer
    // would dodge the original txn line and duplicate epoch 0.
    val mem2 = MemoryStream[(Long, String)]
    val uriCkpt = java.nio.file.Paths.get(ckpt).toUri.toString
    assert(uriCkpt.startsWith("file:"))
    val q2 = mem2.toDF.toDF("id", "v").writeStream.format("txlog")
      .option("path", t).option("checkpointLocation", uriCkpt).start()
    // same checkpoint + same source state: Spark finds batch 0
    // committed and emits nothing new; the writer-identity claim is
    // then pinned directly against the sink's own derivation
    q2.processAllAvailable(); q2.stop()
    val uriId = "ckpt-" + java.util.UUID.nameUUIDFromBytes(
      java.nio.file.Paths.get(new java.net.URI(uriCkpt)).toString
        .getBytes("UTF-8")).toString
    TxLog.appendOnce(spark, t, Seq(1L -> "a").toDF("id", "v"), uriId, 0L)
    assert(TxLog.read(spark, t).count() == 1,
      "a file: URI respelling of the checkpoint must derive the same " +
      "writer identity (replay deduped)")
  }

  test("partitioned streaming sink: partitionBy declares the spec, files are tagged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txsink_part").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("id", "lang").writeStream.format("txlog")
      .partitionBy("lang")
      .option("path", t).option("checkpointLocation", ckpt).start()
    mem.addData((1L, "en"), (2L, "de"), (3L, "en"))
    q.processAllAvailable(); q.stop()
    assert(TxLog.partitionSpec(t, TxLog.currentVersion(t)) == Seq("lang"),
      "the stream writer's partitionBy must declare the table spec")
    val snap = TxLog.snapshot(t)
    assert(snap.files.map(f => snap.stats(f).part("lang")).toSet ==
      Set("en", "de"), "each micro-batch file carries its tuple")
    assert(TxLog.read(spark, t).count() == 3)
    // a later batch without partitionBy (e.g. a differently-spelled
    // restart) still partitions — the spec is read from the log
    TxLog.appendOnce(spark, t,
      Seq(4L -> "fr").toDF("id", "lang"), "other-writer", 0L)
    val s2 = TxLog.snapshot(t)
    assert(s2.files.map(f => s2.stats(f).part.get("lang")).flatten.toSet ==
      Set("en", "de", "fr"))
  }

  test("vacuum outrunning a lagging reader fails loudly, naming the cause") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txvac_ckpt").toString
    TxLog.append(spark, t, mk(1L -> "a"))
    val seen = mutable.Set.empty[Long]
    def start() = spark.readStream.format("txlog").option("path", t).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        seen.synchronized { seen ++= df.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(seen.synchronized(seen.toSet) == Set(1L))
    // while the reader is DOWN at offset v1: append v2, compact v3
    // (the v2 file becomes unreferenced by the live version), vacuum
    // with zero retention — the v2 file the reader still needs dies
    TxLog.append(spark, t, mk(2L -> "b"))
    TxLog.compact(spark, t)
    TxLog.vacuum(t, retainVersions = 0)
    val q2 = start()
    val e = intercept[StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("vacuum"),
      s"the failure must name vacuum retention as the cause: $msg")
  }

  test("additively-evolved columns read as null through the stream") {
    val t = freshTable()
    TxLog.append(spark, t, mk(1L -> "old"))
    // evolve: new files carry an extra column; the STREAM schema is
    // pinned at query start from the CURRENT table schema
    TxLog.append(spark, t,
      Seq((2L, "new", 7L)).toDF("id", "v", "extra"))
    val src = spark.readStream.format("txlog").option("path", t).load()
    assert(src.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    val seen = mutable.Set.empty[(Long, String, Option[Long])]
    val q = src.writeStream.foreachBatch { (df: DataFrame, _: Long) =>
      val rows = df.select("id", "v", "extra").collect().map(r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      seen.synchronized { seen ++= rows }; ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(seen.synchronized(seen.toSet) ==
      Set((1L, "old", None), (2L, "new", Some(7L))),
      "pre-evolution files must read the new column as null")
  }

  test("CDC mode: rewrite commits stream as row-level change batches") {
    val t = freshTable()
    val ckpt = Files.createTempDirectory("graft_txcdc_ckpt").toString
    TxLog.append(spark, t, mk(1L -> "a", 2L -> "b"))

    val seen = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    def start() = spark.readStream.format("txlog").option("path", t)
      .option("readChangeFeed", "true").option("changeKey", "id").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("id", "v", "_change_type", "_commit_version")
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3)))
        seen.synchronized { seen ++= rows }; ()
      }.start()

    val q = start()
    q.processAllAvailable()
    assert(seen.synchronized(seen.toSet) == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L)),
      "the backlog streams as insert change rows")

    // an UPSERT — which fails the plain source loudly — flows as a
    // keyed update pair in CDC mode; that is the mode's reason to exist
    TxLog.upsert(spark, t, mk(2L -> "B"), "id")
    q.processAllAvailable()
    assert(seen.synchronized(seen.toSet) == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L)))
    q.stop()

    // restart replays nothing (exactly-once on the version offsets);
    // a DELETE while down arrives as one delete change row
    TxLog.delete(spark, t, Seq(Tuple1(1L)).toDF("id"), "id")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val all = seen.synchronized(seen.toVector)
    assert(all.size == all.toSet.size,
      s"no change row may be emitted twice across the restart: $all")
    assert(all.toSet.contains((1L, "a", "delete", 3L)))
  }
}
