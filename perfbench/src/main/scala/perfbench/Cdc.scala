package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TxLog

/** `txlog_cdc`: a TxLog source table takes a bootstrap append, then
  * alternating upsert and delete commits of [[Rows]] rows each (the
  * seed picks the ids and values), one after another from this thread,
  * for `--seconds`. A `readChangeFeed` stream replicates every change
  * batch into a second table through `TxLog.applyChanges`: it brings
  * the replica up, is stopped while the writer runs, then resumes from
  * its checkpoint and catches up. At the end the replica must equal the
  * source (`exceptAll` both ways).
  */
object Cdc {
  private case class Commit(kind: String, start: Double, end: Double,
      version: Long, rows: Int)
  private case class Applied(start: Double, end: Double, rows: Long,
      maxVersion: Long)

  /** The commit kinds the writer alternates. Each upsert also inserts
    * as many new ids as it updates, so the loop appends too; the pure
    * append path runs once, as the bootstrap commit. Kinds of similar
    * cost keep the latency percentiles from jumping between kinds.
    */
  private val Cycle = Seq("upsert", "delete")
  val Rows = 400

  /** Set-up names the tables; the returned part writes them. */
  def setUp(spark: SparkSession, o: Map[String, String]): () => Seq[(String, String)] = {
    val t = new Pair(spark, s"${o("work")}/cdc", Rows, new scala.util.Random(o("seed").toLong))
    () => timed(spark, t, o("seconds").toDouble)
  }

  private def timed(spark: SparkSession, t: Pair, seconds: Double): Seq[(String, String)] = {
    // cold: the bootstrap commit and one commit of each loop kind
    // reach a new replica (first use of every write and apply path).
    // Then the writer commits back to back with replication stopped,
    // so commit latency is the write path alone; then replication
    // resumes from its checkpoint and catches up with the loop
    val commits = mutable.ArrayBuffer[Commit]()
    var err = ""
    var bootApplied, loopEnd, caughtUp = Double.NaN
    var bootCommit: Commit = null
    try {
      bootCommit = t.step("append")
      val boot = t.replicate()
      try {
        Cycle.foreach(t.step)
        boot.processAllAvailable()
      } finally boot.stop()
      bootApplied = Clock.now()
      t.bootBytes = dirBytes(t.src)
      var i = 0
      while (Clock.now() - bootApplied < seconds * 1000) {
        commits += t.step(Cycle(i % Cycle.length)); i += 1
      }
      loopEnd = Clock.now()
      val q = t.replicate()
      try q.processAllAvailable() finally q.stop()
      caughtUp = Clock.now()
    } catch {
      case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    val ok = err.isEmpty && {
      val s = TxLog.read(spark, t.src); val r = TxLog.read(spark, t.rep)
      val same = s.exceptAll(r).isEmpty && r.exceptAll(s).isEmpty
      if (!same) err = "replica differs from source"
      same
    }
    val firstTimed = commits.headOption.map(_.version).getOrElse(Long.MaxValue)
    val filesAdded = TxLog.history(t.src).filter(_.version >= firstTimed).map(_.adds).sum
    Seq("boot_applied" -> Json.num(bootApplied),
      "loop_end" -> Json.num(loopEnd), "caught_up" -> Json.num(caughtUp),
      "rows_per_commit" -> Rows.toString, "files_added" -> filesAdded.toString,
      "boot_commit_ms" -> Json.num(Option(bootCommit).fold(Double.NaN)(c => c.end - c.start)),
      "bytes_written" -> (dirBytes(t.src) - t.bootBytes).toString,
      "ok" -> ok.toString, "err" -> Json.str(err),
      "commits" -> Json.arr(commits.map(c => Json.obj("kind" -> Json.str(c.kind),
        "start" -> Json.num(c.start), "end" -> Json.num(c.end),
        "version" -> c.version.toString, "rows" -> c.rows.toString))),
      "applied" -> Json.arr(t.applied.asScala.map(a => Json.obj(
        "start" -> Json.num(a.start), "end" -> Json.num(a.end),
        "rows" -> a.rows.toString, "max_version" -> a.maxVersion.toString))))
  }

  /** A source table, its replica, and the ids live in the source. */
  private class Pair(spark: SparkSession, dir: String, m: Int,
      rnd: scala.util.Random) {
    import spark.implicits._
    val src = s"$dir/source"; val rep = s"$dir/replica"
    val applied = new ConcurrentLinkedQueue[Applied]()
    private val live = mutable.ArrayBuffer[Long]()
    private var next = 0L
    private var tag = 0L
    var bootBytes = 0L

    private def pickLive(k: Int): Seq[Long] = {
      val idx = mutable.LinkedHashSet[Int]()
      while (idx.size < math.min(k, live.size)) idx += rnd.nextInt(live.size)
      idx.toSeq.map(live)
    }

    /** One source commit of `kind`, timed from the caller's side. */
    def step(kind: String): Commit = {
      tag += 1
      val t0 = Clock.now()
      val (v, n) = kind match {
        case "append" =>
          val ids = next until next + m
          next += m; live ++= ids
          (TxLog.append(spark, src, ids.map(i => (i, i * 2 + tag)).toDF("id", "v")), m)
        case "upsert" =>
          val fresh = next until next + m / 2
          val ids = pickLive(m / 2) ++ fresh
          next += m / 2; live ++= fresh
          (TxLog.upsert(spark, src, ids.map(i => (i, i * 2 + tag)).toDF("id", "v"), "id"),
            ids.size)
        case "delete" =>
          val ids = pickLive(m / 5)
          val gone = ids.toSet
          live.filterInPlace(i => !gone.contains(i))
          (TxLog.delete(spark, src, ids.toDF("id"), "id"), ids.size)
      }
      Commit(kind, t0, Clock.now(), v, n)
    }

    /** The change-feed stream applying every batch to the replica. */
    def replicate(): StreamingQuery =
      spark.readStream.format("txlog").option("path", src)
        .option("readChangeFeed", "true").option("changeKey", "id").load()
        .writeStream.option("checkpointLocation", s"$dir/checkpoint")
        .queryName("cdc_replicate")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val t0 = Clock.now()
          val b = df.persist()
          try {
            val r = b.agg(count(lit(1)), max(col("_commit_version"))).head()
            if (r.getLong(0) > 0) {
              TxLog.applyChanges(spark, rep, b, "id")
              applied.add(Applied(t0, Clock.now(), r.getLong(0), r.getLong(1)))
            }
          } finally b.unpersist()
          ()
        }.start()
  }

  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(f => java.nio.file.Files.size(f)).sum
  }
}
