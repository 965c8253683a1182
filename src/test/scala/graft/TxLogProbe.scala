package graft

import org.apache.spark.sql.SparkSession

import org.apache.spark.sql.functions.lit

import graft.sources.TxLog

/** One-shot TxLog measurement probe (run via `Test/runMain
  * graft.TxLogProbe`): commit throughput over many small transactions,
  * snapshot latency at log depth (the checkpoint-bounded replay
  * claim), and streaming-ingest rows/s through the exactly-once
  * foreachBatch sink. Numbers land in SCALING.md's round-9 section;
  * this main exists so they are reproducible, like ScaleProbeSf1.
  */
object TxLogProbe extends TempDirs {
  def main(args: Array[String]): Unit = {
    sys.addShutdownHook(deleteTempDirs())
    val spark = SparkSession.builder()
      .master("local[4]").appName("txlog-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // --- commit throughput + snapshot latency at depth -------------
    val t = tempDir("graft_txprobe")
      .toAbsolutePath.toString
    val commits = 200
    val t0 = System.nanoTime()
    (1 to commits).foreach(i =>
      TxLog.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "v")))
    val commitSec = (System.nanoTime() - t0) / 1e9
    val s0 = System.nanoTime()
    val snap = TxLog.snapshot(t)
    val snapMs = (System.nanoTime() - s0) / 1e6
    val f0 = System.nanoTime()
    val fullFiles = TxLog.changedFiles(t, 0L, snap.version)
    val fullMs = (System.nanoTime() - f0) / 1e6
    println(f"[txprobe] $commits%d commits in $commitSec%.1f s " +
      f"(${commits / commitSec}%.0f commits/s incl. parquet staging); " +
      f"snapshot(v=${snap.version}%d) = $snapMs%.1f ms " +
      f"(checkpoint replay, ${snap.files.size}%d files) vs " +
      f"full $commits%d-commit log walk $fullMs%.1f ms " +
      f"(${fullFiles.size}%d files)")

    // --- upsert locate: metadata-pruned vs full-scan ---------------
    // the 200-commit table above has 200 one-row files with disjoint
    // id stats — the worst case for a full-scan locate and the best
    // case for metadata pruning. A point update must cost O(1 file)
    // with stats, O(all files) without.
    val upd = Seq((42L, "updated")).toDF("id", "v")
    Seq(50, 200).foreach { depth =>
      val s50 = TxLog.snapshot(t, Some(depth.toLong))
      def timeMs(useStats: Boolean): (Double, Int) = {
        val t0 = System.nanoTime()
        val (cand, _) = TxLog.locateTouched(spark, s50, upd, "id", useStats)
        ((System.nanoTime() - t0) / 1e6, cand.size)
      }
      timeMs(true); // warm codegen/readers once at this depth
      val (withMs, candStats) = timeMs(true)
      val (withoutMs, candAll) = timeMs(false)
      println(f"[txprobe] locate@${depth}%d files: stats-pruned " +
        f"$withMs%.0f ms scanning $candStats%d file(s) vs full-scan " +
        f"$withoutMs%.0f ms scanning $candAll%d — locate cost is " +
        f"independent of table file count only with stats")
    }

    // --- read-path file skipping (round 11) -------------------------
    // the same 200-one-row-file table: a point SELECT through the
    // facade stats-skips 199 files before any open; the library read
    // (no skipping — full parquet listing) is the A/B. Dominated by
    // per-file open cost, exactly the term that grows with table size.
    def timeReadMs(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e6, n)
    }
    def facadeCount(): Long = spark.read.format("txlog").option("path", t)
      .load().filter($"id" === 42L).count()
    def libraryCount(): Long = TxLog.read(spark, t)
      .filter($"id" === 42L).count()
    timeReadMs(facadeCount()); timeReadMs(libraryCount()) // warm both
    val (skipMs, skipN) = timeReadMs(facadeCount())
    val (fullScanMs, fullN) = timeReadMs(libraryCount())
    println(f"[txprobe] point SELECT over ${snap.files.size}%d files: " +
      f"stats-skipping facade $skipMs%.0f ms vs full parquet read " +
      f"$fullScanMs%.0f ms (rows $skipN%d/$fullN%d) — skipping prunes " +
      f"files from METADATA before any open")

    // --- transactional merge (upsert) throughput --------------------
    // a 1 M-row table in 8 range-partitioned files; 10 micro-batches
    // of 10 k contiguous-key updates each. Stats pruning localizes
    // every batch to the ONE file whose range admits its keys, so the
    // per-batch cost is locate (metadata) + one ~125 k-row rewrite —
    // the merge-on-write cost class a CDC loop pays at any scale.
    val mt = tempDir("graft_txmergeprobe")
      .toAbsolutePath.toString
    val baseTbl = spark.range(0, 1000000L)
      .select($"id", ($"id" % 997).as("v"))
    TxLog.append(spark, mt, baseTbl.repartitionByRange(8, $"id"))
    val m0 = System.nanoTime()
    (0 until 10).foreach { bch =>
      val upd = spark.range(bch * 10000L, (bch + 1) * 10000L)
        .select($"id", lit(-1L).as("v"))
      TxLog.upsert(spark, mt, upd, "id")
    }
    val mergeSec = (System.nanoTime() - m0) / 1e9
    val negRows = TxLog.read(spark, mt).filter($"v" === -1L).count()
    println(f"[txprobe] transactional merge: 10 upsert batches x 10k " +
      f"rows over a 1M-row/8-file table in $mergeSec%.1f s " +
      f"(${100000 / mergeSec}%.0f change-rows/s merge-on-write, " +
      f"applied=$negRows%d, stats-pruned locate per batch)")

    // --- jobs per small rewrite --------------------------------------
    // the locate-and-rewrite budget next to the timings: a 400-row
    // upsert and an 80-row delete on a 4-file table, then their change
    // batch applied to a replica holding the table as it was (the
    // batch is persisted first, as a foreachBatch sink would hold it)
    val jt = tempDir("graft_txjobs").toAbsolutePath.toString + "/t"
    TxLog.append(spark, jt, spark.range(0, 4000L)
      .select($"id", ($"id" % 997).as("v")).repartition(4))
    val rep = tempDir("graft_txjobs_rep").toAbsolutePath.toString + "/t"
    TxLog.applyChanges(spark, rep,
      TxLog.readChangeFeed(spark, jt, 0L, key = Some("id")), "id")
    val v0 = TxLog.currentVersion(jt)
    val upsertJobs = JobProbe.jobs(spark, "txprobe-upsert")(
      TxLog.upsert(spark, jt, spark.range(3800L, 4200L)
        .select($"id", lit(-1L).as("v")), "id"))
    val deleteJobs = JobProbe.jobs(spark, "txprobe-delete")(
      TxLog.delete(spark, jt, spark.range(0L, 80L).toDF("id"), "id"))
    val batch = TxLog.readChangeFeed(spark, jt, v0, key = Some("id")).persist()
    val batchRows = batch.count()
    val applyJobs = JobProbe.jobs(spark, "txprobe-apply")(
      TxLog.applyChanges(spark, rep, batch, "id"))
    batch.unpersist()
    println(f"[txprobe] jobs per small rewrite: upsert(400 rows) " +
      f"$upsertJobs%d, delete(80 keys) $deleteJobs%d, applyChanges" +
      f"(their $batchRows%d-row change batch) $applyJobs%d")

    // --- streaming ingest through the exactly-once sink ------------
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ingest = tempDir("graft_txingest")
      .toAbsolutePath.toString
    val mem = MemoryStream[Long](numPartitions = 4)
    val q = mem.toDF.toDF("id").writeStream
      .option("checkpointLocation",
        tempDir("graft_txingest_ck").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        TxLog.appendOnce(spark, ingest, df, "probe", id); ()
      }.start()
    val rows = 1000000L
    val chunk = 100000L
    val g0 = System.nanoTime()
    (0L until rows / chunk).foreach { b =>
      mem.addData((b * chunk) until ((b + 1) * chunk))
      q.processAllAvailable()
    }
    val ingestSec = (System.nanoTime() - g0) / 1e9
    q.stop()
    val got = TxLog.read(spark, ingest).count()
    println(f"[txprobe] streaming ingest $rows%d rows in $ingestSec%.1f s " +
      f"(${rows / ingestSec}%.0f rows/s, ${rows / chunk}%d micro-batch " +
      f"commits, table count $got%d, exactly_once=${got == rows}%b)")

    // --- streaming SOURCE throughput (round 11) ---------------------
    // drain the 1 M-row table just ingested back out through
    // readStream.format("txlog") into the native txlog sink —
    // the whole loop is exactly-once on both edges.
    val out = tempDir("graft_txout")
      .toAbsolutePath.toString
    val d0 = System.nanoTime()
    val drain = spark.readStream.format("txlog")
      .option("path", ingest).load()
      .writeStream.format("txlog").option("path", out)
      .option("checkpointLocation",
        tempDir("graft_txout_ck").toString)
      .start()
    drain.processAllAvailable()
    val drainSec = (System.nanoTime() - d0) / 1e9
    drain.stop()
    val outRows = TxLog.read(spark, out).count()
    println(f"[txprobe] txlog->txlog stream drain $outRows%d rows in " +
      f"$drainSec%.1f s (${outRows / drainSec}%.0f rows/s end-to-end, " +
      f"source offsets = versions, sink exactly-once, " +
      f"complete=${outRows == rows}%b)")

    timeTravelAndCdc(spark)
    metadataScale()
    spark.stop()
  }

  /** Round-13 probes: `TIMESTAMP AS OF` resolution at 10 000 commits
    * (mtime BISECT vs the pre-r13 linear walk, probe counts printed)
    * and a 1 000-version change-feed read (balanced-union planning
    * cost — the left-leaning reduce built a range-deep plan tree).
    */
  private def timeTravelAndCdc(spark: SparkSession): Unit = {
    import spark.implicits._
    val dir = tempDir("graft_txtt")
      .toAbsolutePath.toString
    (1 to 10000).foreach(i => TxLog.commit(dir, "append", i - 1L,
      Seq(f"f$i%05d.parquet" -> None), Nil))
    val ts = TxLog.commitTimeMicros(dir, 5000L)
    val l0 = System.nanoTime()
    val linear = (1L to 10000L)
      .filter(v => TxLog.commitTimeMicros(dir, v) <= ts).lastOption
    val linMs = (System.nanoTime() - l0) / 1e6
    val b0 = System.nanoTime()
    val (bisect, probes) = TxLog.versionAtTimestamp(dir, ts)
    val bisMs = (System.nanoTime() - b0) / 1e6
    println(f"[txprobe] TIMESTAMP AS OF @10k commits: bisect $bisMs%.2f ms" +
      f" ($probes%d mtime probes) vs linear walk $linMs%.1f ms " +
      f"(10000 probes); agree=${linear == bisect}%b")

    val t = tempDir("graft_txcdc")
      .toAbsolutePath.toString + "/t"
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "v"))
    val rel = TxLog.relative(t, TxLog.snapshot(t).files.head)
    (2 to 1000).foreach(_ => TxLog.commit(t, "append",
      TxLog.currentVersion(t), Seq(rel -> None), Nil))
    val p0 = System.nanoTime()
    val feed = TxLog.readChangeFeed(spark, t, 0L)
    val planMs = (System.nanoTime() - p0) / 1e6
    val c0 = System.nanoTime()
    val n = feed.count()
    val cntSec = (System.nanoTime() - c0) / 1e9
    println(f"[txprobe] change feed @1000 versions: plan build " +
      f"$planMs%.0f ms, count=$n%d in $cntSec%.1f s (balanced union, " +
      f"tree depth ~10 vs 1000 for the left-leaning reduce)")
  }

  /** METADATA-SCALE probe (round 12; VERDICT r11 missing #3): 10 000
    * commits / 10 000 live files at checkpoint cadences {10, 100,
    * 1000}, measuring the streaming hot path `currentVersion` (every
    * `getOffset` trigger pays it) WITH the `_last_checkpoint` pointer
    * vs the O(log-dir listing) fallback, plus full snapshot
    * reconstruction. Commits here are METADATA-ONLY (no parquet
    * staging — `currentVersion`/`snapshot` never open data files), so
    * the probe isolates exactly the log-protocol cost. Expected shape:
    * pointer discovery is O(commits-since-checkpoint) — flat in total
    * commits, linear in cadence — while the listing fallback pays the
    * full directory walk regardless.
    */
  private def metadataScale(): Unit = {
    val commits = 10000
    val defaultCadence = TxLog.checkpointEvery
    Seq(10, 100, 1000).foreach { cadence =>
      TxLog.checkpointEvery = cadence
      try {
        val dir = tempDir(s"graft_txmeta_$cadence")
          .toAbsolutePath.toString
        val c0 = System.nanoTime()
        (1 to commits).foreach { i =>
          TxLog.commit(dir, "append", i - 1L,
            Seq(f"f$i%05d.parquet" -> None), Nil)
        }
        val commitSec = (System.nanoTime() - c0) / 1e9
        def med(n: Int)(body: => Unit): Double = {
          body // warm
          val times = (1 to n).map { _ =>
            val t0 = System.nanoTime(); body
            (System.nanoTime() - t0) / 1e6
          }
          times.sorted.apply(n / 2)
        }
        val ptrMs = med(21)(TxLog.currentVersion(dir))
        // commit 10 000 is ON every cadence boundary, so the pointer
        // walk above is zero-length; land cadence/2 more commits so
        // the O(commits-since-checkpoint) term is actually visible
        val tail = math.max(1, cadence / 2)
        (1 to tail).foreach { i =>
          TxLog.commit(dir, "append", commits + i - 1L,
            Seq(f"g$i%05d.parquet" -> None), Nil)
        }
        val ptrTailMs = med(21)(TxLog.currentVersion(dir))
        val ptr = java.nio.file.Paths.get(dir, "_graft_log",
          "_last_checkpoint")
        val saved = java.nio.file.Files.readAllBytes(ptr)
        java.nio.file.Files.delete(ptr)
        val listMs = med(21)(TxLog.currentVersion(dir))
        java.nio.file.Files.write(ptr, saved)
        val s0 = System.nanoTime()
        val snap = TxLog.snapshot(dir)
        val snapMs = (System.nanoTime() - s0) / 1e6
        println(f"[txprobe] meta-scale cadence=$cadence%d: $commits%d " +
          f"metadata commits in $commitSec%.1f s " +
          f"(${commits / commitSec}%.0f commits/s); getOffset-path " +
          f"currentVersion $ptrMs%.2f ms at the checkpoint boundary / " +
          f"$ptrTailMs%.2f ms with a $tail%d-commit tail vs " +
          f"$listMs%.2f ms listing fallback; snapshot(v=${snap.version}%d," +
          f" ${snap.files.size}%d files) $snapMs%.0f ms")
      } finally TxLog.checkpointEvery = defaultCadence
    }
  }
}
