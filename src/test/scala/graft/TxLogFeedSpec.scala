package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLog

/** The one-shuffle change feed against the per-version formulation it
  * replaced: every rewrite version's diff as `exceptAll` both ways,
  * keyed update/insert/delete split by `intersect` + semi/anti joins.
  * That reference is kept here, verbatim in mechanism, and random
  * commit sequences (upsert, delete, merge, overwrite, restore,
  * truncate, compact, ALTER ADD/RENAME COLUMN; duplicate rows and null
  * keys) must feed identical multisets through both, keyed and
  * unkeyed. A plan pin holds the mechanism itself: one shuffle below
  * the classification window however many rewrite versions the range
  * spans.
  */
class TxLogFeedSpec extends SparkSuite {

  private def fresh(): String =
    tempDir("graft_feed").toString + "/t"

  /** The pre-one-shuffle readChangeFeed: per rewrite version,
    * removed∖added and added∖removed by `exceptAll`, keys on both
    * sides (`intersect`) split into update pre/post-images by
    * semi/anti equi-joins.
    */
  private def referenceFeed(t: String, from: Long, to: Long,
                            key: Option[String]): DataFrame = {
    val outSchema = TxLog.tableSchema(t, to).get
    val mapping = TxLog.columnMapping(t, to)
    def readAligned(files: Vector[String]) =
      TxLog.readFeedFiles(spark, t, files, outSchema, mapping)
    def tag(df: DataFrame, tpe: String, v: Long) =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))
    val perVersion = ((from + 1) to to).flatMap { v =>
      val (op, adds, removes) = TxLog.commitDelta(t, v)
      op match {
        case "create" | "compact" | "altschema" | "remap" => Nil
        case "append" | "txn" =>
          if (adds.isEmpty) Nil else Seq(tag(readAligned(adds), "insert", v))
        case _ if adds.isEmpty && removes.isEmpty => Nil
        case _ =>
          val pre =
            if (removes.isEmpty) readAligned(adds).limit(0)
            else readAligned(removes)
          val post = if (adds.isEmpty) pre.limit(0) else readAligned(adds)
          val deleted = pre.exceptAll(post)
          val inserted = post.exceptAll(pre)
          key match {
            case None =>
              Seq(tag(deleted, "delete", v), tag(inserted, "insert", v))
            case Some(k) =>
              val updKeys = deleted.select(k).intersect(inserted.select(k))
              Seq(
                tag(deleted.join(updKeys, Seq(k), "left_anti"), "delete", v),
                tag(deleted.join(updKeys, Seq(k), "left_semi"),
                  "update_preimage", v),
                tag(inserted.join(updKeys, Seq(k), "left_anti"), "insert", v),
                tag(inserted.join(updKeys, Seq(k), "left_semi"),
                  "update_postimage", v))
          }
      }
    }
    perVersion.reduceOption(_ unionByName _).getOrElse(
      TxLog.readChangeFeed(spark, t, from, Some(to), key).limit(0))
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map {
      case (r, rs) => r -> rs.size }

  /** A table whose key `id` is nullable and whose value domains are
    * tiny, so appends, upserts and merges produce duplicate rows, null
    * keys, repeated updates of one key and no-op rewrites.
    */
  private final class Writer(t: String, rnd: Random) {
    // (logical name, type) of the current schema; id stays first
    var cols: Vector[(String, DataType)] =
      Vector("id" -> LongType, "v" -> StringType)
    var lastSchemaChange = 0L
    private var added = 0
    private var renamed = 0

    private def value(dt: DataType): Any = dt match {
      case LongType   => if (rnd.nextInt(8) == 0) null else rnd.nextInt(6).toLong
      case StringType => Seq("a", "b", "c", null)(rnd.nextInt(4))
      case IntegerType => if (rnd.nextInt(4) == 0) null else rnd.nextInt(3)
    }

    private def frame(n: Int): DataFrame = {
      val schema = StructType(cols.map { case (c, dt) => StructField(c, dt) })
      val rows = Seq.fill(n)(Row.fromSeq(cols.map { case (_, dt) => value(dt) }))
      // one exact duplicate row in most frames
      val withDup = if (rows.nonEmpty && rnd.nextBoolean()) rows :+ rows.head else rows
      spark.createDataFrame(spark.sparkContext.parallelize(withDup, 2), schema)
    }

    private def keys(n: Int): DataFrame = frame(n).select("id")

    def step(): String = {
      val v = TxLog.currentVersion(t)
      val live = TxLog.snapshot(t).files.nonEmpty
      val ops = Seq("append", "upsert", "delete", "merge", "overwrite",
        "restore", "truncate", "compact", "add", "rename")
      val op = ops(rnd.nextInt(ops.size))
      op match {
        case "append" => TxLog.append(spark, t, frame(1 + rnd.nextInt(5)))
        case "upsert" => TxLog.upsert(spark, t, frame(1 + rnd.nextInt(4)), "id")
        case "delete" => TxLog.delete(spark, t, keys(1 + rnd.nextInt(3)), "id")
        case "merge" =>
          TxLog.merge(spark, t, frame(1 + rnd.nextInt(3)), keys(1 + rnd.nextInt(2)), "id")
        case "overwrite" => TxLog.overwrite(spark, t, frame(1 + rnd.nextInt(5)))
        case "restore" if v - 1 > lastSchemaChange =>
          TxLog.restore(spark, t, lastSchemaChange + 1 +
            rnd.nextLong(v - 1 - lastSchemaChange))
        case "truncate" => TxLog.truncate(t)
        case "compact" if live => TxLog.compact(spark, t)
        case "add" if added < 2 =>
          added += 1
          val c = s"x$added"
          TxLog.addColumns(t, Seq(StructField(c, IntegerType)))
          cols :+= (c -> IntegerType)
          lastSchemaChange = TxLog.currentVersion(t)
        case "rename" if renamed < 2 =>
          renamed += 1
          val (from, dt) = cols(1)
          val to = s"v$renamed"
          TxLog.renameColumn(t, from, to)
          cols = cols.updated(1, to -> dt)
          lastSchemaChange = TxLog.currentVersion(t)
        case _ => TxLog.append(spark, t, frame(2))
      }
      op
    }
  }

  test("the one-shuffle feed equals the exceptAll reference as a multiset " +
       "over random commit sequences, keyed and unkeyed") {
    val rnd = new Random(20261017L)
    (1 to 6).foreach { seq =>
      val t = fresh()
      val w = new Writer(t, rnd)
      TxLog.append(spark, t, spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(1L, "a"), Row(1L, "a"), Row(null, "b"), Row(2L, "c")), 1),
        StructType(Seq(StructField("id", LongType), StructField("v", StringType)))))
      val ops = (1 to 9).map(_ => w.step())
      val to = TxLog.currentVersion(t)
      val froms = 0L +: (if (to > 1) Seq(1L + rnd.nextLong(to - 1)) else Nil)
      froms.foreach { from =>
        Seq(None, Some("id")).foreach { key =>
          val got = multiset(TxLog.readChangeFeed(spark, t, from, Some(to), key))
          val want = multiset(referenceFeed(t, from, to, key))
          assert(got == want,
            s"sequence $seq ops=${ops.mkString(",")} range ($from, $to] key=$key")
        }
      }
    }
  }

  test("null keys are never updates; duplicate pre/post rows net by " +
       "multiplicity") {
    val t = fresh()
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    def df(rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    TxLog.append(spark, t, df(Row(null, "n"), Row(1L, "a"), Row(1L, "a"),
      Row(1L, "a")))                                                  // v1
    // rewrite: null-key row changes value, one of three duplicates goes
    TxLog.overwrite(spark, t, df(Row(null, "m"), Row(1L, "a"), Row(1L, "a")))
    val feed = TxLog.readChangeFeed(spark, t, 1L, key = Some("id"))
    assert(multiset(feed) == Map(
      Seq(null, "n", "delete", 2L) -> 1, Seq(null, "m", "insert", 2L) -> 1,
      Seq(1L, "a", "delete", 2L) -> 1))
    assert(multiset(feed) == multiset(referenceFeed(t, 1L, 2L, Some("id"))))
  }

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }

  test("a keyed feed over 1 and over 8 rewrite versions plans exactly one " +
       "shuffle below its window") {
    import spark.implicits._
    Seq(1, 8).foreach { n =>
      val t = fresh()
      TxLog.append(spark, t, (1L to 20L).map(i => i -> s"v$i").toDF("id", "v"))
      (1 to n).foreach { i =>
        TxLog.upsert(spark, t, Seq(i.toLong -> s"u$i", (100L + i) -> "new")
          .toDF("id", "v"), "id")
      }
      val plan = physical(TxLog.readChangeFeed(spark, t, 1L, key = Some("id")))
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.size == 1, plan.treeString)
      val shuffles = windows.head.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"$n rewrite versions: ${shuffles.size} shuffles below the window\n" +
        plan.treeString)
    }
  }
}
