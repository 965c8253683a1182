package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.sources.TxLog

/** MODEL-BASED fuzz of the TxLog protocol: a deterministic seeded
  * random sequence of table operations (append / upsert / delete /
  * overwrite / compact / clustered compact / restore) runs against
  * BOTH the real log and a trivial in-memory multiset model; after
  * every commit the table read must equal the model exactly, a
  * randomly chosen PAST version must time-travel to that version's
  * recorded model (snapshot isolation across arbitrary op
  * interleavings), and history() must stay contiguous. Catches the
  * protocol-interaction bugs single-scenario tests can't enumerate
  * (e.g. restore-after-upsert-after-compact chains).
  *
  * The model is deliberately dumb: append = multiset union; upsert =
  * drop all rows with a matching key, add each update row once
  * (unmatched rows insert); delete = drop matching keys; overwrite =
  * replace; compact = content-neutral; restore(v) = copy model[v].
  * Keys are drawn from a 20-value domain so collisions, duplicate
  * keys via append, and cross-file rewrites all occur constantly.
  */
class TxLogModelSpec extends SparkSuite {
  import spark.implicits._

  private type RowT = (Long, String)

  private def mk(rows: Seq[RowT]): DataFrame = rows.toDF("id", "v")

  private def readAll(t: String, asOf: Option[Long] = None): Seq[RowT] =
    TxLog.read(spark, t, asOf).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def sortedBag(rows: Seq[RowT]): Seq[RowT] =
    rows.sortBy(r => (r._1, r._2))

  test("30 random ops: read == model, time travel == model history, every step") {
    val rnd = new Random(0xC0FFEE11L)
    val t = tempDir("graft_txmodel").toAbsolutePath.toString
    // model[v] = table content (multiset) at version v
    val model = mutable.Map[Long, Vector[RowT]](0L -> Vector.empty)
    var cur = 0L

    def freshRows(n: Int): Seq[RowT] =
      Seq.fill(n)((rnd.nextInt(20).toLong, s"s${model.size}_${rnd.nextInt(1000)}"))

    (1 to 30).foreach { step =>
      val before = model(cur)
      val op = if (cur == 0) "append" else rnd.nextInt(10) match {
        case 0 | 1 | 2 => "append"
        case 3 | 4 | 5 => "upsert"
        case 6         => "delete"
        case 7         => "overwrite"
        case 8         => "compact"
        case _         => "restore"
      }
      val (v, expected): (Long, Vector[RowT]) = op match {
        case "append" =>
          val rows = freshRows(1 + rnd.nextInt(5))
          (TxLog.append(spark, t, mk(rows)), before ++ rows)
        case "upsert" =>
          // unique keys per update batch (the upsert contract)
          val rows = freshRows(1 + rnd.nextInt(5))
            .groupBy(_._1).map(_._2.head).toSeq
          val keys = rows.map(_._1).toSet
          (TxLog.upsert(spark, t, mk(rows), "id"),
            before.filterNot(r => keys.contains(r._1)) ++ rows)
        case "delete" =>
          // always delete EXISTING keys but never all of them: a
          // no-match delete is version-neutral and an emptied table
          // has nothing to read — both are separate pinned tests
          val distinctKeys = rnd.shuffle(before.map(_._1).distinct)
          if (distinctKeys.size <= 1) {
            val rows = freshRows(2)
            (TxLog.append(spark, t, mk(rows)), before ++ rows)
          } else {
            val keys = distinctKeys.take(1 + rnd.nextInt(distinctKeys.size - 1))
            (TxLog.delete(spark, t, keys.toDF("id"), "id"),
              before.filterNot(r => keys.contains(r._1)))
          }
        case "overwrite" =>
          val rows = freshRows(1 + rnd.nextInt(4))
          (TxLog.overwrite(spark, t, mk(rows)), rows.toVector)
        case "compact" =>
          val clustered = rnd.nextBoolean()
          val v0 =
            if (clustered)
              TxLog.compact(spark, t, targetFiles = 2, clusterBy = Seq("id"))
            else TxLog.compact(spark, t, targetFiles = 1 + rnd.nextInt(3))
          (v0, before)
        case "restore" =>
          val target = 1L + rnd.nextInt(cur.toInt).toLong
          (TxLog.restore(spark, t, target), model(target))
      }
      assert(v == cur + 1,
        s"step $step ($op): versions must stay contiguous ($cur -> $v)")
      cur = v
      model(cur) = expected
      assert(sortedBag(readAll(t)) == sortedBag(expected),
        s"step $step ($op) at v$cur: table read diverged from the model")
      // time travel to a random past version must match ITS model
      val past = 1L + rnd.nextInt(cur.toInt).toLong
      assert(sortedBag(readAll(t, Some(past)).toVector) ==
        sortedBag(model(past)),
        s"step $step: time travel to v$past diverged from the model")
    }
    // history stays contiguous and newest-first over the whole run
    val h = TxLog.history(t)
    assert(h.map(_.version) == (cur to 1L by -1L),
      "history must list every version exactly once, newest first")
    // final sanity: the stats survive all interleavings (every live
    // file either has stats or is conservatively never pruned)
    val snap = TxLog.snapshot(t)
    assert(snap.files.nonEmpty)
  }
}
