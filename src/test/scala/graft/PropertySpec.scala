package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.Streaming

/** Randomized-input property tests (seeded, deterministic):
  * invariants that must hold for ANY event stream, not just the
  * fixture corpus. Uses scalacheck-style generation with a fixed seed
  * so failures reproduce exactly.
  */
class PropertySpec extends SparkSuite {

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def randomEvents(seed: Long, n: Int) = {
    val rnd = new Random(seed)
    List.fill(n)((rnd.nextLong(1000000L), 1L + rnd.nextLong(5L),
      rnd.nextLong(6L * 3600), rnd.nextInt(3) match {
        case 0 => "click"; case 1 => "view"; case _ => "purchase"
      }, (1 + rnd.nextInt(10000)) / 100.0))
  }

  private def toDf(evs: List[(Long, Long, Long, String, Double)]) = {
    import spark.implicits._
    evs.map { case (id, u, off, tpe, v) =>
      (id, new Timestamp(base + off * 1000), u, tpe, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("entropy is within [0, ln(n_types)]; uniformity maximizes it") {
    import spark.implicits._
    val h = ops.Aggregates.qAggEntropy(spark, sf)
    val bad = h.filter($"entropy" < -1e-9 ||
      $"entropy" > log($"n_types".cast("double")) + 1e-6).count()
    assert(bad == 0, "entropy must satisfy 0 <= H <= ln(k)")
    assert(h.filter($"n_types" === 1 && $"entropy" =!= 0.0).count() == 0,
      "single-type users must have zero entropy")
  }

  test("gap-fill output never contains a zero; sentinel only before first reading") {
    import spark.implicits._
    val g = ops.Windows.qWinGapFill(spark, "/root/testdata/sf0.1")
    assert(g.filter($"v_filled" === 0L).count() == 0,
      "every dropped reading must be filled or sentineled")
    // the fill must never invent values: v_filled is either -1 or some
    // user's real non-zero reading
    val vals = g.filter($"v_c" =!= 0L).select($"v_c".as("v")).distinct()
    val bad = g.filter($"v_filled" =!= -1L)
      .join(vals, g("v_filled") === vals("v"), "left_anti").count()
    assert(bad == 0, "filled values must come from real readings")
  }

  test("retention shares stay in [0, 1]") {
    import spark.implicits._
    val r = ops.Scalars.qTsRetention(spark, sf)
    assert(r.filter($"retention" < 0 || $"retention" > 1).count() == 0)
    assert(r.filter($"n_retained" > $"n_active").count() == 0)
  }

  test("outlier counts are bounded by group size") {
    import spark.implicits._
    val o = ops.Aggregates.qAggOutliers(spark, sf)
    assert(o.filter($"n_outliers" > $"n" || $"n_outliers" < 0).count() == 0)
    assert(o.filter($"mad" < 0).count() == 0, "MAD is nonnegative")
  }

  test("sessions never overlap; consecutive sessions of a user are separated") {
    for (seed <- 1L to 5L) {
      import spark.implicits._
      val sess = Streaming.sessions(toDf(randomEvents(seed, 60)))
        .orderBy($"user_id", $"session_start")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      sess.groupBy(_._1).values.foreach { ss =>
        ss.sortBy(_._2.getTime).sliding(2).foreach {
          case Array((_, _, end1), (_, start2, _)) =>
            // session_end already includes the 30-min gap, so the next
            // session must start strictly after the previous one's end
            assert(start2.getTime > end1.getTime,
              s"seed $seed: sessions touch/overlap: $end1 vs $start2")
          case _ => ()
        }
      }
    }
  }

  test("tumbling window counts always sum to the input row count") {
    for (seed <- 10L to 14L) {
      val evs = randomEvents(seed, 60)
      val total = Streaming.tumbling(toDf(evs)).agg(sum(col("n")))
        .head().getLong(0)
      assert(total == evs.length.toLong, s"seed $seed")
    }
  }

  test("sliding windows contain each event exactly 4 times") {
    for (seed <- 20L to 24L) {
      val evs = randomEvents(seed, 60)
      val total = Streaming.sliding(toDf(evs)).agg(sum(col("n")))
        .head().getLong(0)
      assert(total == 4L * evs.length, s"seed $seed")
    }
  }

  test("dedup: unique keys, keeps min event_id, idempotent — any input") {
    for (seed <- 30L to 32L) {
      import spark.implicits._
      val df = toDf(randomEvents(seed, 60))
      val out = Streaming.dedupBatch(df)
      val dup = out.groupBy($"user_id", $"event_type").count()
        .filter($"count" > 1).count()
      assert(dup == 0, s"seed $seed: duplicate keys survived")
      val mins = df.groupBy($"user_id", $"event_type")
        .agg(min($"event_id").as("m"))
      val wrong = out.join(mins, Seq("user_id", "event_type"))
        .filter($"event_id" =!= $"m").count()
      assert(wrong == 0, s"seed $seed: kept a non-minimal event_id")
      assert(Streaming.dedupBatch(out.withColumn("value",
        $"value_c" / 100.0)).count() == out.count(), "not idempotent")
    }
  }

  test("pair-count estimates saturate: pairScanPartitions never returns 1 " +
       "for n >= 2500, up to Long.MaxValue") {
    val rnd = new Random(2500L)
    // log-uniform over [2500, Long.MaxValue], plus the edges around the
    // first n whose n(n-1) overflows a Long
    val span = math.log(Long.MaxValue.toDouble / 2500.0)
    val ns = Seq(2500L, 2501L, 3037000499L, 3037000500L, 3037000501L,
      4294967296L, Long.MaxValue - 1, Long.MaxValue) ++
      Seq.fill(5000)(math.min(Long.MaxValue.toDouble,
        2500.0 * math.exp(rnd.nextDouble() * span)).toLong)
    ns.foreach { n =>
      val ordered = ops.core.pairCount(n, n - 1)
      assert(ordered > 0L && ops.core.pairScanPartitions(ordered) > 1, s"n=$n")
      assert(ops.core.pairScanPartitions(ordered / 2) > 1, s"n=$n unordered")
    }
    assert(ops.core.pairCount(Long.MaxValue, Long.MaxValue) == Long.MaxValue)
    assert(ops.core.pairScanPartitions(Long.MaxValue) == 16384)
  }
}
