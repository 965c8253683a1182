package graft

/** Value-pins for q_agg_moments against hand-derived closed forms —
  * the t2 oracle mirrors the same polynomial, so a formula slip there
  * is invisible to it (this caught the √n/n mis-scaling in review).
  */
class MomentsSpec extends SparkSuite {
  import spark.implicits._

  /** events fixture dir with the given cent values under one type. */
  private def fixture(cents: Seq[Long]): String = {
    val dir = tempDir("moments").toString
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong * 1000000000L, "a", c.toDouble / 100.0) }
      .toDF("ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("skewness and excess kurtosis match closed form on {0,0,1}") {
    // x̄ = 1/3: m2 = 2/9, m3 = 2/27, m4 = 2/27
    // g1 = m3/m2^1.5 = 1/√2 ≈ 0.707107; g2 = m4/m2² − 3 = −3/2
    val row = ops.Aggregates.qAggMoments(spark, fixture(Seq(0L, 0L, 1L))).head()
    assert(row.getAs[Double]("skewness") == 0.707107)
    assert(row.getAs[Double]("kurtosis_excess") == -1.5)
  }

  test("symmetric data has zero skew; uniform {0,1,2,3} kurtosis −1.36") {
    // {0,1,2,3}: m2 = 5/4, m3 = 0, m4 = 41/16
    // g2 = (41/16)/(25/16) − 3 = 41/25 − 3 = −1.36
    val row = ops.Aggregates.qAggMoments(spark, fixture(Seq(0L, 1L, 2L, 3L))).head()
    assert(row.getAs[Double]("skewness") == 0.0)
    assert(row.getAs[Double]("kurtosis_excess") == -1.36)
  }

  test("scale-invariant: multiplying cents by 100 leaves g1 and g2 fixed") {
    val a = ops.Aggregates.qAggMoments(spark, fixture(Seq(3L, 1L, 4L, 1L, 5L, 9L))).head()
    val b = ops.Aggregates.qAggMoments(spark,
      fixture(Seq(300L, 100L, 400L, 100L, 500L, 900L))).head()
    assert(a.getAs[Double]("skewness") == b.getAs[Double]("skewness"))
    assert(a.getAs[Double]("kurtosis_excess") == b.getAs[Double]("kurtosis_excess"))
  }
}
