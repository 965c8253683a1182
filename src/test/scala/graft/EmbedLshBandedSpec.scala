package graft

import org.apache.spark.sql.functions._

import graft.ops.{LlmOps, TrainingOps, core}

/** Pins the r9 band-batched embed-LSH fallback (VERDICT r8 task 2):
  * the batching exists only to bound peak shuffle scratch at the
  * third decade — the OUTPUT must be identical for any group count,
  * because every pair's exact-cosine recheck is the same
  * deterministic fold wherever it runs and the final distinct
  * collapses cross-batch duplicates.
  */
class EmbedLshBandedSpec extends SparkSuite {

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("groups=1 and groups=8 produce the identical frame at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val e = core.cached(LlmOps.normed(spark, dir))
    val one = collected(TrainingOps.embedLshBanded(spark, e, 0.5, 1))
    val eight = collected(TrainingOps.embedLshBanded(spark, e, 0.5, 8))
    assert(one.nonEmpty, "fixture produced no pairs — test is vacuous")
    assert(one == eight,
      s"band batching changed the output: ${one.size} vs ${eight.size} rows")
    e.unpersist()
  }

  test("groups rule: single batch at bench scale, 8 past the cutoff") {
    assert(TrainingOps.lshBandGroups(2000L) == 1)
    assert(TrainingOps.lshBandGroups(50000L) == 1)
    assert(TrainingOps.lshBandGroups(50001L) == 8)
    assert(TrainingOps.lshBandGroups(200000L) == 8)
  }

  test("batched path on a clustered fixture: within-cluster pairs survive") {
    import spark.implicits._
    // 20 clusters x 10 near-identical vectors (the LlmOpsSpec tau=0.9
    // fixture pattern) — within-cluster cos ~ 1 >= 0.5, cross-cluster
    // ~ 0; the batched path must find every within-cluster pair in
    // EVERY batch and dedup them to one row each.
    val dir = tempDir("graft_band").toString
    spark.range(0, 200).select($"id".as("vec_id"))
      .withColumn("c", $"vec_id" % 20)
      .withColumn("label", ($"vec_id" % 10).cast("int"))
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), d -> CAST(
          |  (pmod(hash(c * 131 + d), 1000) / 1000.0 - 0.5) +
          |  (pmod(hash(vec_id * 17 + d), 100) / 50000.0 - 0.001)
          |  AS FLOAT))""".stripMargin))
      .select("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = core.cached(LlmOps.normed(spark, dir))
    val got = TrainingOps.embedLshBanded(spark, e, 0.5, 8)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    e.unpersist()
    val expected = (for {
      c <- 0L until 20L; i <- 0L until 10L; j <- (i + 1) until 10L
    } yield (c + i * 20, c + j * 20)).toSet
    assert(expected.subsetOf(got),
      s"batched LSH missed ${(expected -- got).size} of ${expected.size} within-cluster pairs")
    assert(got.size == expected.size,
      s"batched LSH emitted duplicate or spurious pairs: ${got.size} vs ${expected.size}")
  }
}
