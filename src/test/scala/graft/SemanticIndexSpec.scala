package graft

import graft.ops.Clustering

/** Pins the r8 semantic-pair amortization (VERDICT r7 task 2): the
  * τ ≥ 0.5 semantic near-dup pair list is a per-(dir, JVM) BUILD
  * persisted as (a_id, b_id, cell, rawcos) parquet; the production
  * operating point q_dedup_semantic_t9 re-READS it instead of
  * re-running the chain q_dedup_semantic already measures. The t9
  * output stays under the t2 oracle gate (full DuckDB recompute at
  * τ = 0.9); these tests pin the mechanics the gate can't see:
  * build-once, and read ≡ rebuild bit-for-bit.
  */
class SemanticIndexSpec extends SparkSuite {
  import spark.implicits._

  private def treeState(root: String): Map[String, Long] = {
    val d = new java.io.File(root)
    if (!d.exists()) Map.empty
    else d.listFiles().map(f => f.getName -> f.lastModified()).toMap
  }

  test("semantic pair list builds once per JVM: re-execution reads, never rewrites") {
    val out1 = Clustering.qDedupSemanticT9(spark, sf).collect()
    val idx = Clustering.semPairsDir(spark, sf)
    val state1 = treeState(idx)
    assert(state1.nonEmpty, s"no index files under $idx")
    val out2 = Clustering.qDedupSemanticT9(spark, sf).collect()
    assert(treeState(idx) == state1,
      "re-executing q_dedup_semantic_t9 rewrote the pair tree")
    assert(out1.toSeq == out2.toSeq,
      "serving from the persisted pairs diverged from the first run")
  }

  test("persisted pair list is bit-identical to a fresh chain run") {
    val stored = spark.read.parquet(Clustering.semPairsDir(spark, sf))
      .select($"a_id", $"b_id", $"cell", $"rawcos")
      .orderBy($"a_id", $"b_id").collect().toSeq
    val fresh = Clustering.semanticPairsRaw(spark, sf)
      .select($"a_id", $"b_id", $"cell", $"rawcos")
      .orderBy($"a_id", $"b_id").collect().toSeq
    // raw-double rawcos must round-trip parquet exactly — any drift
    // would shift a τ-threshold decision downstream
    assert(stored == fresh,
      "persisted pairs differ from a fresh semanticPairsRaw run")
  }

  test("t9 finds every within-cluster pair on a clustered fixture (non-vacuous)") {
    // the fixture embeddings are i.i.d.-random, so τ = 0.9 yields no
    // pairs there (expected; documented in the t9 scaladoc) — the
    // production path must be proven on data with real cluster
    // structure: 20 clusters × 10 near-identical vectors (the
    // ClusteringSpec fixture), every within-cluster pair cos ≈ 1
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_t9fix").toString
    spark.range(0, 200).select($"id".as("vec_id"))
      .withColumn("c", $"vec_id" % 20)
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), d -> CAST(
          |  (pmod(hash(c * 131 + d), 1000) / 1000.0 - 0.5) +
          |  (pmod(hash(vec_id * 17 + d), 100) / 50000.0 - 0.001)
          |  AS FLOAT))""".stripMargin))
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val t9 = Clustering.qDedupSemanticT9(spark, dir)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t9.nonEmpty, "t9 found nothing on a clustered fixture")
    val expected = (for {
      c <- 0L until 20L; i <- 0L until 10L; j <- (i + 1) until 10L
    } yield (c + i * 20, c + j * 20)).toSet
    assert(expected.subsetOf(t9),
      s"t9 missed ${(expected -- t9).size} of ${expected.size} within-cluster pairs")
  }

  test("t9 is exactly the tau >= 0.9 slice of the registered key's output") {
    val t9 = Clustering.qDedupSemanticT9(spark, sf)
      .collect().map(_.toString).toSeq
    val sliced = Clustering.qDedupSemantic(spark, sf)
      .filter($"cos" >= 0.9).collect().map(_.toString).toSeq
    // cos is r6(rawcos); at τ = 0.9 a raw-vs-rounded threshold
    // disagreement needs rawcos within 5e-7 of 0.9 — assert subset
    // agreement on the fixture (no such boundary value exists there)
    assert(t9 == sliced,
      "t9 output is not the tau>=0.9 slice of q_dedup_semantic")
  }
}
