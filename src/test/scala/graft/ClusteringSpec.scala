package graft

import org.apache.spark.sql.functions._

import graft.ops.Clustering

class ClusteringSpec extends SparkSuite {
  import spark.implicits._

  test("q_ml_kmeans: 8 clusters x 64 dims, sizes sum to corpus size") {
    val out = Clustering.qMlKmeans(spark, sf)
    val n = ops.core.t(spark, sf, "embeddings").count()
    assert(out.count() == 8 * 64)
    assert(out.select($"cent_id").distinct().count() == 8)
    val sizeSum = out.filter($"dim" === 1)
      .agg(sum($"n_members")).head().getLong(0)
    assert(sizeSum == n, s"cluster sizes sum $sizeSum != corpus $n")
  }

  test("q_embed_pq: one 32-bit code per vector, nonnegative error") {
    val out = Clustering.qEmbedPq(spark, sf).cache()
    try {
      val n = ops.core.t(spark, sf, "embeddings").count()
      assert(out.count() == n)
      assert(out.filter($"code" < 0 || $"code" > 0xFFFFFFFFL).count() == 0)
      assert(out.filter($"recon_err" < 0).count() == 0)
      // codebooks are sampled from the data, so at least one vector
      // (a seed) must reconstruct some subspace exactly; with 16
      // codewords x 8 subspaces the minimum error over the corpus
      // should be visibly below the mean
      val (mn, av) = out.agg(min($"recon_err"), avg($"recon_err"))
        .as[(Double, Double)].head()
      assert(mn < av)
    } finally out.unpersist()
  }

  test("q_sim_ann_pq: ADC recovers cluster structure on a crafted corpus") {
    // 4 tight clusters 10 apart in every dim, jitter ≤ 0.01: the
    // inter-cluster gap (64·100) dwarfs the quantization error, so
    // every ADC top-3 partner must share the query's cluster — the
    // asymmetric-distance mechanism itself, isolated from the
    // random-fixture recall caveat in the scaladoc
    val dir = tempDir("pq").toString
    (0L until 40L).map { v =>
      val c = (v % 4).toDouble
      (v, (0 until 64).map(j =>
        (c * 10.0 + ((v * 13 + j * 7) % 10) / 1000.0).toFloat).toArray)
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val out = Clustering.qSimAnnPq(spark, dir).collect()
    assert(out.length == 30)
    out.foreach { r =>
      assert(r.getAs[Long]("q_id") % 4 == r.getAs[Long]("vec_id") % 4,
        s"ADC crossed clusters: $r")
      assert(r.getAs[Long]("q_id") != r.getAs[Long]("vec_id"))
    }
  }

  test("q_dedup_semantic pairs are a subset of the all-pairs gold set") {
    // precision 1 by construction: blocking only SKIPS pairs, never
    // invents them, and the cosine is the identical codegen fold.
    // sf0.1 is the smallest fixture where the subset check is
    // non-vacuous under the r5 adaptive k = max(8, ceil(sqrt n)):
    // sf0.01's single tau>=0.5 pair no longer shares a top-2 cell at
    // k=15 (random-fixture recall is bounded — the scaladoc's
    // documented trade for removing the fixed-k n^2/k pair term)
    val dir = "/root/testdata/sf0.1"
    val sem = Clustering.qDedupSemantic(spark, dir)
      .select($"a_id", $"b_id", $"cos")
    val gold = ops.TrainingOps.qDedupEmbed(spark, dir)
      .select($"a_id", $"b_id", $"cos")
    assert(sem.count() > 0)
    assert(sem.exceptAll(gold).count() == 0,
      "semantic-dedup emitted a pair (or cos) absent from the gold set")
  }

  test("q_dedup_semantic finds every within-cluster pair on a clustered fixture") {
    // the mechanism proof on data with REAL cluster structure (the
    // regime SemDeDup targets): 20 clusters x 10 near-identical
    // vectors, centered components — every within-cluster pair has
    // cos ~ 1 and must surface via the shared nearest cell
    val dir = tempDir("graft_semfix").toString
    spark.range(0, 200).select($"id".as("vec_id"))
      .withColumn("c", $"vec_id" % 20)
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), d -> CAST(
          |  (pmod(hash(c * 131 + d), 1000) / 1000.0 - 0.5) +
          |  (pmod(hash(vec_id * 17 + d), 100) / 50000.0 - 0.001)
          |  AS FLOAT))""".stripMargin))
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val sem = Clustering.qDedupSemantic(spark, dir)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      c <- 0L until 20L; i <- 0L until 10L; j <- (i + 1) until 10L
    } yield (c + i * 20, c + j * 20)).toSet
    assert(expected.subsetOf(sem),
      s"missed ${(expected -- sem).size} of ${expected.size} within-cluster pairs")
  }

  test("semanticCentroids splits oversized cells (r7 rebalance pin)") {
    // Deterministic oversized cell by construction: find the 4 ids
    // the md5 seeding will pick (the same rank kmeans computes), park
    // THOSE at 4 mutually-far corners, and put the other 216 vectors
    // in one tight jittered blob far from every seed. Pass 1 then
    // assigns the whole blob to its single nearest seed: one cell of
    // ≥ 216 > 2·⌈220/4⌉ = 110. The split must promote exactly one
    // centroid per oversized cell, and re-assigning against the
    // enlarged set must strictly shrink the max cell (blob mass
    // divides between the recomputed centre and the promoted edge).
    val k = 4
    val ids = spark.range(0, 220).select($"id".as("vec_id"))
    val seedIds = ids
      .withColumn("seed_rank",
        md5(concat(lit("km"), $"vec_id".cast("string"))))
      .orderBy($"seed_rank", $"vec_id").limit(k)
      .select($"vec_id").as[Long].collect().toSet
    val isSeed = $"vec_id".isin(seedIds.toSeq: _*)
    val seedPos = array_position(
      array(seedIds.toSeq.sorted.map(lit): _*), $"vec_id")
    val e = ids.select($"vec_id",
      when(isSeed,
        // seed s sits at 1000·s along dim 1 — pairwise far corners
        zip_with(expr("sequence(1, 8)"),
          expr("transform(sequence(1, 8), x -> CAST(x AS DOUBLE))"),
          (d, _) => when(d === 1, seedPos.cast("double") * 1000.0)
            .otherwise(lit(0.0))))
      .otherwise(
        // DIFFUSE region: points spread 400..600 along the diagonal
        // (+ jitter) — one-pass blocking lumps the whole segment into
        // the nearest seed's cell, which is exactly the badly-covered
        // shape a split can halve (a truly tight cluster could not be
        // usefully split and would just follow the promoted twin)
        zip_with(expr("sequence(1, 8)"),
          expr("transform(sequence(1, 8), x -> CAST(x AS DOUBLE))"),
          (d, _) => lit(400.0) + pmod($"vec_id" * 7, lit(200)).cast("double") +
            pmod(hash($"vec_id" * 31 + d), lit(100)).cast("double") / 1000.0))
      .as("emb"))
    // dim 1: seeds at 1000·s (s = 1..4), blob at ~500 in EVERY dim —
    // nearest seed to the blob is corner 1 (distance² ≈ 500² + 7·500²
    // vs larger for others), unique, so the blob lands in one cell
    val (cents1, a1) = Clustering.kmeans(e, k, 1)
    val pre = a1.groupBy($"cent_id").count().agg(max("count"))
      .head().getLong(0)
    val target = (220 + k - 1) / k
    assert(pre > 2L * target,
      s"fixture failed to create an oversized cell (max $pre <= ${2 * target})")
    val cents2 = Clustering.semanticCentroids(e, k, 220L)
    val nOversized = a1.groupBy($"cent_id").count()
      .filter($"count" > 2L * target).count()
    assert(cents2.count() == cents1.count() + nOversized,
      "split must promote exactly one centroid per oversized cell")
    // re-assign rn=1 against the enlarged set: max cell strictly
    // shrinks (the rebalance claim, pinned as a ratio)
    val d2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"dd".asc, $"cent_id".asc)
    val post = e.crossJoin(broadcast(cents2))
      .withColumn("dd", d2($"emb", $"c_emb"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .groupBy($"cent_id").count().agg(max("count")).head().getLong(0)
    assert(post < pre,
      s"post-split max cell $post did not shrink from $pre")
    // ratio pin: the diagonal segment splits at the midpoint between
    // the recomputed centre (~500) and the promoted far end (~600),
    // keeping ≤ ~3/4 of the mass — pin at 80% with margin
    assert(post.toDouble <= 0.8 * pre.toDouble,
      s"max-cell ratio post/pre = ${post.toDouble / pre} not <= 0.8 " +
        s"(post/target = ${post.toDouble / target})")
  }

  test("kmeans recovers two well-separated blobs exactly") {
    // 40 points at distance ~0.01 around (0,0) and (10,10): any seeds
    // split them after 3 iterations; each final cluster is pure
    val pts = spark.range(0, 80).select($"id".as("vec_id"),
      array(
        when($"id" % 2 === 0, lit(0.0)).otherwise(lit(10.0))
          + ($"id" % 5).cast("double") / 500.0,
        when($"id" % 2 === 0, lit(0.0)).otherwise(lit(10.0))
          + ($"id" % 7).cast("double") / 700.0).as("emb"))
    val (cents, assigned) = Clustering.kmeans(pts, 2, 3)
    assert(cents.count() == 2)
    // purity: within one cluster, all members share a blob (first
    // coordinate < 5 or >= 5)
    val purity = assigned
      .select($"cent_id", (element_at($"emb", 1) < 5.0).as("low"))
      .groupBy($"cent_id")
      .agg(countDistinct($"low").as("blobs"))
      .agg(max($"blobs")).head().getLong(0)
    assert(purity == 1L, "a cluster mixes the two blobs")
    // and the centroids sit in different blobs
    val cs = cents.select(element_at($"c_emb", 1)).as[Double].collect().sorted
    assert(cs(0) < 5.0 && cs(1) > 5.0)
  }
}
