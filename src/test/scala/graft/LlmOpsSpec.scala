package graft

import org.apache.spark.sql.functions._

import graft.ops.{LlmOps, TrainingOps, core}

/** SURVEY §2.10 + training-data extras: semantic properties that the
  * hash-oracle can't check (MinHash/SimHash have no DuckDB twin).
  */
class LlmOpsSpec extends SparkSuite {

  private val rowsExpected =
    (LlmOps.queries ++ TrainingOps.queries) -
      ("q_dedup_minhash", "q_dedup_simhash", "q_dedup_embed", "q_dedup_ngram",
        "q_dedup_components", "q_dedup_embed_lsh", "q_dedup_embed_lsh_t9")

  for ((name, fn) <- rowsExpected) {
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
    }
  }

  for (name <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_embed",
      "q_dedup_ngram", "q_dedup_components", "q_dedup_embed_lsh",
      // τ = 0.9 is empty BY SEMANTICS on the i.i.d.-random fixture
      // (cosine concentration); non-vacuous output pinned at the
      // clustered 10x gate fixture (490k exact-match pairs)
      "q_dedup_embed_lsh_t9")) {
    test(s"$name runs (pairs may legitimately be empty at sf0.001)") {
      assert(SparkEntry.queries(name)(spark, sf).count() >= 0)
    }
  }

  test("tf-idf of a term present in every doc is 0") {
    import spark.implicits._
    // build a tiny corpus where 'the' is in all docs
    val docs = Seq(
      (1L, "the quick fox", "en"), (2L, "the lazy dog", "en"),
      (3L, "the odd bird", "en"))
      .toDF("doc_id", "text", "lang")
    val tok = docs.select($"doc_id", explode(split($"text", " ")).as("word"))
    val tf = tok.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val n = docs.count().toDouble
    val score = tf.join(df, "word")
      .withColumn("score", $"tf" * log(lit(n) / $"df"))
      .filter($"word" === "the").select(sum(abs($"score"))).head().getDouble(0)
    assert(score == 0.0)
  }

  test("minhash: near-identical docs collide, disjoint docs don't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // ~0.78 jaccard
      (3L, "one two three four five six seven eight"))       // disjoint
      .toDF("doc_id", "text")
    val sig = LlmOps.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(i => r.getLong(i)))
      .toMap
    val eq12 = sig(1L).zip(sig(2L)).count { case (a, b) => a == b }
    val eq13 = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(eq12 >= 8, s"near-dups should share most signatures, got $eq12/16")
    assert(eq13 == 0, s"disjoint docs should share none, got $eq13/16")
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = LlmOps.qDedupExact(spark, sf)
    val keys = once.select("lang", "n_chars").distinct().count()
    assert(once.count() == keys, "dedup output must be unique per key")
  }

  test("cosine is bounded and cos(v, v) == 1") {
    import spark.implicits._
    val cos = LlmOps.qSimCosineTopk(spark, sf)
    val bad = cos.filter($"cos" > 1.000001 || $"cos" < -1.000001).count()
    assert(bad == 0)
    // self-similarity via the shared helper on identical join sides
    val e = LlmOps.normed(spark, sf).limit(5)
      .withColumn("selfcos",
        expr("aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (a, v) -> a + v)")
          / ($"nrm" * $"nrm"))
    e.select("selfcos").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    }
  }

  test("knn labels are within the 0..9 domain and votes sum to 5") {
    import spark.implicits._
    val knn = LlmOps.qSimKnnLabel(spark, sf)
    assert(knn.filter($"pred_label" < 0 || $"pred_label" > 9).count() == 0)
    assert(knn.filter($"votes" > 5).count() == 0)
  }

  test("LSH ANN: near-perfect recall on a clustered fixture (adaptive width)") {
    import spark.implicits._
    // the mechanism proof (PQ precedent): 40 clusters x 10 vectors,
    // tight jitter, CENTERED components — cluster-mates share sign
    // patterns, so bucketing must keep them together. n=400 gives
    // adaptive width 3 (8 buckets), so this also exercises w > 0,
    // which sf0.001's n=200 -> w=2 barely does and w=0 not at all.
    val dir = tempDir("graft_lshfix").toString
    spark.range(0, 400).select(col("id").as("vec_id"))
      .withColumn("c", col("vec_id") % 40)
      .withColumn("label", lit(0))
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), d -> CAST(
          |  (pmod(hash(c * 131 + d), 1000) / 1000.0 - 0.5) +
          |  (pmod(hash(vec_id * 17 + d), 100) / 50000.0 - 0.001)
          |  AS FLOAT))""".stripMargin))
      .select("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val bf = ops.LlmOps.qSimCosineTopk(spark, dir)
      .filter($"rn" <= 3).select($"a_id", $"b_id")
      .collect().map(_.toSeq).toSet
    val lsh = ops.TrainingOps.qSimAnnLsh(spark, dir)
      .select($"a_id", $"b_id").collect().map(_.toSeq).toSet
    val recall = lsh.intersect(bf).size.toDouble / bf.size
    info(s"clustered-fixture LSH recall = $recall over ${bf.size} pairs")
    assert(recall >= 0.9,
      s"adaptive-width LSH must keep cluster-mates bucketed: recall $recall")
  }

  test("LSH/IVF ANN: sf0.01 recall floors on the weak-structure fixture") {
    import spark.implicits._
    // the random fixture has little cluster structure, so 1-probe
    // recall is mechanism-bounded (the IVF pin's documented context:
    // guards assignment correctness, not quality) — measured 0.213
    // (LSH, w=2 -> 4 buckets) and 0.204 (IVF, 16 cells) at sf0.01
    val sf01 = "/root/testdata/sf0.01"
    val bf = ops.LlmOps.qSimCosineTopk(spark, sf01)
      .filter($"rn" <= 3).select($"a_id", $"b_id")
      .collect().map(_.toSeq).toSet
    for ((name, df, floor) <- Seq(
        ("lsh", ops.TrainingOps.qSimAnnLsh(spark, sf01), 0.15),
        ("ivf", ops.TrainingOps.qSimAnnIvf(spark, sf01), 0.15))) {
      val got = df.select($"a_id", $"b_id").collect().map(_.toSeq).toSet
      val recall = got.intersect(bf).size.toDouble / bf.size
      info(s"$name sf0.01 recall = $recall")
      assert(recall >= floor, s"$name recall $recall below $floor")
    }
  }

  test("LSH ANN: bucket neighbors are a subset of brute-force pairs' scores") {
    import spark.implicits._
    // recall proxy: every LSH neighbor's cosine must be <= the true
    // rank-1 brute-force cosine for that query vector
    val bf1 = LlmOps.qSimCosineTopk(spark, sf)
      .filter($"rn" === 1).select($"a_id", $"cos".as("best"))
    val lsh = TrainingOps.qSimAnnLsh(spark, sf)
      .select($"a_id", $"cos")
    val bad = lsh.join(bf1, "a_id").filter($"cos" > $"best" + 1e-9).count()
    assert(bad == 0, "LSH cannot beat brute force")
  }

  test("embed-LSH threshold pairs: exact precision, pinned recall vs all-pairs") {
    import spark.implicits._
    // precision is exact BY CONSTRUCTION (candidates pass the same
    // exact-cosine filter), so lsh ⊆ all-pairs must hold as sets;
    // recall is what banding+multi-probe buys and must stay pinned.
    // sf0.01: sf0.001 has zero cos>=0.5 pairs (vacuously green)
    val sf01 = "/root/testdata/sf0.01"
    val allp = TrainingOps.qDedupEmbed(spark, sf01)
      .select($"a_id", $"b_id").collect().map(_.toSeq).toSet
    val lsh = TrainingOps.qDedupEmbedLsh(spark, sf01)
      .select($"a_id", $"b_id").collect().map(_.toSeq).toSet
    assert((lsh -- allp).isEmpty,
      "embed-LSH emitted a pair the exact all-pairs join does not contain")
    val recall =
      if (allp.isEmpty) 1.0 else lsh.intersect(allp).size.toDouble / allp.size
    info(s"embed-LSH recall = $recall over ${allp.size} true pairs")
    assert(recall >= 0.9,
      s"embed-LSH recall $recall below pinned 0.9 (${allp.size} true pairs)")
  }

  test("production-tau embed-LSH (t=0.9): full recall on a clustered fixture, exact precision") {
    import spark.implicits._
    // the tau=0.9 operating point (dedupEmbedLshTau, SCALING.md r6)
    // on data with REAL near-dup structure: 20 clusters x 10 near-
    // identical centered vectors (the q_dedup_semantic spec fixture
    // pattern) — every within-cluster pair has cos ~ 1 and must
    // survive the longer adaptive band keys; cross-cluster pairs are
    // near-orthogonal and must be filtered by the exact cosine
    val dir = tempDir("graft_tau9").toString
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
    val got = TrainingOps.dedupEmbedLshTau(spark, dir)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      c <- 0L until 20L; i <- 0L until 10L; j <- (i + 1) until 10L
    } yield (c + i * 20, c + j * 20)).toSet
    assert(expected.subsetOf(got),
      s"tau=0.9 LSH missed ${(expected -- got).size} of ${expected.size} within-cluster pairs")
    // precision: anything beyond the within-cluster pairs must still
    // genuinely clear the 0.9 threshold — on this fixture the
    // cross-cluster cosines are ~0, so the sets should be EQUAL
    assert(got == expected,
      s"tau=0.9 LSH emitted ${(got -- expected).size} cross-cluster pairs")
  }

  test("IVF ANN recall vs brute-force top-3 is pinned") {
    import spark.implicits._
    // nprobe=1 IVF: a true neighbor is findable only when it shares
    // the query's cell, so recall < 1 by design — pin the fixture
    // floor so a regression in centroid assignment shows up loudly.
    val bf = LlmOps.qSimCosineTopk(spark, sf)
      .filter($"rn" <= 3).select($"a_id", $"b_id")
      .collect().map(_.toSeq).toSet
    val ivf = TrainingOps.qSimAnnIvf(spark, sf)
      .select($"a_id", $"b_id").collect().map(_.toSeq).toSet
    val recall =
      if (bf.isEmpty) 1.0 else ivf.intersect(bf).size.toDouble / bf.size
    // measured 0.205 on this fixture: the synthetic embeddings have
    // weak cluster structure, so a 1-cell probe over 16 cells finds
    // ~1/5 of true top-3 neighbors — recall here is bought with
    // nprobe, and the pin guards assignment correctness, not quality
    info(s"IVF recall = $recall over ${bf.size} brute-force top-3 pairs")
    assert(recall >= 0.15,
      s"IVF nprobe=1 recall $recall below pinned fixture floor 0.15")
  }

  test("bigram array matches positional semantics, incl. 1-token docs") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "solo"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = df
      .select($"doc_id", LlmOps.bigramsOf(split($"text", " ")).as("bg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b", "b c"))
    assert(got(2L).isEmpty, "single-token doc must yield no bigrams")
    assert(got(3L) == Seq("x y"))
  }

  test("minhash candidates stay far below all-pairs; output clears tau") {
    import spark.implicits._
    val docs = core.t(spark, sf, "documents")
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val cand = LlmOps
      .minhashCandidatePairs(LlmOps.minhashSignatures(docs)).count()
    // r1's 4x4 banding emitted ~50% of all pairs; 2x8 banding emits
    // only pairs with >=8 agreeing signatures (est_jaccard >= 0.5 by
    // construction). The 31-word-vocab fixture genuinely contains
    // ~16% such near-dup pairs, so the bound is 20%, not 1% — on a
    // real corpus the truly-similar fraction (and thus this set) is
    // tiny.
    assert(cand <= allPairs / 5,
      s"candidate set must be <<all-pairs: got $cand of $allPairs")
    val out = LlmOps.qDedupMinhash(spark, sf)
    assert(out.filter($"est_jaccard" < LlmOps.MinhashTau).count() == 0,
      "q_dedup_minhash must only emit pairs at or above tau")
  }

  test("simhash banding has exact recall vs the all-pairs join") {
    val sig = TrainingOps
      .simhashSignatures(core.t(spark, sf, "documents")).cache()
    val banded = TrainingOps.simhashPairsBanded(sig)
      .collect().map(_.toSeq).toSet
    val allp = TrainingOps.simhashPairsAllPairs(sig)
      .collect().map(_.toSeq).toSet
    assert(banded == allp,
      s"banded=${banded.size} allpairs=${allp.size}; sets must be identical")
  }

  test("simhash banding keeps exact recall at the 32/64-bit widths") {
    // the adaptive widths (r9): the pigeonhole recall argument must
    // hold for every band layout, not just the 16-bit one the small
    // fixtures exercise
    val docs = core.t(spark, sf, "documents")
    for (w <- Seq(32, 64)) {
      val sig = TrainingOps.simhashSignatures(docs, w).cache()
      val banded = TrainingOps.simhashPairsBanded(sig, w)
        .collect().map(_.toSeq).toSet
      val allp = TrainingOps.simhashPairsAllPairs(sig)
        .collect().map(_.toSeq).toSet
      assert(banded == allp,
        s"w=$w banded=${banded.size} allpairs=${allp.size}; must be identical")
      // each band layout must tile [0, w) exactly
      val bands = TrainingOps.simhashBands(w)
      assert(bands.size == 5 && bands.map(_._2).sum == w &&
        bands.sliding(2).forall { case Seq((o1, l1), (o2, _)) => o1 + l1 == o2 },
        s"w=$w band layout must be a 5-band tiling: $bands")
      sig.unpersist()
    }
    // width thresholds: 16-bit up to 16 k docs (all committed fixture
    // scales), then 32, then 64
    assert(TrainingOps.simhashWidth(500L) == 16)
    assert(TrainingOps.simhashWidth(16384L) == 16)
    assert(TrainingOps.simhashWidth(16385L) == 32)
    assert(TrainingOps.simhashWidth(262144L) == 32)
    assert(TrainingOps.simhashWidth(262145L) == 64)
  }

  test("IVF ANN: partitions every vector and never beats brute force") {
    import spark.implicits._
    val ivf = TrainingOps.qSimAnnIvf(spark, sf).cache()
    // every vector with >=1 cell-mate must appear as a query
    assert(ivf.select($"a_id").distinct().count() > 0)
    assert(ivf.select($"cent_id").distinct().count() > 1,
      "expected multiple IVF cells")
    val bf1 = LlmOps.qSimCosineTopk(spark, sf)
      .filter($"rn" === 1).select($"a_id", $"cos".as("best"))
    val bad = ivf.join(bf1, "a_id").filter($"cos" > $"best" + 1e-9).count()
    assert(bad == 0, "IVF neighbors cannot beat brute force")
  }

  test("simhash: identical token multisets get identical signatures") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc dd", "en"), (2L, "aa bb cc dd", "en"),
      (3L, "xx yy zz ww", "en"))
      .toDF("doc_id", "text", "lang")
    val sig = TrainingOps.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sig(1L) == sig(2L), "identical docs must collide")
    assert(sig(1L) != sig(3L), "distinct docs should (generically) differ")
  }

  test("connected components: min-label propagation over a known graph") {
    import spark.implicits._
    // two chains and a singleton-free isolated pair:
    // {1-2, 2-3, 3-4} -> comp 1; {10-11} -> comp 10; {7-8, 8-9} -> comp 7
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (8L, 7L),
      (9L, 8L)).toDF("a_id", "b_id")
    val got = TrainingOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L, 8L -> 7L, 9L -> 7L)
    assert(got == want, s"got $got")
  }

  test("connected components: pointer jumping handles a deep chain fast") {
    import spark.implicits._
    // a 2000-node single chain has diameter 1999 — plain propagation
    // would blow the 50-round cap; pointer jumping needs ~11 rounds
    val edges = spark.range(1, 2000L)
      .select(($"id" - 1).as("a_id"), $"id".as("b_id"))
    val got = TrainingOps.connectedComponents(edges)
    assert(got.select($"comp").distinct().count() == 1)
    assert(got.filter($"comp" =!= 0L).count() == 0,
      "every node must label to the chain minimum 0")
  }

  test("quality score stays in [0, 1]") {
    import spark.implicits._
    val q = TrainingOps.qTextQuality(spark, sf)
    assert(q.filter($"quality" < 0 || $"quality" > 1).count() == 0)
  }

  test("quantize: codes bounded by 255*dims, error bounded by scale") {
    import spark.implicits._
    val q = LlmOps.qEmbedQuantize(spark, sf)
    val dims = 64
    // every code is in 0..255, so the checksum is in [0, 255*dims]
    assert(q.filter($"sum_codes" < 0 || $"sum_codes" > 255L * dims)
      .count() == 0)
    // per-dim error <= (scale/2)^2 with scale = range/255; ranges on
    // these embeddings are <= ~2, so the total is far under dims*1e-4
    assert(q.filter($"sq_err" < 0 || $"sq_err" > dims * 1e-4).count() == 0)
  }
}
