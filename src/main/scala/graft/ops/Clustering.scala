package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import core._

/** Embedding clustering (round 4 addition to SURVEY §2.11) — the
  * k-means build step behind semantic dedup / cluster-balanced
  * curation of training corpora (cluster, then prune or rebalance
  * per cluster).
  */
object Clustering {

  /** Squared L2 distance as the ORDER-IDENTICAL left-to-right fold
    * both engines run over identical doubles (codegen'd
    * [[graft.functions.Dist2]] ↔ DuckDB
    * `list_reduce(list_prepend(0.0, …))`) — the similarity-family
    * rule (LlmOps scaladoc): raw doubles may drive ranking when the
    * fold order is pinned, so argmin needs no pre-rounding.
    *
    * r14 (optimization): was the HOF form `aggregate(zip_with(a, b,
    * (x,y) -> (x-y)*(x-y)), 0D, (acc,v) -> acc+v)` — a
    * CodegenFallback chain interpreting two lambdas and allocating an
    * intermediate array per candidate row, the dominant per-row cost
    * of every kmeans/PQ/semantic-blocking assignment loop. The fused
    * codegen loop runs the identical IEEE arithmetic in the identical
    * order (Dist2Spec pins bit-equality against the HOF form on both
    * eval paths), so ranking and the oracle hash are unchanged.
    */
  private def dist2(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.Dist2.dist2(a, b)

  /** Deterministic Lloyd k-means: md5-seeded initial centroids (the
    * q_sim_ann_ivf seeding), `iters` unrolled iterations over any
    * (vec_id, emb: array<double>) frame; returns (final centroids as
    * (cent_id, c_emb), final assignment as (vec_id, cent_id, d2,
    * emb)). ClusteringSpec drives it on crafted blobs.
    *
    * Cross-engine exactness, piece by piece (§5.3):
    *  - assignment argmin ranks the raw d² fold (order-identical, see
    *    [[dist2]]) with cent_id tiebreak;
    *  - centroid recompute is the q_agg_vector_centroid pattern —
    *    per-dim DECIMAL(20,8) sums (exact, order-independent), ONE
    *    `round(sum/n, 8)` at the end (HALF_UP ↔ DuckDB round on
    *    DOUBLE, CLAUDE.md rule) — so the centroid that re-enters the
    *    next iteration's distance is the same double in both engines;
    *  - empty clusters simply drop (no rows to recompute from) —
    *    identical on both sides.
    *
    * Scale shape per iteration: centroids are k·dims scalars —
    * broadcast; the candidate scoring is a broadcast nested-loop over
    * k=8 rows (no corpus shuffle); the argmin is a combinable
    * min(struct) groupBy — 8 candidate rows per vec collapse to 1
    * map-side before the vec_id exchange; the recompute group-by has
    * k·dims = 512 groups, fully map-side combined. 3 iterations
    * unroll into one declarative plan, no driver-side data.
    */
  def kmeans(e: DataFrame, k: Int, iters: Int,
      cacheFinal: Boolean = true, loopParts: Int = 0): (DataFrame, DataFrame) = {
    val s = e.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window

    val seedW = Window.orderBy($"seed_rank", $"vec_id")
    var cents = e
      .withColumn("seed_rank", md5(concat(lit("km"), $"vec_id".cast("string"))))
      .orderBy($"seed_rank", $"vec_id").limit(k)
      .withColumn("cent_id", row_number().over(seedW))
      .select($"cent_id", $"emb".as("c_emb"))

    var assigned: DataFrame = null
    for (i <- 1 to iters) {
      assigned = e.crossJoin(broadcast(cents))
        .withColumn("d2", dist2($"emb", $"c_emb"))
        .groupBy($"vec_id")
        .agg(min(struct($"d2", $"cent_id", $"emb")).as("w"))
        .select($"vec_id", $"w.cent_id".as("cent_id"),
          $"w.d2".as("d2"), $"w.emb".as("emb"))
      // cacheFinal: when the caller consumes BOTH outputs (qMlKmeans
      // reads final centroids AND sizes), plans are trees, so without
      // materialization the whole iteration chain would execute
      // twice. Same build-step cache as qSimAnnIvf's index (at scale:
      // the persisted cluster index); Verify/Bench clearCache between
      // keys. The materialization runs AQE-off (the pagerank
      // rationale: the unrolled chain is many sequential stages over
      // small frames). Single-consumer callers (qMlClusterPrune
      // discards the centroids) pass cacheFinal = false and pay
      // nothing.
      if (i == iters && cacheFinal)
        assigned = core.noAqeMaterialized(s, loopParts)(assigned)
      cents = assigned
        .select($"cent_id", posexplode(
          expr("transform(emb, x -> CAST(round(x, 8) AS DECIMAL(20, 8)))"))
          .as(Seq("pos", "v")))
        .groupBy($"cent_id", $"pos")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
        .select($"cent_id", $"pos",
          round($"sv".cast("double") / $"n", 8).as("c"))
        .groupBy($"cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("c_emb"))
    }
    (cents, assigned)
  }

  /** The registered key: k = 8, 3 iterations over the embeddings
    * fixture; output = per-(cluster, dim) centroid plus cluster size.
    */
  def qMlKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    // loop shuffles are vector-count-sized — derive the reduce width
    // from n (r15, guide §2), not the session's cpu default
    val (cents, assigned) = kmeans(e, 8, 3,
      loopParts = core.loopPartitions(core.tableRows(s, dir, "embeddings")))
    val sizes = assigned.groupBy($"cent_id").agg(count(lit(1)).as("n_members"))
    cents
      .select($"cent_id", posexplode($"c_emb").as(Seq("pos", "c")))
      .select($"cent_id", ($"pos" + 1).as("dim"), $"c")
      .join(broadcast(sizes), Seq("cent_id"))
      .select($"cent_id", $"n_members", $"dim", $"c")
      .orderBy($"cent_id", $"dim")
  }

  /** The k = 8, 3-iteration Lloyd ASSIGNMENT over the embeddings
    * fixture — (cent_id, vec_id, d2), laid out by cluster — persisted
    * once per (dir, JVM) via [[core.persistedIndex]] (r7). The
    * assignment is deterministic (md5 seeds, integer-exact centroid
    * re-entry, raw-double d² fold that parquet round-trips
    * bit-exactly), so DOWNSTREAM CONSUMERS serve from the persisted
    * artifact instead of re-running the Lloyd chain — the
    * IVF-index/edge-list pattern (VERDICT r6 task 1): at 100 TB a
    * clustering model+assignment is trained once and shared by every
    * curation step that follows. [[qMlKmeans]] itself keeps COMPUTING
    * the chain — the registered key measures the build, not the read
    * (KmeansIndexSpec pins read ≡ rebuild).
    */
  def kmeansAssignDir(s: SparkSession, dir: String): String =
    core.persistedIndex("km8x3", dir) { path =>
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val (_, assigned) = kmeans(e, 8, 3, cacheFinal = false)
      assigned.select($"cent_id", $"vec_id", $"d2")
        .repartition(col("cent_id"))
        .write.mode("overwrite").parquet(path)
    }

  /** Cluster-balanced pruning — keep the 10 most-central vectors per
    * k-means cluster (the curation step after the build: prune each
    * semantic region to its most representative members instead of
    * truncating the corpus globally). Ranks the RAW d² (the
    * similarity-family rule: the fold is order-identical across
    * engines) with vec_id tiebreak; d² rounds only on output.
    *
    * Serves from the persisted assignment ([[kmeansAssignDir]], r7):
    * the pre-r7 form re-ran the whole 3-iteration Lloyd chain that
    * q_ml_kmeans also computes (~2.2 s of every bench execution paying
    * for work the model artifact already holds).
    *
    * Scale shape: rn ≤ 10 over a cent_id window compiles to
    * WindowGroupLimit — every task pre-prunes to its local top-10 per
    * cluster, so at most 10·tasks rows per cluster reach the final
    * per-cluster exchange regardless of corpus size (k itself scales
    * with the corpus in practice; it is a parameter here).
    */
  def qMlClusterPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val assigned = s.read.parquet(kmeansAssignDir(s, dir))
    val w = Window.partitionBy($"cent_id").orderBy($"d2".asc, $"vec_id".asc)
    assigned
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"cent_id", $"rn", $"vec_id", r6($"d2").as("d2"))
      .orderBy($"cent_id", $"rn")
  }

  /** Product quantization (the third leg of the ANN index toolchain
    * beside IVF routing and int8 scalar quantization): split each
    * 64-dim vector into 8 subspaces of 8 dims, build a deterministic
    * 16-entry codebook per subspace (md5-sampled subvectors — the
    * q_sim_ann_ivf seeding, no RNG), assign each subvector to its
    * nearest codeword, and emit the packed 32-bit PQ code (a 4-bit
    * digit per subspace) plus the total reconstruction error.
    *
    * Determinism (§5.3): argmin ranks the raw order-identical d² fold
    * with cent_id tiebreak (the similarity-family rule); the per-vec
    * error sums subspace d²s as DECIMAL(20,8) after an 8-dp round
    * (order-independent — the kmeans centroid rule), r6 only on
    * output; the packed code is pure integer arithmetic.
    *
    * Scale shape: subvector explode is map-side (×8 row fan-out, no
    * shuffle); codebooks are 128 rows picked by rn ≤ 16 per subspace —
    * WindowGroupLimit pre-prunes every task to its local top-16, then
    * the tiny frame broadcasts; assignment is a broadcast join + a
    * combinable min(struct) argmin (16 candidates collapse map-side);
    * the final pack is one vec_id-keyed combinable agg. (Production
    * PQ uses 256 codewords/subspace; 16 keeps the interpreted DuckDB
    * oracle inside its time budget — the Spark plan is identical
    * either way.)
    */
  /** Per-(vec, subspace) slices: (vec_id, s ∈ 0..7, subv: 8 doubles). */
  private def pqSub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .select($"vec_id", explode(sequence(lit(0), lit(7))).as("s"), $"emb")
      .select($"vec_id", $"s", expr("slice(emb, s * 8 + 1, 8)").as("subv"))
  }

  /** The deterministic 16-entry codebook per subspace (md5-sampled —
    * the q_sim_ann_ivf seeding): (cs, cent_id ∈ 1..16, c_sub).
    */
  private def pqBooks(sub: DataFrame): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val seedW = Window.partitionBy($"s").orderBy($"seed_rank", $"vec_id")
    sub
      .withColumn("seed_rank",
        md5(concat(lit("pq"), $"s".cast("string"), $"vec_id".cast("string"))))
      .withColumn("cent_id", row_number().over(seedW))
      .filter($"cent_id" <= 16)
      .select($"s".as("cs"), $"cent_id", $"subv".as("c_sub"))
  }

  /** Nearest-codeword assignment: (vec_id, s, w = (d2, cent_id)). */
  private def pqAssign(sub: DataFrame, books: DataFrame): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    sub.join(broadcast(books), $"s" === $"cs")
      .withColumn("d2", dist2($"subv", $"c_sub"))
      .groupBy($"vec_id", $"s")
      .agg(min(struct($"d2", $"cent_id")).as("w"))
  }

  def qEmbedPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = pqSub(s, dir)
    // recon_err is the EXACT DECIMAL(20,8) sum cast to double — NOT
    // re-rounded to 6 dp. The 10× gate (CORRECTNESS_10x) caught a
    // divergence r6(…) cannot survive: an 8-dp decimal sum lands on
    // an exact 7th-decimal midpoint (…4.0945835) often enough at
    // 50 k rows, and there Spark's round (shortest-decimal-string
    // HALF_UP → .584) disagrees with DuckDB's round (C std::round of
    // the BINARY value 4.09458349999… → .583). A correctly-rounded
    // DECIMAL→DOUBLE cast is the same bits in both engines; rounding
    // a second time is what reintroduces engine dependence.
    pqAssign(sub, pqBooks(sub))
      .groupBy($"vec_id")
      .agg(
        sum(expr("CAST(w.cent_id - 1 AS BIGINT) * shiftleft(CAST(1 AS BIGINT), s * 4)"))
          .as("code"),
        sum(expr("CAST(round(w.d2, 8) AS DECIMAL(20, 8))")).as("errsum"))
      .select($"vec_id", $"code",
        $"errsum".cast("double").as("recon_err"))
      .orderBy($"vec_id")
  }

  /** PQ-ADC approximate nearest-neighbor search — the serving-side
    * complement of [[qEmbedPq]]'s build step and the plan a PQ index
    * actually executes: queries (the first 10 vectors) precompute a
    * tiny lookup table of exact subspace distances to every codeword
    * (asymmetric distance computation — query side raw, database side
    * quantized), the database is touched ONLY through its codes, and
    * the approximate distance is the 8-way LUT sum. Top-3 per query,
    * self excluded.
    *
    * Determinism (§5.3): each LUT entry is the order-identical d²
    * fold rounded to DECIMAL(20,8) (the kmeans re-entry rule), the
    * 8-subspace sum is a DECIMAL aggregate (order-independent), and
    * ranking compares those exact decimals with vec_id tiebreak — no
    * double-summation-order hazard anywhere.
    *
    * Scale shape: the LUT is |Q|·8·16 rows — broadcast; the corpus is
    * scanned once for codes (map-only after the build's argmin), the
    * LUT join is map-side, the (q, vec) sum is combinable, and rk ≤ 3
    * compiles to WindowGroupLimit. This is why PQ serves at scale:
    * the full vectors never enter the search plan.
    *
    * Recall honesty: the fixture embeddings are i.i.d.-random, PQ's
    * theoretical worst case — distances concentrate, so the
    * quantization error exceeds the nearest-vs-median neighbor gap
    * and recall@3 vs exact L2 is 5/30 (sf0.001) and 1/30 (sf0.1).
    * The MECHANISM is what this key certifies (ClusteringSpec pins
    * that ADC exactly recovers cluster structure on a crafted
    * clustered corpus, where the gap dominates the error); on real
    * embedding manifolds PQ recall is set by codebook size, which is
    * a parameter here (16 vs the production 256).
    */
  /** The PQ index — per-subspace codebooks plus the corpus codes —
    * persisted once per (dir, JVM) via [[core.persistedIndex]] (r7):
    * [[qEmbedPq]] keeps COMPUTING the build (the registered key
    * measures codebook construction + assignment), while the ADC
    * serving path reads the artifact — which is precisely what a PQ
    * index IS in production: codes live on disk, queries touch only
    * the LUT join. Deterministic: md5-seeded books, integer codes,
    * raw-double subvectors that parquet round-trips bit-exactly.
    */
  def pqIndexDir(s: SparkSession, dir: String): String =
    core.persistedIndex("pqindex", dir) { path =>
      import s.implicits._
      val sub = pqSub(s, dir)
      val books = pqBooks(sub)
      books.coalesce(1).write.mode("overwrite").parquet(s"$path/books")
      pqAssign(sub, books)
        .select($"vec_id", $"s".as("xs"), $"w.cent_id".as("xcent"))
        .write.mode("overwrite").parquet(s"$path/codes")
    }

  def qSimAnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val idx = pqIndexDir(s, dir)
    val books = s.read.parquet(s"$idx/books")
    val codes = s.read.parquet(s"$idx/codes")
    val lut = pqSub(s, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"s".as("qs"), $"subv".as("q_sub"))
      .join(books, $"qs" === $"cs")
      .withColumn("d", dist2($"q_sub", $"c_sub"))
      .select($"q_id", $"qs", $"cent_id",
        expr("CAST(round(d, 8) AS DECIMAL(20, 8))").as("ad"))
    val w = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id".asc)
    codes.join(broadcast(lut),
        $"xs" === $"qs" && $"xcent" === $"cent_id")
      .filter($"q_id" =!= $"vec_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"ad").as("adist"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      // exact DECIMAL→DOUBLE cast, no re-round — the qEmbedPq
      // midpoint note; ranking already compares the exact decimals
      .select($"q_id", $"rk", $"vec_id",
        $"adist".cast("double").as("adist"))
      .orderBy($"q_id", $"rk")
  }

  /** SemDeDup-style semantic near-dup pairs: k-means cells as the
    * candidate blocks (the data-adaptive counterpart to
    * q_dedup_embed_lsh's sign-LSH blocking), exact codegen-dot cosine
    * ≥ 0.5 within each block. Multi-probe nprobe = 2 — every vector
    * joins its TWO nearest cells, so a pair is a candidate when their
    * cell sets intersect; measured recall vs the all-pairs oracle at
    * sf0.1 is 11/14 (nprobe = 1 finds 3/14 — the fixture τ = 0.5 sits
    * at the same hardness floor the LSH scaladoc derives; production
    * SemDeDup thresholds ≥ 0.9 co-locate pairs far more tightly).
    * Same pair contract as the embed-dedup family (a < b, raw-cosine
    * gate, r6 on survivors) plus the lowest cell id that generated
    * the candidate — at 100 TB the n² pair space collapses to
    * Σ (nprobe·cell)², and cells track the data distribution where
    * LSH bands are data-oblivious.
    *
    * Determinism: top-2 cells rank the raw order-identical d² fold
    * with cent_id tiebreak; a pair matching in both shared cells
    * computes the identical rawcos twice, so the (a, b) group-by
    * collapses duplicates exactly; min(cent_id) is pure integer.
    */
  /** The semantic-dedup blocking centroid set: ONE Lloyd pass (r6 —
    * the centroids only BLOCK here; pair recall depends on near-dups
    * landing in a shared probe cell, not on centroid convergence, and
    * ClusteringSpec pins that one pass still recovers every
    * within-cluster pair on the clustered fixture; measured ~2×
    * faster than three passes at both probe scales) followed by the
    * r7 cell-split rebalance (VERDICT r6 task 4): one pass leaves
    * cells less balanced than convergence would, and the pair bound
    * is Σ(2·cell)² — a few oversized cells carry a growing constant
    * at scale. Any cell holding more than TWICE the integer
    * even-split target ⌈n/k⌉ promotes its FARTHEST member (max d2,
    * min vec_id tiebreak — a combinable max(struct), so the stats
    * pass is cell-sized, never corpus-sized) as an extra centroid;
    * the caller's probe assignment then runs against the enlarged
    * set, so an oversized region splits between its old centre and
    * its remotest point. Promoted ids start at k + 1 (original ids
    * never exceed k) via a window over the ≤k-row stats frame. The
    * oracle mirrors the identical integer threshold ((n + k − 1) //
    * k) and the same (d2 desc, vec_id) farthest choice.
    * kmeans(cacheFinal = true): the pass's own assignment feeds the
    * split stats as cache reads, not a chain re-execution.
    */
  def semanticCentroids(e: DataFrame, kSem: Int, n: Long): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (cents, a1) = kmeans(e, kSem, 1,
      loopParts = core.loopPartitions(n))
    val target = (n + kSem - 1) / kSem
    val promoted = a1.groupBy($"cent_id")
      .agg(count(lit(1)).as("sz"),
        max(struct($"d2", (-$"vec_id").as("nv"), $"emb")).as("far"))
      .filter($"sz" > lit(2L) * target)
      .withColumn("new_id",
        lit(kSem.toLong) + row_number().over(Window.orderBy($"cent_id")))
      .select($"new_id".cast("int").as("cent_id"), $"far.emb".as("c_emb"))
    cents.union(promoted)
  }

  /** The full semantic-pair chain at the RAW level: (a_id, b_id,
    * cell, rawcos) with the τ = 0.5 recall gate but no output
    * rounding — the shared core behind the registered build key
    * ([[qDedupSemantic]]) and the persisted pair artifact
    * ([[semPairsDir]]). rawcos is the order-identical `graft_dot`
    * fold, bit-identical to the oracle's list_reduce and exact
    * through a parquet round-trip, so downstream consumers can
    * threshold the stored raw value at any production τ ≥ 0.5.
    */
  def semanticPairsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DotProduct.dot
    val e = t(s, dir, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    // k grows with the corpus (max(8, ceil(sqrt n)) — the IVF balance:
    // assignment n·k vs pair work Σ(2·cell)² ≈ 4n²/k; a FIXED k is the
    // n²/k quadratic ScaleProbeSf1 exposed in the ANN family, r5).
    // n is the embeddings footer row count (core.tableRows); the
    // oracle recomputes the identical k from count(*) (IEEE sqrt,
    // cross-engine exact).
    val n = core.tableRows(s, dir, "embeddings")
    val kSem = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val cents2 = semanticCentroids(e, kSem, n)
    val probeW = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cent_id".asc)
    // cached + materialized: the pair self-join reads the membership
    // frame twice — plans are trees (the qMlKmeans cache note) — and
    // the Lloyd pass + probe assignment upstream is the multi-stage
    // node-sized chain the AQE-off scope exists for (the pagerank
    // rationale); the pair join itself stays outside, under AQE
    val m = core.noAqeMaterialized(s,
        core.loopPartitions(n)) {
      e.crossJoin(broadcast(cents2))
        .withColumn("d2", dist2($"emb", $"c_emb"))
        .withColumn("rn", row_number().over(probeW))
        .filter($"rn" <= 2)
        .select($"cent_id", $"vec_id", $"emb",
          sqrt(dot($"emb", $"emb")).as("nrm"))
    }
    val b = m.select($"cent_id".as("cent_b"), $"vec_id".as("b_id"),
      $"emb".as("b_emb"), $"nrm".as("b_nrm"))
    m.join(b, $"cent_id" === $"cent_b" && $"vec_id" < $"b_id")
      .withColumn("rawcos",
        try_divide(dot($"emb", $"b_emb"), $"nrm" * $"b_nrm"))
      .filter($"rawcos" >= 0.5)
      .groupBy($"vec_id".as("a_id"), $"b_id")
      .agg(min($"cent_id").as("cell"), max($"rawcos").as("rawcos"))
  }

  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    semanticPairsRaw(s, dir)
      .select($"a_id", $"b_id", $"cell", r6($"rawcos").as("cos"))
      .orderBy($"a_id", $"b_id")
  }

  /** The semantic pair list persisted once per (dir, JVM) — the r7
    * shared-derived-artifact pattern extended to the single largest
    * 100×-probe cost (VERDICT r7 task 2): at 100 TB this op is an
    * index BUILD whose pair output downstream curation serves from,
    * not a per-query path. [[qDedupSemantic]] keeps COMPUTING the
    * chain (the registered producer measures the build);
    * [[qDedupSemanticT9]] reads the artifact. SemanticIndexSpec pins
    * build-once + read ≡ rebuild.
    */
  def semPairsDir(s: SparkSession, dir: String): String =
    core.persistedIndex("sempairs", dir) { path =>
      semanticPairsRaw(s, dir).write.mode("overwrite").parquet(path)
    }

  /** The PRODUCTION operating point (VERDICT r7 task 2b): SemDeDup
    * thresholds τ ≥ 0.9, where near-dup pairs co-locate tightly in
    * probe cells — the regime whose 10×→100× exponent measured ≈ 1.0
    * in the embed-LSH twin. Serves from the persisted pair artifact
    * (filter + round only); oracle-checked against the full DuckDB
    * recompute at τ = 0.9, so the production path is correctness-
    * gated, not just probed. Thresholding the RAW stored cosine is
    * exact cross-engine: rawcos is an order-identical fold
    * (graft_dot ↔ list_reduce) and parquet round-trips doubles
    * bit-exactly.
    */
  def qDedupSemanticT9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(semPairsDir(s, dir))
      .filter($"rawcos" >= 0.9)
      .select($"a_id", $"b_id", $"cell", r6($"rawcos").as("cos"))
      .orderBy($"a_id", $"b_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_kmeans" -> (qMlKmeans _),
    "q_ml_cluster_prune" -> (qMlClusterPrune _),
    "q_embed_pq" -> (qEmbedPq _),
    "q_sim_ann_pq" -> (qSimAnnPq _),
    "q_dedup_semantic" -> (qDedupSemantic _),
    "q_dedup_semantic_t9" -> (qDedupSemanticT9 _))

  private def iterSql(prev: String, a: String, c: String): String =
    s"""$a AS (
       |  SELECT cent_id, vec_id, d2, emb FROM (
       |    SELECT vec_id, emb, cent_id, d2, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
       |    FROM (
       |      SELECT n.vec_id, n.emb, c.cent_id,
       |        list_reduce(list_prepend(0.0, list_zip(n.emb, c.c_emb)
       |          .apply(p -> (p[1]-p[2])*(p[1]-p[2]))),
       |          (acc, v) -> acc + v) AS d2
       |      FROM e n CROSS JOIN $prev c))
       |  WHERE rn = 1),
       |${c}d AS (
       |  SELECT cent_id, dim, round(CAST(sum(v) AS DOUBLE) / count(*), 8)
       |    AS c
       |  FROM (
       |    SELECT cent_id,
       |      CAST(generate_subscripts(emb, 1) AS BIGINT) AS dim,
       |      CAST(round(unnest(emb), 8) AS DECIMAL(20, 8)) AS v
       |    FROM $a)
       |  GROUP BY 1, 2),
       |$c AS (
       |  SELECT cent_id, list(c ORDER BY dim) AS c_emb
       |  FROM ${c}d GROUP BY 1)""".stripMargin

  /** The unrolled k-means CTE chain (`iters` Lloyd passes ending in
    * CTE `c$iters`/`a$iters`). `seedLimit` is the k expression: a
    * literal for the fixed-k keys, a scalar subquery over `extra`'s
    * count-derived CTE for the adaptive ones (q_dedup_semantic since
    * r5; one pass since r6 — blocking needs cells, not convergence).
    */
  private def kmeansCtes(seedLimit: String, iters: Int = 3,
      extra: String = ""): String = {
    val chain = (1 to iters)
      .map(i => iterSql(s"c${i - 1}", s"a$i", s"c$i")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),$extra
       |c0 AS (
       |  SELECT crn AS cent_id, emb AS c_emb FROM (
       |    SELECT *, row_number() OVER (
       |      ORDER BY md5(concat('km', CAST(vec_id AS VARCHAR))), vec_id)
       |      AS crn
       |    FROM e)
       |  WHERE crn <= $seedLimit),
       |$chain""".stripMargin
  }

  private val kpCte: String =
    "\nkp AS (\n  SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c\n  FROM e),"

  /** The PQ build CTEs (subvectors, codebooks, nearest-codeword
    * assignment), shared by q_embed_pq and q_sim_ann_pq.
    */
  private val pqCtes: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |sub AS (
      |  SELECT vec_id, s, list_slice(emb, s * 8 + 1, s * 8 + 8) AS subv
      |  FROM (SELECT vec_id, emb, unnest(generate_series(0, 7)) AS s
      |        FROM e)),
      |books AS (
      |  SELECT s AS cs, cent_id, subv AS c_sub FROM (
      |    SELECT s, subv, row_number() OVER (PARTITION BY s
      |      ORDER BY md5(concat('pq', CAST(s AS VARCHAR),
      |                          CAST(vec_id AS VARCHAR))), vec_id)
      |      AS cent_id
      |    FROM sub)
      |  WHERE cent_id <= 16),
      |asg AS (
      |  SELECT vec_id, s, cent_id, d2 FROM (
      |    SELECT vec_id, s, cent_id, d2, row_number() OVER (
      |      PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rn
      |    FROM (
      |      SELECT n.vec_id, n.s, b.cent_id,
      |        list_reduce(list_prepend(0.0, list_zip(n.subv, b.c_sub)
      |          .apply(p -> (p[1]-p[2])*(p[1]-p[2]))),
      |          (acc, v) -> acc + v) AS d2
      |      FROM sub n JOIN books b ON n.s = b.cs))
      |  WHERE rn = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_embed_pq" ->
      s"""$pqCtes
         |SELECT vec_id,
         |  CAST(sum((cent_id - 1) * (CAST(1 AS BIGINT) << (4 * s)))
         |    AS BIGINT) AS code,
         |  CAST(sum(CAST(round(d2, 8) AS DECIMAL(20, 8))) AS DOUBLE)
         |    AS recon_err
         |FROM asg GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_sim_ann_pq" ->
      s"""$pqCtes,
         |lut AS (
         |  SELECT q.vec_id AS q_id, q.s AS qs, b.cent_id,
         |    CAST(round(list_reduce(list_prepend(0.0,
         |        list_zip(q.subv, b.c_sub)
         |          .apply(p -> (p[1]-p[2])*(p[1]-p[2]))),
         |        (acc, v) -> acc + v), 8) AS DECIMAL(20, 8)) AS ad
         |  FROM sub q JOIN books b ON q.s = b.cs
         |  WHERE q.vec_id < 10),
         |sc AS (
         |  SELECT l.q_id, a.vec_id, sum(l.ad) AS adist
         |  FROM asg a JOIN lut l ON a.s = l.qs AND a.cent_id = l.cent_id
         |  WHERE l.q_id <> a.vec_id
         |  GROUP BY 1, 2)
         |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id,
         |  CAST(adist AS DOUBLE) AS adist
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY q_id ORDER BY adist, vec_id) AS rk
         |      FROM sc)
         |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "q_dedup_semantic" -> semanticSql("0.5"),

    // identical recompute at the production threshold — the Spark
    // side serves the persisted pair artifact, and the raw-cosine
    // threshold is exact in both engines (order-identical fold)
    "q_dedup_semantic_t9" -> semanticSql("0.9"),

    "q_ml_kmeans" ->
      s"""${kmeansCtes("8")},
         |sizes AS (SELECT cent_id, count(*) AS n_members FROM a3 GROUP BY 1)
         |SELECT d.cent_id, s.n_members, d.dim, d.c
         |FROM c3d d JOIN sizes s USING (cent_id)
         |ORDER BY d.cent_id, d.dim""".stripMargin,

    "q_ml_cluster_prune" ->
      s"""${kmeansCtes("8")}
         |SELECT cent_id, rn, vec_id, round(d2, 6) AS d2 FROM (
         |  SELECT cent_id, vec_id, d2, row_number() OVER (
         |    PARTITION BY cent_id ORDER BY d2, vec_id) AS rn
         |  FROM a3)
         |WHERE rn <= 10 ORDER BY cent_id, rn""".stripMargin)

  /** The semantic-dedup recompute, parameterized by the cosine
    * threshold — τ = 0.5 for the registered build key, τ = 0.9 for
    * the production operating point (the Spark side of which serves
    * the persisted artifact; this SQL re-derives everything).
    */
  private def semanticSql(tau: String): String =
      s"""${kmeansCtes("(SELECT c FROM kp)", 1, kpCte)},
         |tgt AS (
         |  SELECT (count(*) + (SELECT c FROM kp) - 1) // (SELECT c FROM kp)
         |    AS t
         |  FROM e),
         |spl AS (
         |  SELECT CAST((SELECT c FROM kp)
         |           + row_number() OVER (ORDER BY f.cent_id) AS INTEGER)
         |           AS cent_id,
         |         f.emb AS c_emb
         |  FROM (SELECT cent_id FROM a1 GROUP BY cent_id
         |        HAVING count(*) > 2 * (SELECT t FROM tgt)) s
         |  JOIN (SELECT cent_id, emb, row_number() OVER (
         |          PARTITION BY cent_id ORDER BY d2 DESC, vec_id) AS rf
         |        FROM a1) f
         |    ON f.cent_id = s.cent_id AND f.rf = 1),
         |c1s AS (SELECT cent_id, c_emb FROM c1
         |        UNION ALL SELECT cent_id, c_emb FROM spl),
         |a2p AS (
         |  SELECT vec_id, cent_id, emb FROM (
         |    SELECT vec_id, emb, cent_id, d2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
         |    FROM (
         |      SELECT n.vec_id, n.emb, c.cent_id,
         |        list_reduce(list_prepend(0.0, list_zip(n.emb, c.c_emb)
         |          .apply(p -> (p[1]-p[2])*(p[1]-p[2]))),
         |          (acc, v) -> acc + v) AS d2
         |      FROM e n CROSS JOIN c1s c))
         |  WHERE rn <= 2),
         |nm AS (
         |  SELECT vec_id, cent_id, emb,
         |    sqrt(list_reduce(list_prepend(0.0,
         |      list_transform(emb, x -> x * x)), (a, x) -> a + x)) AS nrm
         |  FROM a2p)
         |SELECT a_id, b_id, CAST(min(cent_id) AS INTEGER) AS cell,
         |  round(max(rawcos), 6) AS cos
         |FROM (
         |  SELECT a.cent_id, a.vec_id AS a_id, b.vec_id AS b_id,
         |    list_reduce(list_prepend(0.0,
         |        list_zip(a.emb, b.emb).apply(p -> p[1] * p[2])),
         |        (acc, v) -> acc + v) / (a.nrm * b.nrm) AS rawcos
         |  FROM nm a JOIN nm b ON a.cent_id = b.cent_id
         |    AND a.vec_id < b.vec_id)
         |WHERE rawcos >= $tau
         |GROUP BY a_id, b_id
         |ORDER BY a_id, b_id""".stripMargin
}
