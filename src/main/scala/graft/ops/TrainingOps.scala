package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import core._
import LlmOps.{embSql, normedSql, nrmSql, rawCosSql, signBitsSql}

/** Training-data-pipeline operators beyond SURVEY §2.10's core set:
  * language ID, quality scoring, document fingerprinting, SimHash
  * near-dup, n-gram Jaccard near-dup, embedding-cosine near-dup, and
  * an LSH-bucketed approximate-nearest-neighbor path. These are the
  * ops a 100 TB corpus pipeline runs between ingest and training.
  */
object TrainingOps extends Family {

  private def words(s: SparkSession, dir: String): DataFrame =
    LlmOps.words(s, dir)

  /** N-gram-frequency language ID: build per-language profiles (top-5
    * most frequent words) from the corpus itself, then classify each
    * document by weighted profile hits; argmax with lexicographic
    * tiebreak. Purely relational → fully oracle-checkable.
    */
  def qTextLangid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: the exploded token table feeds both the profile build
    // and the scoring join — without this the explode runs twice
    // (6.1 s on the driver's local[32] in r1)
    val w = words(s, dir).transform(core.cached)
    val topW = Window.partitionBy($"lang").orderBy($"cnt".desc, $"word".asc)
    val profile = w.groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(topW))
      .filter($"rn" <= 5)
      .select($"lang".as("cand_lang"), $"word")
    val scores = w.select($"doc_id", $"word")
      .join(broadcast(profile), "word")
      .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("matches"))
    val predW = Window.partitionBy($"doc_id")
      .orderBy($"matches".desc, $"cand_lang".asc)
    val pred = scores.withColumn("rn", row_number().over(predW))
      .filter($"rn" === 1)
      .select($"doc_id".as("p_doc"), $"cand_lang", $"matches")
    t(s, dir, "documents").select($"doc_id", $"lang")
      .join(pred, $"doc_id" === $"p_doc", "left_outer")
      .select($"doc_id",
        coalesce($"cand_lang", lit("unknown")).as("pred_lang"),
        coalesce($"matches", lit(0L)).as("matches"),
        $"lang",
        (coalesce($"cand_lang", lit("unknown")) === $"lang").as("correct"))
      .orderBy($"doc_id")
  }

  /** Heuristic quality score: lexical diversity, stopword saturation
    * (stopwords = the corpus's global top-10 tokens), and a length
    * prior — all exact integer ratios, so bit-deterministic.
    */
  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = words(s, dir)
    val stopW = Window.orderBy($"cnt".desc, $"word".asc)
    val stop = w.groupBy($"word").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(stopW))
      .filter($"rn" <= 10)
      .select($"word", lit(1L).as("is_stop"))
    val per = w.join(broadcast(stop), Seq("word"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"word").as("n_distinct"),
        sum(coalesce($"is_stop", lit(0L))).as("n_stop"))
    per.select($"doc_id", $"n_tokens", $"n_distinct", $"n_stop",
        r6($"n_distinct" / $"n_tokens".cast("double")).as("distinct_ratio"),
        r6($"n_stop" / $"n_tokens".cast("double")).as("stop_ratio"),
        r6(lit(0.4) * ($"n_distinct" / $"n_tokens".cast("double"))
          + lit(0.3) * (lit(1.0) - $"n_stop" / $"n_tokens".cast("double"))
          + lit(0.3) * (least($"n_tokens", lit(100L)) / lit(100.0)))
          .as("quality"))
      .orderBy($"doc_id")
  }

  /** Polynomial rolling-hash fingerprint over the raw characters
    * (base 31, mod 1e9+7), folded left-to-right identically in both
    * engines; plus the size of each fingerprint's duplicate group.
    */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fpW = Window.partitionBy($"fp")
    t(s, dir, "documents")
      .select($"doc_id",
        expr("""aggregate(sequence(1, length(text)), 0L,
                (acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)""")
          .as("fp"))
      .withColumn("n_same_fp", count(lit(1)).over(fpW))
      .orderBy($"doc_id")
  }

  /** SimHash from xxhash64 word hashes: bit j of the signature is the
    * sign of Σ_tokens (±tf) by hash bit j. Near-dup pairs =
    * same-language docs within Hamming distance 4. xxhash64 has no
    * DuckDB twin → no oracle; property-tested in LlmOpsSpec and
    * evidence-bounded (banded recall vs all-pairs) at sf0.001/sf0.01.
    *
    * `width` (16/32/64 signature bits) comes from [[simhashWidth]];
    * the default keeps every ≤16 k-doc fixture on the original 16-bit
    * layout bit-for-bit.
    */
  def simhashSignatures(docs: DataFrame, width: Int = 16): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tok = docs.select($"doc_id", $"lang",
      explode(split($"text", " ")).as("word"))
      .withColumn("h", xxhash64($"word"))
    val bitSums = (0 until width).map(j =>
      sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$j"))
    // distinct powers of two, so the sum is a bitwise OR — exact for
    // all 64 bits (bit 63 just makes the Long signature negative)
    val sig = (0 until width).map(j =>
      when(col(s"s$j") > 0, 1L << j).otherwise(0L)).reduce(_ + _)
    tok.groupBy($"doc_id", $"lang")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", $"lang", sig.as("simhash"))
  }

  /** Adaptive SimHash signature width: 16 bits up to 16 k docs (the
    * original layout — every committed fixture, spec, and EVIDENCE
    * bound lives in this regime), 32 to 256 k, 64 beyond. A FIXED
    * 16-bit signature is the round-5 fixed-width trap twice over at
    * the probe decades: the band equi-join's Σbucket² is n²·5/2^3 per
    * language, and — worse — the OUTPUT itself degenerates, because
    * real (shared-vocabulary) documents correlate signature bits far
    * above the uniform model: at the 50 k-doc 10× fixture, 30% of ALL
    * same-language pairs sit within Hamming ≤ 4 of a 16-bit signature
    * (74 M "near-dup" rows, 128 s — measured r9). Widening with n
    * keeps the Hamming-4 ball a vanishing fraction of signature space,
    * so "near-dup" keeps meaning near-dup at every decade; the width
    * is a deterministic integer function of the stats-class row count
    * (the [[lshWidth]] / [[core.tableRows]] precedent).
    */
  private[graft] def simhashWidth(n: Long): Int =
    if (n <= 16384L) 16 else if (n <= 262144L) 32 else 64

  /** Simhash band layouts per signature width, as (offset, width):
    * 5 bands in every regime, so with Hamming ≤ 4 flipped bits the
    * pigeonhole principle guarantees at least one band with zero
    * flips — banded candidate generation has EXACT recall vs the
    * all-pairs join at any width (pinned by a property test). NB 4
    * bands of 4 would NOT suffice: 4 flips can hit all 4 bands.
    */
  private[graft] def simhashBands(width: Int): Seq[(Int, Int)] = width match {
    case 16 => Seq((0, 4), (4, 3), (7, 3), (10, 3), (13, 3))
    case 32 => Seq((0, 7), (7, 7), (14, 6), (20, 6), (26, 6))
    case 64 => Seq((0, 13), (13, 13), (26, 13), (39, 13), (52, 12))
    case w  => throw new IllegalArgumentException(s"simhash width $w")
  }

  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val w = simhashWidth(core.tableRows(s, dir, "documents"))
    simhashPairsBanded(simhashSignatures(docs, w).transform(core.cached), w)
  }

  /** Banded Hamming-≤4 pairs: equi-join on (lang, band, band-bits)
    * buckets — shuffle-friendly and skew-bounded, replacing r1's
    * same-language all-pairs join (O(n²) per language at scale).
    */
  private[graft] def simhashPairsBanded(sig: DataFrame,
                                        width: Int = 16): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val bandCols = simhashBands(width).zipWithIndex.map { case ((off, len), i) =>
      struct(lit(i).as("band"),
        shiftright($"simhash", off).bitwiseAND(lit((1L << len) - 1L).cast("long"))
          .as("bv"))
    }
    // the full signature rides along in the bucket rows (8 bytes), so
    // hamming is computed INLINE in the band join and the Hamming
    // filter runs BEFORE the dedup — the distinct only ever sees
    // true near-dup pairs (×≤5 band duplicates), not the whole
    // candidate blow-up, and no join back to the signatures is needed
    val buckets = sig
      .select($"lang", $"doc_id", $"simhash",
        explode(array(bandCols: _*)).as("bk"))
      .select($"lang", $"doc_id", $"simhash",
        $"bk.band".as("band"), $"bk.bv".as("bv"))
    buckets.as("x").join(buckets.as("y"),
        $"x.lang" === $"y.lang" && $"x.band" === $"y.band" &&
        $"x.bv" === $"y.bv" && $"x.doc_id" < $"y.doc_id")
      .select($"x.lang".as("lang"), $"x.doc_id".as("a_id"),
        $"y.doc_id".as("b_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hamming"))
      .filter($"hamming" <= 4)
      .distinct()
      .select($"lang", $"a_id", $"b_id", $"hamming")
      .orderBy($"a_id", $"b_id")
  }

  /** r1's all-pairs formulation, kept as the property-test oracle for
    * [[simhashPairsBanded]]'s exact-recall claim (not registered).
    */
  private[graft] def simhashPairsAllPairs(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val a = sig.select($"lang", $"doc_id".as("a_id"), $"simhash".as("a_sh"))
    val b = sig.select($"lang".as("l2"), $"doc_id".as("b_id"),
      $"simhash".as("b_sh"))
    a.join(b, $"lang" === $"l2" && $"a_id" < $"b_id")
      .withColumn("hamming", bit_count($"a_sh".bitwiseXOR($"b_sh")).cast("long"))
      .filter($"hamming" <= 4)
      .select($"lang", $"a_id", $"b_id", $"hamming")
      .orderBy($"a_id", $"b_id")
  }

  /** Word-bigram Jaccard near-dup within (lang, source) blocks —
    * blocking bounds the candidate-pair quadratic at scale, and a
    * document-frequency cap drops "stop bigrams" (df > min(max(5,
    * n_block/4), 64)) before the candidate self-join, so one hot
    * bigram ("of the") can't turn the equi-join quadratic on a skewed
    * corpus. The ABSOLUTE 64 ceiling (r5) is the scale guard: a
    * purely relative n/4 cap still admits (n_block/4)² pairs from a
    * single common bigram — quadratic in disguise, the ScaleProbeSf1
    * lesson — while df > 64 bigrams are stop-grams at any corpus
    * size; the ceiling binds only beyond fixture block sizes (max
    * fixture block/4 ≈ 12), so fixture outputs are unchanged. The cap
    * is mirrored exactly in the oracle SQL; Jaccard is computed over
    * the CAPPED bigram sets in both engines. Bigrams come from a
    * per-row array transform (zero shuffles) and `array_distinct`
    * replaces the r1 `.distinct()` shuffle.
    */
  def qDedupNgram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // tokenize ONCE per document (r15): the inline form re-ran the
    // regex split 5× per row inside the Generate (the qTextNgram fix)
    val big = docs
      .select($"doc_id", $"lang", $"source", split($"text", " ").as("toks"))
      .select($"doc_id", $"lang", $"source",
        explode(array_distinct(LlmOps.bigramsOf($"toks"))).as("bigram"))
    val blockN = docs.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_block"))
    // r15 restructure (guide §2.4 — remove shuffles outright): the
    // pre-r15 form shuffled the exploded bigram table THREE times
    // (df group-by for `hot`, the `kept` cache fill after the
    // anti-join, then the candidate self-join's two cached-side
    // exchanges + SMJ sorts). ONE (lang, source, bigram) group-by now
    // carries everything: df IS size(ds) (identical integer — (doc,
    // bigram) rows are unique after array_distinct), the df-cap
    // filter is the exact negation of the old hot-exclusion
    // predicate, per-doc kept sizes re-derive by exploding the doc
    // lists, and candidate pairs explode CONTAINER-SIDE (the
    // qGraphCooccur r7 pattern: the cap bounds every list at ≤ 64
    // docs ⇒ ≤ 2016 map-side combinations; least/greatest
    // canonicalization makes the pair multiset independent of
    // collect_list's partition-dependent order). The cached frame is
    // bigram-grained (one row per distinct bigram) instead of
    // occurrence-grained — about half the rows and bytes.
    val grouped = big.groupBy($"lang", $"source", $"bigram")
      .agg(collect_list($"doc_id").as("ds"))
      .join(broadcast(blockN), Seq("lang", "source"))
      .filter(!(size($"ds").cast("long") >
        least(greatest(lit(5L), floor($"n_block" / 4)), lit(64L))))
      .select($"bigram", $"ds")
      .transform(core.cached)
    val sizes = grouped.select(explode($"ds").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val inter = grouped.filter(size($"ds") >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"))
        .as("p"))
      .groupBy($"p.a".as("a_id"), $"p.b".as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select($"doc_id".as("a_id"), $"sz".as("a_sz")), "a_id")
      .join(sizes.select($"doc_id".as("b_id"), $"sz".as("b_sz")), "b_id")
      // module convention: thresholds compare the RAW score (here an
      // exact small-int ratio — identical division in both engines);
      // rounding is applied to outputs only
      .withColumn("rawjac",
        $"inter" / ($"a_sz" + $"b_sz" - $"inter").cast("double"))
      .filter($"rawjac" >= 0.2)
      .select($"a_id", $"b_id", $"inter", r6($"rawjac").as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** The [[qDedupNgram]] candidate-pair edge list (a_id, b_id),
    * persisted once per (dir, JVM) via [[core.persistedIndex]] (r7) —
    * the dedup pipeline's shared derived artifact: pair generation is
    * the compute step (and q_dedup_ngram keeps measuring it), while
    * downstream consumers (q_dedup_components' clustering) READ the
    * materialized pair list, exactly the IVF/edge-list/kmeans-
    * assignment pattern. Deterministic: integer doc-id pairs from an
    * oracle-checked query.
    */
  def ngramPairsDir(s: SparkSession, dir: String): String =
    core.persistedIndex("ngrampairs", dir) { path =>
      import s.implicits._
      qDedupNgram(s, dir).select($"a_id", $"b_id")
        .write.mode("overwrite").parquet(path)
    }

  /** Row count of the persisted pair list, from its parquet footers
    * (no Spark job).
    */
  private[graft] def ngramPairRows(s: SparkSession, dir: String): Long =
    GraftBridge.parquetRows(s, ngramPairsDir(s, dir))

  /** Near-duplicate CLUSTERS: connected components over the
    * [[qDedupNgram]] pair graph, labels = min reachable doc_id —
    * the step a real dedup pipeline runs after pair generation
    * (keep one doc per cluster, not per pair). Iterative min-label
    * propagation WITH pointer jumping: each round a node takes the
    * min of its own, its neighbors', and its current label's label —
    * the jump halves the remaining depth, so convergence is
    * O(log diameter) (a 100k-node chain needs ~17 rounds, not 100k).
    * The driver loop only controls iteration (one convergence scan
    * per round — the same pattern GraphX/ALS use); data never leaves
    * executors, and `localCheckpoint` truncates the growing lineage
    * each round. Serves its edges from [[ngramPairsDir]] (r7). Oracle:
    * DuckDB recursive-CTE reachability closure + min.
    */
  def qDedupComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = core.parquet(s, ngramPairsDir(s, dir))
    // label-propagation shuffles are node-sized — reduce width from
    // the edge count (r15, guide §2), not the cpu default
    val labels = connectedComponents(pairs,
      core.loopPartitions(2L * ngramPairRows(s, dir)))
    val sizeW = Window.partitionBy($"component")
    labels.select($"node".as("doc_id"), $"comp".as("component"))
      .withColumn("n_members", count(lit(1)).over(sizeW))
      .orderBy($"doc_id")
  }

  /** Min-label propagation over an (a_id, b_id) edge frame →
    * (node, comp) with comp = min reachable node id. Split out so the
    * spec can pin the semantics on synthetic graphs.
    */
  private[graft] def connectedComponents(edges: DataFrame,
      loopParts: Int = 0): DataFrame = {
    // the whole loop EXECUTES inside this builder (localCheckpoint +
    // isEmpty per round), so the AQE-off scope covers every round:
    // per-stage materialize-and-re-plan is pure overhead on the
    // node-sized label shuffles (the pagerank rationale, core.scala).
    // The caller's lazy edge pipeline also materializes here (first
    // checkpoint); a 100 TB caller that wants AQE's skew handling on
    // the pair JOIN should checkpoint its edges before calling.
    // loopParts > 0 pins the loop's shuffle width (core.loopPartitions
    // — r15, guide §2); 0 keeps the session default.
    core.withoutAqe(edges.sparkSession, loopParts) {
      connectedComponentsLoop(edges)
    }
  }

  private def connectedComponentsLoop(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // materialize the (possibly expensive) edge pipeline ONCE before
    // the union duplicates its lineage into both branches
    val e = edges.localCheckpoint()
    val und = e
      .union(e.select($"b_id".as("a_id"), $"a_id".as("b_id")))
      .toDF("x", "y").transform(core.cached)
    var labels = und.select($"x".as("node")).distinct()
      .withColumn("comp", $"node").localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val neigh = und.join(labels, und("y") === labels("node"))
        .groupBy($"x").agg(min($"comp").as("ncomp"))
      val stepped = labels.join(neigh, labels("node") === neigh("x"), "left")
        .select($"node", $"comp".as("prev"),
          least($"comp", coalesce($"ncomp", $"comp")).as("comp"))
      // pointer jumping: also adopt the label OF my current label —
      // halves the remaining propagation depth every round, so
      // convergence is O(log diameter), not O(diameter): a 100k-long
      // chain needs ~17 rounds, not 100k. Skipped for the first two
      // rounds: clique-ish near-dup graphs converge before it helps,
      // and the extra join would be pure overhead there. Carry the
      // previous label through the (eager) checkpoint so convergence
      // is a scan of the materialized frame, not another shuffle
      // join per round.
      // the jump lookup reads the PREVIOUS round's checkpointed
      // labels, not `stepped` — self-joining stepped would execute
      // the labels⋈neigh subtree twice per round; stale-label jumps
      // (Jacobi-style) are still monotone and still halve depth
      val jumped =
        if (iter < 2) stepped
        else stepped.as("l")
          .join(labels.select($"node".as("pnode"), $"comp".as("pcomp")).as("p"),
            col("l.comp") === col("pnode"), "left")
          .select(col("l.node").as("node"), col("l.prev").as("prev"),
            least(col("l.comp"), coalesce(col("pcomp"), col("l.comp")))
              .as("comp"))
      val next = jumped.localCheckpoint()
      converged = next.filter($"comp" =!= $"prev").isEmpty
      labels = next.select($"node", $"comp")
      iter += 1
    }
    // a silent cap hit would return labels that are NOT the min
    // reachable id and diverge from the oracle with no hint why —
    // fail loudly instead (with pointer jumping, 50 rounds covers a
    // diameter around 2^50; hitting the cap means something is
    // structurally wrong, not that the graph is big)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $iter rounds")
    und.unpersist()
    labels
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ 0.5, a < b). */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = LlmOps.normed(s, dir)
    // r15: spread the O(n²) broadcast nested-loop scoring across
    // tasks — the streamed side is one parquet split, so without this
    // the whole pair loop ran single-task (the cosineTopk fix;
    // guide §2). n(n−1)/2 ordered pairs survive the a < b condition.
    val n = core.tableRows(s, dir, "embeddings")
    val parts = core.pairScanPartitions(core.pairCount(n, n - 1) / 2)
    val a0 = e.select($"vec_id".as("a_id"), $"emb".as("a_emb"), $"nrm".as("a_nrm"))
    val a = if (parts > 1) a0.repartition(parts, $"a_id") else a0
    val b = e.select($"vec_id".as("b_id"), $"emb".as("b_emb"), $"nrm".as("b_nrm"))
    a.join(broadcast(b), $"a_id" < $"b_id")
      .withColumn("rawcos", LlmOps.rawCos("a_", "b_"))
      // filter on the raw cosine (bit-identical across engines —
      // same fold order), round only survivors
      .filter($"rawcos" >= 0.5)
      .select($"a_id", $"b_id", r6($"rawcos").as("cos"))
      .orderBy($"a_id", $"b_id")
  }

  /** Threshold-cosine near-dup through an LSH-bucketed candidate
    * generator, registered — SINCE ROUND 10, FORMALLY — as the
    * BOUNDED-n τ = 0.5 RECALL BASELINE beside [[qDedupEmbed]]'s
    * all-pairs baseline (same output contract: pairs with cos ≥ 0.5,
    * a < b, minus bucketing misses). Candidates are generated by an
    * EQUI-join: 8 bands × 8 sign bits cover all 64 dims, and a pair is
    * a candidate when some band's bit patterns differ by ≤ 1 bit
    * (multi-probe — the probe side also emits the 8 one-bit-flip keys
    * per band, so Hamming-≤1 stays an equi-join, never a similarity
    * predicate). Exact `graft_dot` cosine then filters candidates to
    * true pairs: precision is 1 by construction, recall is measured in
    * the spec (12/14 at sf0.1).
    *
    * == Why this key is a declared baseline, not a production path ==
    *
    * τ = 0.5 (θ = 60°) sits at sign-LSH's hardness floor: per-bit
    * match probability p₁ = 1 − θ/π = ⅔ against background p₂ = ½,
    * so ρ = ln(1/p₁)/ln(1/p₂) = ln 1.5 / ln 2 ≈ 0.585 — and n^(1+ρ)
    * ≈ n^1.585 is the LOWER BOUND on total work for ANY
    * constant-recall amplification of this hash family (optimal
    * layout b ≈ log₂n bits/band, B ≈ n^ρ bands reaches it; the fixed
    * 8×8 layout measured ≈2.1 at the third decade because fixed
    * widths degrade to Θ(n²/2^w), the round-5 law). "Adaptive width
    * + deeper probes" cannot close the gap: holding recall ≈ 0.82 at
    * b = 16 needs Hamming-≤2 probes across ~28 bands, whose candidate
    * volume STILL scales n^1.585 — above the ≤ n^1.3 production bar
    * by the family's own ρ bound, not by implementation. The
    * registered production paths at this semantics class are
    * [[qDedupEmbedLshT9]] (τ = 0.9, adaptive width, third-decade
    * exponent 1.01) and `q_dedup_semantic` (√n-cell SemDeDup
    * blocking, 1.30); this key keeps the τ = 0.5 recall contract
    * measurable at fixture scale, third-decade-complete (100×
    * selfcheck, 314 s) but bounded-n BY DECLARATION — exactly like
    * the all-pairs trio. (VERDICT r9 task 2, re-scope branch.)
    */
  def qDedupEmbedLsh(s: SparkSession, dir: String): DataFrame = {
    val e = core.cached(LlmOps.normed(s, dir))
    val n = core.tableRows(s, dir, "embeddings")
    embedLshBanded(s, e, tau = 0.5, groups = lshBandGroups(n))
  }

  /** How many sequential band batches [[embedLshBanded]] runs
    * (VERDICT r8 weak #1 / task 2). The fixed 8×8-bit layout's
    * candidate volume is ≈ 8 bands · 9 probes · n²/512 pairs — at the
    * 100× fixture (n = 200 k) that is ~5.6e9 rows whose distinct +
    * recheck shuffles exceeded the VM's 73 GB scratch disk in one
    * shot (the r7/r8 100×-gate exclusion). Batching one band per
    * stage bounds peak scratch to ~⅛ (each batch's shuffle files are
    * dropped once its survivors — output-sized — are materialized),
    * which is the grace-hash-style fallback a production engine
    * makes; below the cutoff a single batch is the exact pre-r9 plan
    * with no extra stages at bench scale. The cutoff is driver-side
    * stats metadata (the ntileRangePartitioned precedent); the
    * ORACLE NEVER CHANGES — the output set is identical for any
    * batching because each pair's exact-cosine recheck is the same
    * deterministic fold wherever it runs (EmbedLshBandedSpec pins
    * groups=1 ≡ groups=8 frame equality).
    */
  private[graft] def lshBandGroups(n: Long): Int =
    if (n <= 50000L) 1 else 8

  private[graft] def embedLshBanded(s: SparkSession, e: DataFrame,
      tau: Double, groups: Int): DataFrame = {
    import s.implicits._
    val a = e.select($"vec_id".as("a_id"), $"emb".as("a_emb"), $"nrm".as("a_nrm"))
    val b = e.select($"vec_id".as("b_id"), $"emb".as("b_emb"), $"nrm".as("b_nrm"))
    val batches = (0 until 8).grouped(math.max(1, 8 / groups)).toSeq
    val parts = batches.map { bands =>
      // 8 sign bits per 8-dim band. No per-batch distinct: a band adds
      // no duplicates of its own (LlmOps.signBandPairs), so a distinct
      // here would only pay an O(candidates) shuffle (~11 GB/band at
      // the 100× fixture) to remove cross-band dups the final distinct
      // removes anyway
      val cand = LlmOps.signBandPairs(e, bands, stride = 8, bits = 8)
      // BROADCAST both embedding sides: the r9 100× attempt died on
      // disk because cand⋈a (SMJ) fed a second exchange whose rows
      // carried the 512-byte a_emb — ~48 GB of shuffle write per
      // band. With both sides broadcast (≈0.5 KB/vector: viable to
      // ~10 M vectors per executor GB; past that, block the b side
      // with this same batch loop) the candidate stream flows from
      // the band join through the dot+filter IN ONE STAGE — the
      // ~7e8-row intermediate never touches disk, and the batch's
      // only shuffles are the metadata-sized sig/probe exchanges.
      val surv = cand.join(broadcast(a), "a_id").join(broadcast(b), "b_id")
        .withColumn("rawcos", LlmOps.rawCos("a_", "b_"))
        // threshold on the raw cosine (bit-identical fold across
        // engines); round survivors only — module convention
        .filter($"rawcos" >= tau)
        .select($"a_id", $"b_id", $"rawcos")
      if (batches.size == 1) surv
      else {
        // materialize this batch's survivors (output-sized) so the
        // batch's candidate shuffles become garbage; the explicit GC
        // nudge lets ContextCleaner reclaim their shuffle files
        // before the next batch needs the disk (at 100× each batch
        // runs minutes — the async cleanup easily completes in time)
        val m = surv.localCheckpoint()
        System.gc()
        m
      }
    }
    // a pair colliding in several batches is rechecked once per batch
    // (cheap: one 64-dim dot each) and deduped here — rawcos is the
    // identical fold everywhere, so distinct on it is exact
    parts.reduce(_.union(_)).distinct()
      .select($"a_id", $"b_id", r6($"rawcos").as("cos"))
      .orderBy($"a_id", $"b_id")
  }

  /** Production-τ variant of [[qDedupEmbedLsh]] (VERDICT r5 task 3):
    * τ = 0.9 with band keys that GROW with n — 4 bands over 16-dim
    * slices, each keyed on its first b sign bits where
    * b = clamp(bitlen(⌈n/64⌉−1), 8, 16) (the [[lshWidth]] growth
    * rule), Hamming-≤1 multi-probe per band.
    *
    * Why a separate operating point: the registered key's fixture
    * τ = 0.5 (θ = 60°, per-bit p₁ = ⅔) sits at sign-LSH's hardness
    * floor — 8-bit bands NEED the 1-bit-flip probes for recall, and
    * the resulting candidate volume scales n^(1+ρ), ρ ≈ 0.585
    * (the measured 1.22 exponent at 10×). At the threshold real
    * dedup runs (τ ≥ 0.9 ⇒ θ ≤ 25.8° ⇒ p₁ ≈ 0.857/bit — and true
    * near-dup corpora sit far above even that), longer band keys keep
    * within-dup collisions while random-pair selectivity per band
    * drops like (1+b)/2^b — with b growing log n, expected random
    * candidates stay ≈ linear in n, which is the exponent collapse
    * ScaleProbeSf1's `t9` row records in SCALING.md. With 64 physical
    * dims, b caps at 16; past n ≈ 4 M vectors the key extends with
    * hash-mixed hyperplanes (deterministic ±1 combinations of dims),
    * same plan shape.
    *
    * Registered as `q_dedup_embed_lsh_t9` since r8 (VERDICT r7 weak
    * #2): the production operating point is oracle-checked — DuckDB
    * re-derives the identical adaptive band width from count(*)
    * (bin()/`//` integer math), generates candidates as the
    * equivalent Hamming-≤1 band self-join (bit_count(xor) ≤ 1 ≡ the
    * Spark side's 1-bit-flip probe equi-join), and thresholds the
    * same order-identical rawcos fold at 0.9. On the i.i.d.-random
    * fixtures the τ = 0.9 output is empty by semantics (the
    * q_dedup_semantic_t9 note); non-vacuous recall is pinned by
    * LlmOpsSpec's clustered fixture and the clustered 10× gate
    * fixture. ScaleProbeSf1 measures its scaling (exponent 1.01 at
    * the second decade).
    */
  def qDedupEmbedLshT9(s: SparkSession, dir: String): DataFrame =
    dedupEmbedLshTau(s, dir)

  def dedupEmbedLshTau(s: SparkSession, dir: String,
      tau: Double = 0.9): DataFrame = {
    import s.implicits._
    val e = core.cached(LlmOps.normed(s, dir))
    val n = core.tableRows(s, dir, "embeddings")
    // Band-key width sized for CANDIDATE volume, not ANN bucket
    // occupancy (r7 — the second-decade probe filled the disk at
    // 200 k vectors): with the ANN rule's E[bucket] ≈ 64, Hamming-1
    // multi-probe multiplies per-vector candidate work by
    // (1+b)·E[bucket] ≈ 13·64 ≈ 800 per band — ~5·10⁸ raw candidate
    // pairs whose exact-cosine recheck would shuffle the embeddings
    // ~100 GB. Targeting E[bucket] ≈ 4 (b = bitlen(⌈n/4⌉−1), so b
    // grows with log n and raw candidates stay ≈ n·bands·(1+b)·4/2)
    // cuts that ~16×; recall at the fixture's near-dup distances
    // (cos ≈ 0.999 ⇒ per-bit p₁ ≈ 0.99) stays ~1 per band — at the
    // τ = 0.9 BOUNDARY (p₁ ≈ 0.857) per-band recall drops with b, and
    // a production deployment buys it back with MORE BANDS (linear
    // cost), never with wider probing (multiplicative cost).
    val bits = math.max(8, math.min(16, lshWidth(n, 4L)))
    // 4 bands over 16-dim slices, keyed on their first `bits` signs
    val cand = LlmOps.signBandPairs(e, 0 until 4, stride = 16, bits = bits)
      .distinct()
    val a = e.select($"vec_id".as("a_id"), $"emb".as("a_emb"), $"nrm".as("a_nrm"))
    val b = e.select($"vec_id".as("b_id"), $"emb".as("b_emb"), $"nrm".as("b_nrm"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("rawcos", LlmOps.rawCos("a_", "b_"))
      .filter($"rawcos" >= tau)
      .select($"a_id", $"b_id", r6($"rawcos").as("cos"))
      .orderBy($"a_id", $"b_id")
  }

  /** Sign-LSH bucket width for [[qSimAnnLsh]]: the smallest w with
    * 2^w · target ≥ n, i.e. the bit length of ceil(n/target) − 1.
    * A FIXED width is quadratic in disguise — Σbucket² = n²/2^w —
    * and the r5 ScaleProbeSf1 measured exactly that (exponent 1.25 at
    * w = 8 fixed, 64 s at 20 k vectors). Growing w with log n keeps
    * E[bucket] ≈ target, so candidate volume stays ≈ n · target.
    * The driver-side count is stats-class metadata (the
    * `ntileRangePartitioned` precedent); the oracle recomputes the
    * identical integer math from count(*) via bin()/`//`.
    */
  private def lshWidth(n: Long, target: Long = 64L): Int = {
    val m = (n + target - 1) / target
    if (m <= 1) 0
    else math.min(64 - java.lang.Long.numberOfLeadingZeros(m - 1), 32)
  }

  /** Sign-LSH bucketed ANN: bucket key = sign pattern of the first
    * [[lshWidth]](n) components (axis-aligned hyperplanes —
    * deterministic, no RNG; width grows with log n so buckets stay
    * ≈ 64 vectors at ANY n); exact top-3 by cosine *within* the
    * bucket. The scale path: the O(n²) pair join becomes an equi-join
    * on bucket, shuffle-friendly and skew-bounded, with Σbucket² ≈
    * 64 · n by construction. Recall vs brute force is measured in the
    * spec.
    */
  def qSimAnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = core.cached(LlmOps.normed(s, dir))
    // n from the embeddings footer (core.tableRows): no count job
    val width = lshWidth(core.tableRows(s, dir, "embeddings"))
    // codegen'd bucket key (graft.functions.SignBits)
    val e = e0
      .withColumn("bucket",
        graft.functions.SignBits.signBits($"emb", 1, width))
    val a = e.select($"bucket", $"vec_id".as("a_id"), $"emb".as("a_emb"),
      $"nrm".as("a_nrm"))
    val b = e.select($"bucket".as("bk2"), $"vec_id".as("b_id"),
      $"emb".as("b_emb"), $"nrm".as("b_nrm"))
    LlmOps.topkByCos(a.join(b, $"bucket" === $"bk2" && $"a_id" =!= $"b_id"),
        3, after = Seq("bucket"))
      .orderBy($"a_id", $"rn")
  }

  /** IVF-flat ANN, the second scale path beside [[qSimAnnLsh]]'s
    * sign-LSH: max(16, ⌈√n⌉) coarse centroids chosen deterministically
    * (the vectors with the smallest md5(vec_id) — a hash-ranked
    * sample, no RNG, no k-means iterations so both engines agree
    * exactly), every vector assigned to its nearest centroid by raw
    * cosine (argmin via deterministic rank), then exact top-3 by
    * cosine WITHIN the cell (nprobe=1). √n cells is the classic IVF
    * balance point: assignment work n·√n, pair work Σcell² ≈ n·√n —
    * a FIXED cell count is n²/c quadratic, measured as exponent 1.11
    * trending up in the r5 ScaleProbeSf1. ⌈√n⌉ is cross-engine exact
    * (IEEE sqrt is correctly rounded; n < 2⁵³). Fully relational ⇒
    * fully oracle-checkable. At scale: the assignment is a broadcast
    * join (centroid count ≪ n) and the pair space collapses from n²
    * to Σ cell² — same shuffle shape as the LSH op, but data-adaptive
    * cells instead of fixed hyperplanes.
    */
  /** One IVF index build per (fixture dir) per JVM — the assignment is
    * deterministic, so re-running the key re-READS the persisted index
    * instead of re-paying the n·√n centroid assignment (ADVICE r5 /
    * VERDICT r5 task 4: at 100 TB the assignment IS the index you
    * build once; SCALING.md said it, now the code does it). The value
    * is the index parquet path; content = (cent_id, vec_id, emb, nrm),
    * i.e. the corpus stored BY CELL — exactly what a production
    * IVF-flat index file holds. IvfIndexSpec pins one build per JVM
    * and read-vs-rebuild equality.
    */
  /** Build (once per JVM) and return the IVF index path for `dir`:
    * max(16, ⌈√n⌉) hash-ranked centroids, nearest-centroid assignment
    * by raw cosine with deterministic (c_cos desc, cent_id) rank.
    * Path/build hygiene (hashing, pid isolation, build-cost logging)
    * lives in [[core.persistedIndex]] (ADVICE r6).
    */
  def ivfIndexDir(s: SparkSession, dir: String): String =
    core.persistedIndex("ivf", dir) { base =>
      import s.implicits._
      val e = core.cached(LlmOps.normed(s, dir))
      // n from the embeddings footer (core.tableRows): no count job
      val nCells = math.max(16L, math.ceil(math.sqrt(
        core.tableRows(s, dir, "embeddings").toDouble)).toLong).toInt
      // orderBy+limit compiles to TakeOrderedAndProject — each task
      // keeps its local top-√n and only √n·partitions rows reach the
      // driver-side merge, unlike a global row_number window which
      // would funnel ALL vectors through one task; the √n-row window
      // after the limit is trivially cheap
      val seedW = Window.orderBy($"seed_rank", $"vec_id")
      val cents = e
        .withColumn("seed_rank",
          md5(concat(lit("ivf"), $"vec_id".cast("string"))))
        .orderBy($"seed_rank", $"vec_id").limit(nCells)
        .withColumn("cent_id", row_number().over(seedW))
        .select($"cent_id", $"emb".as("c_emb"), $"nrm".as("c_nrm"))
      // argmax as a COMBINABLE min(struct), not a window: the window
      // form shuffles ALL n·c candidate rows (9e7 at 200 k vectors —
      // measured 97 s third-decade), while min(struct(−cos, cent_id,
      // …)) collapses the c candidates per vector map-side before the
      // vec_id exchange (the kmeans argmin pattern). Ordering is
      // identical: lexicographic struct compare = (c_cos desc,
      // cent_id asc) with the raw-double rank the similarity family
      // allows; cent_id is unique per candidate set so the compare
      // never reaches the payload fields.
      // repartition by cell before writing: each cell's vectors land
      // contiguously (few files), the layout a cell-local probe scan
      // wants; doubles round-trip parquet bit-exactly, so serving from
      // the index is value-identical to serving from the live frame
      e.crossJoin(broadcast(cents))
        .withColumn("c_cos", LlmOps.rawCos("", "c_"))
        .groupBy($"vec_id")
        // coalesce to +∞: a null cosine (zero-norm vector) must rank
        // LAST like the window form's desc-nulls-last, not first like
        // a null struct field would in min()
        .agg(min(struct(
          coalesce(-$"c_cos", lit(Double.PositiveInfinity)).as("neg"),
          $"cent_id", $"emb", $"nrm")).as("w"))
        .select($"w.cent_id".as("cent_id"), $"vec_id",
          $"w.emb".as("emb"), $"w.nrm".as("nrm"))
        .repartition(col("cent_id"))
        .write.mode("overwrite").parquet(base)
      e.unpersist()
    }

  def qSimAnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // serving reads the persisted per-cell index — the n·√n assignment
    // is amortized into the one-per-JVM build (see [[ivfIndexDir]]);
    // per-execution cost is the Σcell² probe join alone
    val assigned = core.parquet(s, ivfIndexDir(s, dir))
    val a = assigned.select($"cent_id", $"vec_id".as("a_id"),
      $"emb".as("a_emb"), $"nrm".as("a_nrm"))
    val b = assigned.select($"cent_id".as("c2"), $"vec_id".as("b_id"),
      $"emb".as("b_emb"), $"nrm".as("b_nrm"))
    LlmOps.topkByCos(a.join(b, $"cent_id" === $"c2" && $"a_id" =!= $"b_id"),
        3, after = Seq("cent_id"))
      .orderBy($"a_id", $"rn")
  }

  /** Token counting two ways: whitespace split vs a BPE-ish regex
    * lexer (letter runs / digit runs / single punctuation — the
    * pre-tokenization shape GPT-style BPE applies before merges).
    * RE2-safe pattern, identical in Spark (Java regex) and DuckDB.
    */
  def qTextTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    t(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text", lit(pat), lit(0))).cast("long")
          .as("bpe_tokens"),
        // try_divide: a zero-token doc must yield NULL (DuckDB's /0
        // result), not an ANSI DIVIDE_BY_ZERO crash
        try_divide($"n_chars",
          size(regexp_extract_all($"text", lit(pat), lit(0))).cast("double"))
          .as("chars_per_token"))
      .withColumn("chars_per_token", r6($"chars_per_token"))
      .orderBy($"doc_id")
  }

  /** Deterministic content-hash bucket in [0, 100): the foundation for
    * reproducible corpus sampling and train/val splits — the same row
    * lands in the same bucket on any cluster, any partitioning, any
    * engine (md5 is everywhere; rand() is banned).
    */
  private[ops] def hashBucket(idCol: String): org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")

  /** Reproducible 5% Bernoulli-style sample of the corpus. */
  def qSampleHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("bucket", hashBucket("doc_id"))
      .filter($"bucket" < 5)
      .select($"doc_id", $"bucket", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Deterministic FIXED-SIZE corpus sample: rank every row by a
    * content hash and keep the first 100 — the "give me exactly N
    * reproducible rows, uniformly spread" primitive (a debugging /
    * eval-slice staple), complementing [[qSampleHash]]'s fixed-RATE
    * Bernoulli buckets. Same row set on any cluster, any partitioning,
    * any engine; doc_id breaks (impossible-in-practice) hash ties.
    *
    * Scale shape: ORDER BY + LIMIT fuses to TakeOrderedAndProject —
    * every task keeps its local top-100, one tiny merge at the
    * driver; no global sort ever materializes.
    */
  def qSampleFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        md5(concat(lit("fix"), $"doc_id".cast("string"))).as("hk"),
        $"lang", $"source", $"n_chars")
      .orderBy($"hk", $"doc_id")
      .limit(100)
  }

  /** Deterministic 90/10 train/val split with per-language shares. */
  def qSplitTrainVal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tagged = t(s, dir, "documents")
      .withColumn("split",
        when(hashBucket("doc_id") < 90, "train").otherwise("val"))
    val perLang = tagged.groupBy($"lang")
      .agg(count(lit(1)).as("n_lang"))
    tagged.groupBy($"lang", $"split").agg(count(lit(1)).as("n"))
      .join(perLang, "lang")
      .select($"lang", $"split", $"n",
        r6($"n" / $"n_lang".cast("double")).as("share"))
      .orderBy($"lang", $"split")
  }

  /** Multimodal binary-column plumbing with an oracle: text bytes as
    * an opaque BinaryType payload, digests, sizes and a sampled head
    * slice. The real decode path (P6 PPM images) is
    * [[qMultimodalDecode]].
    */
  def qMultimodalBinary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("media", encode($"text", "UTF-8"))
      .select($"doc_id",
        octet_length($"media").cast("long").as("n_bytes"),
        md5($"media").as("md5_hex"),
        sha2($"media", 256).as("sha256_hex"),
        hex(substring($"media", 1, 4)).as("head_hex"))
      .orderBy($"doc_id")
  }

  /** REAL image decode with an oracle (r8, VERDICT r7 task 4): each
    * document gets a deterministic synthetic P6 PPM container
    * ([[Multimodal.ppmBytes]] — genuine netpbm bytes, comment line
    * included), decoded by the real parser ([[Multimodal.decodePpm]]:
    * magic/comments/whitespace/maxval grammar, then the w·h·3 pixel
    * plane) into exact integer stats. The oracle recomputes the
    * stats ANALYTICALLY from the same pixel function ((31·id + 7·j)
    * mod 256 over generate_series) — a parser that misreads any
    * header field or plane offset shifts every channel sum, so the
    * equality is a real decode check, not a tautology. Binary stays
    * in executors (mapPartitions over ids; synthesis + decode are
    * per-row, no shuffle) — the 1000-executor decode shape.
    */
  def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.map { d =>
        Multimodal.ppmStats(d, Multimodal.ppmBytes(d))
      })
      .toDF()
      .orderBy($"doc_id")
  }

  /** q_dedup_ngram's oracle, shared: q_dedup_components embeds it as
    * the edge-set CTE of its recursive closure.
    */
  private val NgramOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, source,
      |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |big AS (
      |  SELECT DISTINCT a.doc_id, a.lang, a.source,
      |    concat(a.word, ' ', b.word) AS bigram
      |  FROM tok a JOIN tok b
      |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |blockn AS (
      |  SELECT lang, source, count(*) AS n_block
      |  FROM documents GROUP BY 1, 2),
      |dfc AS (
      |  SELECT lang, source, bigram, count(*) AS df
      |  FROM big GROUP BY 1, 2, 3),
      |kept AS (
      |  SELECT b.doc_id, b.lang, b.source, b.bigram
      |  FROM big b
      |  JOIN dfc USING (lang, source, bigram)
      |  JOIN blockn USING (lang, source)
      |  WHERE dfc.df <= least(greatest(5, n_block // 4), 64)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM kept a JOIN kept b
      |    ON a.bigram = b.bigram AND a.lang = b.lang
      |   AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, inter,
      |  round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON inter.a_id = sa.doc_id
      |JOIN sizes sb ON inter.b_id = sb.doc_id
      |WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
      |ORDER BY a_id, b_id""".stripMargin

  val keys: Seq[Key] = Seq(
    // xxhash64 fingerprints have no DuckDB twin; property-tested
    Key("q_dedup_simhash", qDedupSimhash),
    // analytic recompute of the synthetic pixel function — no binary
    // parsing oracle-side; any Spark-side parser misread shifts the
    // channel sums (see qMultimodalDecode scaladoc)
    // posmod mirrors of the Spark side's floorMod (the sign-safe
    // moments-shift pattern): fixture doc_ids are nonnegative, but
    // the asymmetry of a bare % (sign-following in DuckDB) vs
    // floorMod would be a latent divergence for any negative id
    Key("q_multimodal_decode", qMultimodalDecode,
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(4 + ((doc_id % 13) + 13) % 13 AS INTEGER) AS width,
        |    CAST(3 + ((doc_id % 7) + 7) % 7 AS INTEGER) AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height,
        |    unnest(generate_series(0, width * height * 3 - 1)) AS j
        |  FROM d)
        |SELECT doc_id, width, height, CAST(3 AS INTEGER) AS channels,
        |  CAST(width AS BIGINT) * height AS n_pix,
        |  CAST(sum(CASE WHEN j % 3 = 0
        |    THEN (((doc_id * 31 + 7 * j) % 256) + 256) % 256 END) AS BIGINT)
        |    AS sum_r,
        |  CAST(sum(CASE WHEN j % 3 = 1
        |    THEN (((doc_id * 31 + 7 * j) % 256) + 256) % 256 END) AS BIGINT)
        |    AS sum_g,
        |  CAST(sum(CASE WHEN j % 3 = 2
        |    THEN (((doc_id * 31 + 7 * j) % 256) + 256) % 256 END) AS BIGINT)
        |    AS sum_b
        |FROM px GROUP BY doc_id, width, height
        |ORDER BY doc_id""".stripMargin),
    Key("q_text_langid", qTextLangid,
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |profile AS (
        |  SELECT lang AS cand_lang, word FROM (
        |    SELECT lang, word, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY count(*) DESC, word ASC) AS rn
        |    FROM tok GROUP BY lang, word)
        |  WHERE rn <= 5),
        |scores AS (
        |  SELECT t.doc_id, p.cand_lang, count(*) AS matches
        |  FROM tok t JOIN profile p USING (word)
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, cand_lang, matches FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY matches DESC, cand_lang ASC) AS rn FROM scores)
        |  WHERE rn = 1)
        |SELECT d.doc_id,
        |  coalesce(p.cand_lang, 'unknown') AS pred_lang,
        |  coalesce(p.matches, 0) AS matches,
        |  d.lang,
        |  coalesce(p.cand_lang, 'unknown') = d.lang AS correct
        |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Key("q_text_quality", qTextQuality,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |stop AS (
        |  SELECT word FROM (
        |    SELECT word, count(*) AS cnt, row_number() OVER (
        |      ORDER BY count(*) DESC, word ASC) AS rn
        |    FROM tok GROUP BY word)
        |  WHERE rn <= 10),
        |per AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    count(DISTINCT t.word) AS n_distinct,
        |    CAST(sum(CASE WHEN s.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_stop
        |  FROM tok t LEFT JOIN stop s ON t.word = s.word
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_distinct, n_stop,
        |  round(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio,
        |  round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
        |  round(0.4 * (n_distinct / CAST(n_tokens AS DOUBLE))
        |      + 0.3 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
        |      + 0.3 * (least(n_tokens, 100) / 100.0), 6) AS quality
        |FROM per ORDER BY doc_id""".stripMargin),

    Key("q_text_fingerprint", qTextFingerprint,
      """WITH f AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        range(1, length(text) + 1)),
        |      (acc, i) -> (acc * 31 + ascii(substring(text, CAST(i AS INTEGER), 1)))
        |                  % 1000000007) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_fp
        |FROM f ORDER BY doc_id""".stripMargin),

    Key("q_text_tokens", qTextTokens,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS bpe_tokens,
        |  round(n_chars / CAST(len(regexp_extract_all(text,
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE), 6) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin),

    Key("q_dedup_ngram", qDedupNgram, NgramOracleSql),

    Key("q_dedup_components", qDedupComponents,
      s"""WITH RECURSIVE pairs AS ($NgramOracleSql),
        |und AS (
        |  SELECT a_id AS x, b_id AS y FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |walk(x, y) AS (
        |  SELECT x, y FROM und
        |  UNION
        |  SELECT w.x, u.y FROM walk w JOIN und u ON w.y = u.x),
        |comp AS (
        |  SELECT x AS doc_id, least(x, min(y)) AS component
        |  FROM walk GROUP BY x)
        |SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS n_members
        |FROM comp ORDER BY doc_id""".stripMargin),

    Key("q_dedup_embed", qDedupEmbed,
      s"""$normedSql
        |SELECT a_id, b_id, round(rawcos, 6) AS cos FROM (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    ${rawCosSql("a.", "b.")} AS rawcos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |WHERE rawcos >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),

    // Hamming-≤1 band match is expressed directly (bit_count ≤ 1
    // inside the band equi-join) — semantically identical to the
    // Spark side's multi-probe key expansion, which exists only to
    // keep the predicate an equi-join at scale.
    Key("q_dedup_embed_lsh", qDedupEmbedLsh,
      s"""$normedSql,
        |sig AS (
        |  SELECT vec_id, b AS band,
        |    ${signBitsSql("emb[(b*8+1):(b*8+8)]")} AS bv
        |  FROM n CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
        |  FROM sig x JOIN sig y
        |    ON x.band = y.band AND x.vec_id < y.vec_id
        |  WHERE bit_count(xor(x.bv, y.bv)) <= 1)
        |SELECT a_id, b_id, round(rawcos, 6) AS cos FROM (
        |  SELECT c.a_id, c.b_id, ${rawCosSql("a.", "b.")} AS rawcos
        |  FROM cand c
        |  JOIN n a ON c.a_id = a.vec_id
        |  JOIN n b ON c.b_id = b.vec_id)
        |WHERE rawcos >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),

    // production-τ twin: adaptive band width re-derived from count(*)
    // with the same integer math (bin()/`//`, clamped to [8, 16]),
    // 4 bands over 16-dim slices, Hamming-≤1 as bit_count(xor) ≤ 1,
    // identical rawcos fold thresholded at 0.9
    Key("q_dedup_embed_lsh_t9", qDedupEmbedLshT9,
      s"""$normedSql,
        |p AS (
        |  SELECT greatest(8, least(16,
        |    CASE WHEN m <= 1 THEN 0
        |         ELSE least(length(bin(m - 1)), 32) END)) AS w
        |  FROM (SELECT (count(*) + 3) // 4 AS m FROM e) t),
        |sig AS (
        |  SELECT vec_id, b AS band,
        |    ${signBitsSql("emb[(b*16+1):(b*16+(SELECT w FROM p))]")} AS bv
        |  FROM n CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
        |  FROM sig x JOIN sig y
        |    ON x.band = y.band AND x.vec_id < y.vec_id
        |  WHERE bit_count(xor(x.bv, y.bv)) <= 1)
        |SELECT a_id, b_id, round(rawcos, 6) AS cos FROM (
        |  SELECT c.a_id, c.b_id, ${rawCosSql("a.", "b.")} AS rawcos
        |  FROM cand c
        |  JOIN n a ON c.a_id = a.vec_id
        |  JOIN n b ON c.b_id = b.vec_id)
        |WHERE rawcos >= 0.9
        |ORDER BY a_id, b_id""".stripMargin),

    Key("q_sim_ann_lsh", qSimAnnLsh,
      s"""$embSql,
        |p AS (
        |  SELECT CASE WHEN m <= 1 THEN 0
        |         ELSE least(length(bin(m - 1)), 32) END AS w
        |  FROM (SELECT (count(*) + 63) // 64 AS m FROM e) t),
        |n AS (
        |  SELECT vec_id, emb, $nrmSql AS nrm,
        |    ${signBitsSql("list_slice(emb, 1, (SELECT w FROM p))")} AS bucket
        |  FROM e),
        |pairs AS (
        |  SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
        |    ${rawCosSql("a.", "b.")} AS rawcos
        |  FROM n a JOIN n b
        |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
        |SELECT a_id, rn, b_id, round(rawcos, 6) AS cos, bucket FROM (
        |  SELECT *, row_number() OVER (PARTITION BY a_id
        |    ORDER BY rawcos DESC, b_id ASC) AS rn FROM pairs)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin),

    Key("q_sim_ann_ivf", qSimAnnIvf,
      s"""$normedSql,
        |p AS (
        |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
        |  FROM e),
        |cents AS (
        |  SELECT crn AS cent_id, emb AS c_emb, nrm AS c_nrm FROM (
        |    SELECT *, row_number() OVER (
        |      ORDER BY md5(concat('ivf', CAST(vec_id AS VARCHAR))), vec_id)
        |      AS crn
        |    FROM n)
        |  WHERE crn <= (SELECT c FROM p)),
        |scored AS (
        |  SELECT n.vec_id, n.emb, n.nrm, c.cent_id,
        |    ${rawCosSql("n.", "c.c_")} AS c_cos
        |  FROM n CROSS JOIN cents c),
        |assigned AS (
        |  SELECT cent_id, vec_id, emb, nrm FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY c_cos DESC, cent_id ASC) AS arn
        |    FROM scored)
        |  WHERE arn = 1),
        |pairs AS (
        |  SELECT a.cent_id, a.vec_id AS a_id, b.vec_id AS b_id,
        |    ${rawCosSql("a.", "b.")} AS rawcos
        |  FROM assigned a JOIN assigned b
        |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id)
        |SELECT a_id, rn, b_id, round(rawcos, 6) AS cos, cent_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY a_id
        |    ORDER BY rawcos DESC, b_id ASC) AS rn FROM pairs)
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin),

    Key("q_sample_fixed", qSampleFixed,
      """SELECT doc_id, md5('fix' || CAST(doc_id AS VARCHAR)) AS hk,
        |  lang, source, n_chars
        |FROM documents
        |ORDER BY hk, doc_id LIMIT 100""".stripMargin),

    Key("q_sample_hash", qSampleHash,
      """SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |    AS bucket,
        |  lang, n_chars
        |FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
        |ORDER BY doc_id""".stripMargin),

    Key("q_split_train_val", qSplitTrainVal,
      """WITH tagged AS (
        |  SELECT lang,
        |    CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
        |         THEN 'train' ELSE 'val' END AS split
        |  FROM documents),
        |per AS (SELECT lang, count(*) AS n_lang FROM tagged GROUP BY lang)
        |SELECT t.lang, t.split, count(*) AS n,
        |  round(count(*) / CAST(max(p.n_lang) AS DOUBLE), 6) AS share
        |FROM tagged t JOIN per p ON t.lang = p.lang
        |GROUP BY t.lang, t.split
        |ORDER BY t.lang, t.split""".stripMargin),

    Key("q_multimodal_binary", qMultimodalBinary,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS md5_hex,
        |  sha256(text) AS sha256_hex,
        |  substring(hex(encode(text)), 1, 8) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
