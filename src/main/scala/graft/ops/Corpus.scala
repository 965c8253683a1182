package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import core._

/** Corpus-hygiene operators (round 4 additions to SURVEY §2.11): the
  * repetition/boilerplate filters and sub-document dedup passes a
  * production training-data pipeline runs between ingest and split —
  * re-expressed as declarative Spark plans (capability sentence:
  * `/root/reference/README.md:2`).
  */
object Corpus extends Family {

  /** Gopher-style repetition metrics per document: the fraction of
    * tokens taken by the single most frequent token, and the fraction
    * of duplicated bigrams — the two cheapest signals that catch
    * keyword-stuffed / looping machine text. `keep` thresholds on the
    * ROUNDED scores (§5.3 rule) so both engines gate identically.
    *
    * Scale shape: EVERY metric is a per-row array expression — the
    * whole operator is one map stage with zero shuffles (the final
    * orderBy is presentation-only). The top-token count folds over
    * `array_distinct` (O(d·n) per row; per-doc vocabulary d is small
    * for natural text) instead of explode → double-agg, which
    * benchmarked 5× slower here by carrying five doc columns through
    * every exploded token row. Bigram stats use the same `zip_with`
    * trick as [[LlmOps.qTextNgram]].
    */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", $"lang", split($"text", " ").as("toks"))
      .withColumn("bg", LlmOps.bigramsOf($"toks"))
      .select($"doc_id", $"lang",
        size($"toks").cast("long").as("n_tokens"),
        size($"bg").cast("long").as("n_bigrams"),
        size(array_distinct($"bg")).cast("long").as("n_dist_bigrams"),
        expr("""CAST(array_max(transform(array_distinct(toks),
                 x -> size(filter(toks, y -> y = x)))) AS BIGINT)""")
          .as("top_c"))
      .select($"doc_id", $"lang", $"n_tokens",
        r6($"top_c" / $"n_tokens".cast("double")).as("top_tok_frac"),
        r6(when($"n_bigrams" > 0,
            ($"n_bigrams" - $"n_dist_bigrams") / $"n_bigrams".cast("double"))
          .otherwise(lit(0.0))).as("dup_bigram_frac"))
      .withColumn("keep",
        $"top_tok_frac" <= 0.12 && $"dup_bigram_frac" <= 0.05)
      .orderBy($"doc_id")
  }

  /** Sub-document (chunk-level) exact dedup, C4-style: split each doc
    * into disjoint 8-token chunks, keep the globally-first occurrence
    * of each distinct chunk text (ordered by doc_id, chunk_idx), and
    * report per-doc survival. This is the pass that strips repeated
    * boilerplate paragraphs a whole-doc dedup can't see.
    *
    * Scale shape: chunking is a per-row array transform (no shuffle);
    * first-occurrence ranking is ONE hash shuffle keyed by chunk
    * text — exactly the content-keyed partitioning a 100 TB corpus
    * needs (hot identical chunks collapse into single groups); the
    * final rollup re-shuffles by doc_id with map-side combine.
    */
  def qDedupChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, CAST((size(toks) + 7) DIV 8 AS INT) - 1),
          |          i -> array_join(slice(toks, i * 8 + 1, 8), ' '))"""
          .stripMargin)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    val w = Window.partitionBy($"chunk").orderBy($"doc_id", $"chunk_idx")
    chunks.withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_first"))
      .select($"doc_id", $"n_chunks", $"n_first",
        r6($"n_first" / $"n_chunks".cast("double")).as("frac_unique"))
      .orderBy($"doc_id")
  }

  /** Distinctive vocabulary per language: rank tokens by the share of
    * their global occurrences that fall in this language (an exact
    * integer ratio — both engines compute the identical double, so
    * ranking on the RAW ratio is safe; tok asc breaks ties), top-3
    * per language. The corpus-keyword extraction behind "what is this
    * source actually about" dashboards.
    *
    * Scale shape: ONE scan+explode — the global counts are derived
    * from the per-lang table (Σ c_lang over langs) rather than
    * re-exploding the token stream, so the expensive split+explode
    * stage runs once; the global count table is vocabulary-sized, so
    * Catalyst broadcasts the join back to the per-lang counts.
    */
  def qTextLangKeywords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("tok"))
    val byLang = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("c_lang"))
    val global = byLang.groupBy($"tok").agg(sum($"c_lang").as("c_all"))
    val scored = byLang.join(global, "tok")
      .withColumn("ratio", $"c_lang" / $"c_all".cast("double"))
    val w = Window.partitionBy($"lang").orderBy($"ratio".desc, $"tok".asc)
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"lang", $"rk", $"tok", $"c_lang", $"c_all",
        r6($"ratio").as("affinity"))
      .orderBy($"lang", $"rk")
  }

  /** Benchmark-contamination check: which training documents share a
    * 5-token shingle with the held-out evaluation slice (sources
    * src18/src19 — 10% of the corpus, stable across SFs)? The decon
    * pass every serious LLM corpus runs before training: n-gram
    * overlap between train and eval is exactly how benchmark leakage
    * is measured in practice.
    *
    * Scale shape: shingling and per-doc dedup are per-row array
    * expressions (zero shuffles); the eval shingle set is benchmark-
    * sized (tiny vs the corpus) so membership is a BROADCAST semi
    * join against the exploded train shingles — the train side is
    * never shuffled at all; the only shuffle is the doc-keyed count
    * rollup with map-side combine. At 100 TB the train scan dominates
    * and runs once per side with the source filter pushed to parquet.
    */
  def qTextContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evalSrc = Seq("src18", "src19")
    val grams = t(s, dir, "documents")
      .select($"doc_id", $"lang", $"source", split($"text", " ").as("toks"))
      .select($"doc_id", $"lang", $"source", explode(expr(
        """array_distinct(
          |  CASE WHEN size(toks) >= 5
          |       THEN transform(sequence(1, size(toks) - 4),
          |                      i -> array_join(slice(toks, i, 5), ' '))
          |       ELSE array() END)""".stripMargin)).as("gram"))
    val evalGrams = grams.filter($"source".isin(evalSrc: _*))
      .select($"gram").distinct()
    val train = grams.filter(!$"source".isin(evalSrc: _*))
    // r15 (guide §2.4): per-doc totals and contaminated counts in ONE
    // pass — the pre-r15 form ran the train-side scan + 5-shingle
    // explode TWICE (once for each count) and shuffled the doc key
    // twice. A left-outer broadcast against the DISTINCT eval set
    // marks hits without fanout (each train gram matches at most one
    // distinct eval gram), so count(*) per doc is unchanged and the
    // conditional count equals the old inner-join count; docs with
    // zero hits drop exactly like the old inner perDoc ⋈ hit.
    val both = train
      .join(broadcast(evalGrams.withColumn("is_hit", lit(1L))),
        Seq("gram"), "left_outer")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"is_hit", lit(0L))).as("n_contaminated"))
      .filter($"n_contaminated" > 0L)
    both
      .select($"doc_id", $"lang", $"n_grams", $"n_contaminated",
        r6($"n_contaminated" / $"n_grams".cast("double")).as("contamination"))
      .orderBy($"doc_id")
  }

  /** Incremental-ingest dedup: flag new-batch documents whose
    * leading-8-token fingerprint already exists in the historical
    * corpus (doc_id parity stands in for the arrival boundary), using
    * a DISTRIBUTED bloom filter of the history as the prefilter and
    * an exact semi-join recheck of only the bloom candidates.
    *
    * The mechanism is the point: `bloom_filter_agg` summarizes the
    * history into a mergeable O(bytes) sketch built map-side (never
    * shuffling history rows), the sketch broadcasts to the batch scan
    * where `BloomFilterMightContain` drops definite-new rows BEFORE
    * any join shuffle, and only candidates (true dups + the bloom's
    * false positives) pay the exact recheck join — so the output is
    * EXACT and oracle-checkable while the bloom only buys the prune.
    * This is the daily-ingest shape: yesterday's corpus is summarized
    * once, each new shard probes locally. At 100 TB of history the
    * single broadcast bloom becomes hash-range-sharded blooms (or the
    * reference slice that matters — the contamination key's eval-set
    * pattern); the plan shape is unchanged. FP-rate sanity and the
    * candidates ⊇ dups containment are pinned in CorpusSpec.
    */
  /** `bloom_filter_agg(xxhash64(c), items, bits)` as a Column —
    * `BloomFilterAggregate` powers Spark's own runtime join filters
    * but is not in the public SQL registry, so it surfaces through
    * GraftBridge like the other internal expressions.
    */
  def bloomAggOf(c: org.apache.spark.sql.Column,
      items: Long, bits: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    GraftBridge.column(new BloomFilterAggregate(
      GraftBridge.expression(xxhash64(c)),
      Literal(items), Literal(bits)).toAggregateExpression())
  }

  /** `might_contain(<scalar-subquery bloom>, xxhash64(c))` as a
    * Column. `might_contain` only accepts a constant or scalar
    * subquery for the filter side (the shape `InjectRuntimeFilter`
    * itself builds), so the 1-row bloom frame rides in as a
    * `ScalarSubquery` — planned once, broadcast to every probe task.
    */
  def bloomProbeOf(bloom: DataFrame,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    GraftBridge.column(new BloomFilterMightContain(
      ScalarSubquery(bloom.queryExecution.analyzed),
      GraftBridge.expression(xxhash64(c))))
  }

  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id", $"lang",
        array_join(slice(split($"text", " "), 1, 8), " ").as("pfx"))
    val hist = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val bloom = hist.agg(bloomAggOf($"pfx", 50000L, 400000L).as("bf"))
    val cand = batch.filter(bloomProbeOf(bloom, $"pfx"))
      .select($"doc_id", $"pfx")
    val dupIds = cand
      .join(hist.select($"pfx"), Seq("pfx"), "left_semi")
      .select($"doc_id")
    batch.join(dupIds.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_new"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dup"))
      .withColumn("n_uniq", $"n_new" - $"n_dup")
      .orderBy($"lang")
  }

  /** Deterministic stratified corpus rebalance: per-language keep
    * rates (downsample the dominant language, keep more of the rare
    * ones) applied through the same md5 content-hash bucket as
    * [[TrainingOps.qSampleHash]] — reproducible on any cluster, any
    * partitioning, no rand(). Reports per-language kept counts,
    * volumes and realised share vs the target rate.
    *
    * Scale shape: the rate table is config-sized (one row per
    * language) and broadcast; the corpus side is one scan + one
    * combinable lang-keyed rollup. Nothing here depends on corpus
    * size except the scan.
    */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("de", 20), ("en", 5), ("es", 20), ("fr", 20), ("zh", 50))
      .toDF("lang", "rate")
    t(s, dir, "documents")
      .withColumn("bucket", TrainingOps.hashBucket("doc_id"))
      .join(broadcast(rates), "lang")
      .groupBy($"lang", $"rate")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"bucket" < $"rate", 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when($"bucket" < $"rate", $"n_chars")), lit(0L))
          .as("kept_chars"))
      .select($"lang", $"rate", $"n_total", $"n_kept", $"kept_chars",
        r6($"n_kept" / $"n_total".cast("double")).as("kept_share"))
      .orderBy($"lang")
  }

  /** Unigram language-model cross-entropy per document (average
    * negative log-likelihood under corpus-wide unigram frequencies) —
    * the classic perplexity-style quality prune: documents whose
    * token mix is far from the corpus distribution score high.
    * Perplexity itself would be `exp(avg_nll)`; we emit the nll to
    * keep the cross-engine arithmetic inside the pinned ln-only
    * surface (exp would double the libm exposure for zero extra
    * information — the ordering is identical).
    *
    * Determinism: each ln(c_all/T) is rounded to 12-dp DECIMAL before
    * the per-doc sum (the [[Aggregates.qAggEntropy]] pattern, same
    * libm caveat documented there); the c_doc multiplier is an exact
    * DECIMAL(8,0) so the product and sum are order-independent.
    * The output r6 is the SAFE divide-then-round class (the kmeans
    * rule), not a decimal re-round: avg_nll = −s/n is a quotient of
    * the decimal sum by an arbitrary integer, so its double is a
    * generic mantissa whose shortest string virtually never
    * terminates at a 7-dp midpoint (the mechanism that forced the
    * q_embed_pq CAST fix requires the value itself to BE a short
    * decimal). Audited residual (r7): if |s|·10^12 exceeds 2^53
    * (needs n_tokens·ln(T) ≳ 9000 — the largest docs at 10× corpus
    * get close), DuckDB's decimal→double cast may differ from Spark's
    * by 1 ulp of s (~2e-12); after ÷n and r6 that shifts the output
    * only if avg_nll sits within ~1e-14 of a 6-dp midpoint — odds
    * ≲1e-8/row, dominated by the shared libm-ln assumption.
    *
    * Scale shape: ONE explode feeds both the per-(doc,token) counts
    * and the vocabulary table (derived by re-aggregating the counts,
    * not re-scanning); the vocabulary and the 1-row total are
    * broadcast back. The only corpus-sized shuffles are the two
    * combinable token/doc-keyed aggregations.
    */
  def qTextPerplexity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDocTok = t(s, dir, "documents")
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"lang", $"tok").agg(count(lit(1)).as("c_doc"))
    val vocab = perDocTok.groupBy($"tok").agg(sum($"c_doc").as("c_all"))
    val total = vocab.agg(sum($"c_all").as("t_all"))
    perDocTok.join(broadcast(vocab), "tok")
      .crossJoin(broadcast(total))
      .withColumn("term", expr(
        """CAST(round(ln(c_all / CAST(t_all AS DOUBLE)), 12) AS DECIMAL(26, 12))
          | * CAST(c_doc AS DECIMAL(8, 0))""".stripMargin))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c_doc").as("n_tokens"), sum($"term").as("s"))
      .select($"doc_id", $"lang", $"n_tokens",
        r6(-$"s".cast("double") / $"n_tokens".cast("double")).as("avg_nll"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------- registries

  /** Distribution-drift monitor: KL(lang ‖ corpus) of the token
    * distribution, per language — "how far has this slice drifted
    * from the global mix", the check recurring ingests run to catch
    * source composition shifts. KL = (1/n_l)·Σ_w c_lw·ln((c_lw·n_g)/
    * (n_l·c_w)) — every ln argument is an exact integer ratio, each
    * term pre-rounded to 12-dp DECIMAL before the sum (the
    * entropy/perplexity discipline: order-independent sums, one
    * documented libm assumption). The output r6 is the safe
    * divide-then-round (kmeans-rule) class — see the
    * [[qTextPerplexity]] note: rounding the quotient sk/n_l cannot
    * hit the decimal-midpoint trap, and the >2^53 cast residual is
    * ≲1e-8/row after the ÷n_l attenuation.
    *
    * Scale shape: one explode feeds every aggregate; the per-lang
    * token table is the only corpus-sized shuffle (combinable); the
    * global vocabulary and per-lang totals are vocabulary-/lang-sized
    * and broadcast back.
    */
  def qDriftKl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byLang = t(s, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("c_lw"))
    val langTotals = byLang.groupBy($"lang").agg(sum($"c_lw").as("n_l"))
    val global = byLang.groupBy($"tok").agg(sum($"c_lw").as("c_w"))
    val totalAll = global.agg(sum($"c_w").as("n_g"))
    byLang.join(broadcast(global), "tok")
      .join(broadcast(langTotals), "lang")
      .crossJoin(broadcast(totalAll))
      .withColumn("term", expr(
        """CAST(round(ln((c_lw * n_g) / CAST(n_l * c_w AS DOUBLE)), 12)
          |  AS DECIMAL(26, 12)) * CAST(c_lw AS DECIMAL(8, 0))""".stripMargin))
      .groupBy($"lang")
      .agg(max($"n_l").as("n_tokens"), sum($"term").as("sk"))
      .select($"lang", $"n_tokens",
        r6($"sk".cast("double") / $"n_tokens".cast("double")).as("kl"))
      .orderBy($"lang")
  }

  /** Per-word symbolization shared by trainer and apply (ONE
    * definition on each engine — the "subword counts equal the
    * trainer's sequences" claim depends on them staying identical):
    * every symbol is wrapped in its OWN delimiters, `ath` →
    * `|a||t||h|`. Boundary-exactness: a pair search string
    * `|a||t|` can only match two complete adjacent symbols — it
    * cannot match inside `|a||th|` (prefix/suffix fusions are
    * impossible), and adjacent occurrences share no characters, so
    * leftmost non-overlapping `replace` (identical in Spark and
    * DuckDB) applies every occurrence in one pass.
    */
  private def symbolize(col: String): String =
    s"concat('|', array_join(transform(sequence(1, length($col)), " +
      s"i -> substr($col, i, 1)), '||'), '|')"

  private def symbolizeSql(col: String): String =
    s"concat('|', array_to_string(list_transform(generate_series(1, length($col)), " +
      s"i -> substr($col, i, 1)), '||'), '|')"

  /** The trainer loop shared by q_text_bpe (reports the merges) and
    * q_text_bpe_apply (tokenizes with them): three 1-row (pair, n)
    * frames in learning order, each cached (they are re-read by every
    * later step's lineage AND by the caller; 1 row each). `words` =
    * one row per token occurrence, column `word`; empty tokens are
    * dropped — Spark `sequence(1, 0)` is `[1, 0]` (descending step)
    * while DuckDB `generate_series(1, 0)` is empty, so an empty word
    * would symbolize differently across engines.
    */
  private[graft] def bpeMergesFrom(words: DataFrame): Seq[DataFrame] = {
    val s = words.sparkSession
    import s.implicits._
    val wf = words
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .withColumn("sym", expr(symbolize("word")))
      .select($"freq", $"sym")
      .transform(core.cached)

    var cur = wf
    val out = Seq.newBuilder[DataFrame]
    for (_ <- 1 to 3) {
      val pairs = cur
        .select($"freq", expr("split(trim(BOTH '|' FROM sym), '[|][|]')").as("a"))
        .filter(size($"a") >= 2)
        .select($"freq", explode(expr(
          "transform(sequence(1, size(a) - 1), i -> concat('|', element_at(a, i), '||', element_at(a, i + 1), '|'))"))
          .as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("n"))
      val best = pairs.orderBy($"n".desc, $"pair".asc).limit(1).transform(core.cached)
      out += best
      cur = cur.crossJoin(broadcast(best.select($"pair".as("bp"))))
        .select($"freq",
          expr("replace(sym, bp, replace(bp, '||', ''))").as("sym"))
    }
    out.result()
  }

  private def bpeMerges(s: SparkSession, dir: String): Seq[DataFrame] = {
    import s.implicits._
    bpeMergesFrom(t(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word")))
  }

  /** The learned 3-merge BPE vocabulary — (step, pair, n) in raw
    * delimited form — persisted once per (dir, JVM) via
    * [[core.persistedIndex]] (r7): the trainer output is THE shared
    * artifact of a tokenizer pipeline (train once, tokenize
    * everywhere). [[qTextBpe]] keeps COMPUTING the trainer — the
    * registered key measures merge learning — while
    * [[qTextBpeApply]]'s corpus tokenization reads the vocabulary.
    * Deterministic: (n desc, pair asc) selection, integer counts.
    */
  def bpeMergesDir(s: SparkSession, dir: String): String =
    core.persistedIndex("bpemerges", dir) { path =>
      import s.implicits._
      bpeMerges(s, dir).zipWithIndex
        .map { case (b, i) => b.select(lit(i + 1).as("step"), $"pair", $"n") }
        .reduce(_ union _)
        .coalesce(1).write.mode("overwrite").parquet(path)
    }

  /** BPE merge training at miniature scale: learn the first THREE
    * byte-pair merges from the corpus word-frequency table (word-freq
    * weighting is exactly how BPE/WordPiece trainers run). Per merge
    * step: count adjacent symbol pairs weighted by word freq → pick
    * the most frequent pair (tiebreak: pair asc) → apply the merge to
    * every word's symbol sequence via [[symbolize]]'s boundary-exact
    * delimited representation (CorpusSpec pins a crafted corpus where
    * a naive single-delimiter encoding fuses across symbol
    * boundaries). Output pairs print as `a+b`.
    *
    * Scale shape: the ONLY corpus-sized work is the word-frequency
    * group-by (combinable), cached once; the merge loop runs on the
    * vocabulary table (tiny by Heaps' law vs the corpus), each step
    * one explode + group-by + cached 1-row broadcast. 3 steps unroll
    * into one declarative plan; the oracle replays them as unrolled
    * CTEs.
    */
  def qTextBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir).zipWithIndex
      .map { case (b, i) => b.select(lit(i + 1).as("step"),
        expr("replace(trim(BOTH '|' FROM pair), '||', '+')").as("pair"), $"n") }
      .reduce(_ union _)
      .orderBy($"step")
  }

  /** Tokenize every document with the learned merges — the token-
    * budget computation a pipeline runs after training the tokenizer.
    * Merges apply in learning order (merge 2 may reference merge 1's
    * joined symbol) through the same [[symbolize]] representation and
    * `replace` the trainer used, so per-word subword counts equal the
    * trainer's final symbol sequences by construction. Map-only over
    * the corpus: the three 1-row merge frames broadcast as scalars;
    * the entire tokenization is one per-row array fold, zero shuffles
    * beyond the trainer's own vocabulary-sized work.
    */
  def qTextBpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // serves the learned merges from the persisted vocabulary artifact
    // (r7): a tokenizer is trained once and applied everywhere — the
    // pre-r7 form re-ran the whole 3-step trainer q_text_bpe measures
    val m = core.parquet(s, bpeMergesDir(s, dir))
    val bps = m.filter($"step" === 1).select($"pair".as("bp1"))
      .crossJoin(m.filter($"step" === 2).select($"pair".as("bp2")))
      .crossJoin(m.filter($"step" === 3).select($"pair".as("bp3")))
    t(s, dir, "documents").crossJoin(broadcast(bps))
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_ws"),
        expr(s"""aggregate(transform(split(text, ' '), w ->
            IF(length(w) = 0, 0L, CAST(size(split(trim(BOTH '|' FROM
              replace(replace(replace(${symbolize("w")},
                bp1, replace(bp1, '||', '')),
                bp2, replace(bp2, '||', '')),
                bp3, replace(bp3, '||', ''))),
              '[|][|]')) AS BIGINT))), 0L, (acc, x) -> acc + x)""")
          .as("n_subwords"))
      .orderBy($"doc_id")
  }

  /** Context-window sequence packing, shard-local concat-and-chop
    * (the GPT/C4 pretraining layout): docs are concatenated in
    * deterministic doc_id order and chopped into fixed 128-token
    * windows; a doc whose tokens cross a window boundary is split
    * across bins. Per shard: bins produced, docs split across a
    * boundary, and the fill rate (packing leaves no padding waste by
    * construction except the final partial bin per shard).
    *
    * Sharding IS the scale design: packing is a sequential
    * prefix-sum, so production packers shard the corpus (content-hash
    * on doc_id — reproducible anywhere, the q_sample_hash bucket) and
    * pack each shard independently; waste is one partial bin per
    * shard. The shard count (8 here) is the parallelism knob — at
    * 100 TB you raise it so each shard fits a task, and the window
    * below stays one-task-per-shard by construction.
    *
    * Determinism: pure integer token counts and integer division;
    * fill_rate is one exact-integer-ratio division before r6.
    */
  def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cap = 128
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
    t(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tok"),
        (TrainingOps.hashBucket("doc_id") % 8).as("shard"))
      .withColumn("cum", sum($"n_tok").over(w))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        expr(s"(max(cum) + ${cap - 1}) DIV $cap").as("n_bins"),
        sum(when(expr(s"(cum - 1) DIV $cap") > expr(s"(cum - n_tok) DIV $cap"),
          1L).otherwise(0L)).as("n_straddle"))
      .select($"shard", $"n_docs", $"n_tokens", $"n_bins", $"n_straddle",
        r6($"n_tokens" / ($"n_bins".cast("double") * cap)).as("fill_rate"))
      .orderBy($"shard")
  }

  /** Domain-mixture rebalancing weights: the per-source sampling rates
    * that move the corpus toward a UNIFORM token share across sources
    * (downsample-only — weights cap at 1, so over-represented sources
    * shrink and under-represented ones pass through). The static
    * mixture computation behind "rebalance the crawl before
    * training"; post_tokens is the expected per-source budget after
    * applying the weights.
    *
    * Determinism: token counts are exact integers; share and weight
    * are single divisions of exact integers (IEEE-exact, the
    * raw-fold/ratio rule) rounded only on output; post_tokens is pure
    * integer min/div.
    *
    * Scale shape: ONE combinable source-keyed aggregation over the
    * corpus; the totals frame is one row, broadcast back — nothing
    * else touches corpus-sized data.
    */
  def qMixWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = t(s, dir, "documents")
      .select($"source", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("tot_tok"),
      count(lit(1)).cast("long").as("k"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        r6($"n_tokens" / $"tot_tok".cast("double")).as("share"),
        r6(least(lit(1.0),
          $"tot_tok".cast("double") / ($"k".cast("double") * $"n_tokens")))
          .as("weight"),
        least($"n_tokens", expr("tot_tok DIV k")).as("post_tokens"))
      .orderBy($"source")
  }

  /** RAG-ingest chunking: overlapping sliding windows of 16 tokens at
    * stride 8 (each consecutive pair shares 8 tokens — the standard
    * retrieval-chunk layout that keeps answers from being cut at
    * chunk boundaries), one row per chunk with its token count and a
    * content signature (md5 prefix — the retrieval-store primary
    * key). Complements [[qDedupChunk]]'s disjoint dedup chunks: this
    * is the read-side layout, that is the hygiene pass.
    *
    * Chunk count per doc = max(0, ⌈(n−16)/8⌉) + 1 — integer-exact in
    * both engines (negative operands clamp identically under
    * trunc-vs-floor division because the clamp dominates). Scale
    * shape: pure per-row array transform + posexplode — zero
    * shuffles; the final orderBy is presentation-only.
    */
  def qRagChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0,
          |            CAST(greatest(0, (size(toks) - 16 + 7) DIV 8) AS INT)),
          |          i -> slice(toks, i * 8 + 1, 16))""".stripMargin)))
      .withColumnRenamed("pos", "chunk_idx")
      .select($"doc_id", $"chunk_idx",
        size($"col").cast("long").as("n_tok"),
        substring(md5(array_join($"col", " ")), 1, 16).as("chunk_sig"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** One BPE merge step as oracle CTEs: pair counts from sPrev,
    * best pair bN, merged symbols sN.
    */
  private def bpeStep(sPrev: String, p: String, b: String, sNext: String): String =
    s"""$p AS (
       |  SELECT pr, CAST(sum(freq) AS BIGINT) AS n FROM (
       |    SELECT freq, unnest(list_transform(generate_series(1, len(a) - 1),
       |      i -> concat('|', a[i], '||', a[i + 1], '|'))) AS pr
       |    FROM (SELECT freq, string_split(trim(sym, '|'), '||') AS a
       |          FROM $sPrev)
       |    WHERE len(a) >= 2)
       |  GROUP BY pr),
       |$b AS (SELECT pr, n FROM $p ORDER BY n DESC, pr LIMIT 1),
       |$sNext AS (
       |  SELECT freq, replace(sym, b.pr, replace(b.pr, '||', '')) AS sym
       |  FROM $sPrev, $b b)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("q_dedup_incremental", qDedupIncremental,
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    array_to_string((string_split(text, ' '))[1:8], ' ') AS pfx
        |  FROM documents),
        |hist AS (SELECT pfx FROM d WHERE doc_id % 2 = 0),
        |flag AS (
        |  SELECT b.lang,
        |    CASE WHEN EXISTS (SELECT 1 FROM hist h WHERE h.pfx = b.pfx)
        |         THEN 1 ELSE 0 END AS is_dup
        |  FROM d b WHERE b.doc_id % 2 = 1)
        |SELECT lang, count(*) AS n_new,
        |  CAST(sum(is_dup) AS BIGINT) AS n_dup,
        |  CAST(count(*) - sum(is_dup) AS BIGINT) AS n_uniq
        |FROM flag GROUP BY lang ORDER BY lang""".stripMargin),
    Key("q_rag_chunk", qRagChunk,
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS a,
        |    greatest(0, (len(string_split(text, ' ')) - 16 + 7) // 8) AS k
        |  FROM documents),
        |c AS (SELECT doc_id, a, unnest(generate_series(0, k)) AS i FROM d)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(len(list_slice(a, i * 8 + 1, i * 8 + 16)) AS BIGINT) AS n_tok,
        |  substring(md5(array_to_string(
        |    list_slice(a, i * 8 + 1, i * 8 + 16), ' ')), 1, 16) AS chunk_sig
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    Key("q_pack_sequences", qPackSequences,
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 % 8 AS shard
        |  FROM documents),
        |w AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
        |        AS cum
        |      FROM d)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST((max(cum) + 127) // 128 AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN (cum - 1) // 128 > (cum - n_tok) // 128
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
        |  round(CAST(sum(n_tok) AS BIGINT) /
        |    (CAST((max(cum) + 127) // 128 AS DOUBLE) * 128), 6) AS fill_rate
        |FROM w GROUP BY shard ORDER BY shard""".stripMargin),

    Key("q_mix_weights", qMixWeights,
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
        |               count(*) AS k FROM per)
        |SELECT source, n_docs, n_tokens,
        |  round(n_tokens / CAST(tot_tok AS DOUBLE), 6) AS share,
        |  round(LEAST(1.0, CAST(tot_tok AS DOUBLE)
        |    / (CAST(k AS DOUBLE) * n_tokens)), 6) AS weight,
        |  CAST(LEAST(n_tokens, tot_tok // k) AS BIGINT) AS post_tokens
        |FROM per, tot ORDER BY source""".stripMargin),

    Key("q_drift_kl", qDriftKl,
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bl AS (SELECT lang, tok, count(*) AS c_lw FROM tok GROUP BY 1, 2),
        |lt AS (SELECT lang, CAST(sum(c_lw) AS BIGINT) AS n_l
        |       FROM bl GROUP BY 1),
        |g AS (SELECT tok, CAST(sum(c_lw) AS BIGINT) AS c_w
        |      FROM bl GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_g FROM g)
        |SELECT bl.lang, max(lt.n_l) AS n_tokens,
        |  round(CAST(sum(
        |    CAST(round(ln((bl.c_lw * tot.n_g)
        |        / CAST(lt.n_l * g.c_w AS DOUBLE)), 12) AS DECIMAL(26, 12))
        |    * CAST(bl.c_lw AS DECIMAL(8, 0))) AS DOUBLE)
        |    / CAST(max(lt.n_l) AS DOUBLE), 6) AS kl
        |FROM bl JOIN g USING (tok) JOIN lt USING (lang) CROSS JOIN tot
        |GROUP BY bl.lang ORDER BY lang""".stripMargin),

    Key("q_text_bpe", qTextBpe,
      s"""WITH s0 AS (
         |  SELECT count(*) AS freq, ${symbolizeSql("word")} AS sym
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE length(word) > 0
         |  GROUP BY word),
         |${bpeStep("s0", "p1", "b1", "s1")},
         |${bpeStep("s1", "p2", "b2", "s2")},
         |${bpeStep("s2", "p3", "b3", "s3")}
         |SELECT step, replace(trim(pair, '|'), '||', '+') AS pair, n FROM (
         |  SELECT CAST(1 AS INTEGER) AS step, pr AS pair, n FROM b1
         |  UNION ALL SELECT CAST(2 AS INTEGER), pr, n FROM b2
         |  UNION ALL SELECT CAST(3 AS INTEGER), pr, n FROM b3)
         |ORDER BY step""".stripMargin),

    Key("q_text_bpe_apply", qTextBpeApply,
      s"""WITH s0 AS (
         |  SELECT count(*) AS freq, ${symbolizeSql("word")} AS sym
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE length(word) > 0
         |  GROUP BY word),
         |${bpeStep("s0", "p1", "b1", "s1")},
         |${bpeStep("s1", "p2", "b2", "s2")},
         |${bpeStep("s2", "p3", "b3", "s3")}
         |SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         |  CAST(list_sum(list_transform(string_split(text, ' '), w ->
         |    CASE WHEN length(w) = 0 THEN 0 ELSE
         |      len(string_split(trim(replace(replace(replace(
         |        ${symbolizeSql("w")},
         |        b1.pr, replace(b1.pr, '||', '')),
         |        b2.pr, replace(b2.pr, '||', '')),
         |        b3.pr, replace(b3.pr, '||', '')), '|'), '||'))
         |    END)) AS BIGINT) AS n_subwords
         |FROM documents, b1, b2, b3
         |ORDER BY doc_id""".stripMargin),

    Key("q_text_lang_keywords", qTextLangKeywords,
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bl AS (SELECT lang, tok, count(*) AS c_lang FROM tok GROUP BY 1, 2),
        |g AS (SELECT tok, count(*) AS c_all FROM tok GROUP BY 1),
        |j AS (
        |  SELECT bl.lang, bl.tok, bl.c_lang, g.c_all,
        |    bl.c_lang / CAST(g.c_all AS DOUBLE) AS ratio
        |  FROM bl JOIN g USING (tok)),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY ratio DESC, tok ASC) AS rk
        |  FROM j)
        |SELECT lang, rk, tok, c_lang, c_all, round(ratio, 6) AS affinity
        |FROM r WHERE rk <= 3 ORDER BY lang, rk""".stripMargin),

    Key("q_text_repetition", qTextRepetition,
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |tc AS (SELECT doc_id, lang, n_tokens, tok, count(*) AS c
        |       FROM tok GROUP BY 1, 2, 3, 4),
        |top AS (SELECT doc_id, lang, n_tokens, max(c) AS top_c
        |        FROM tc GROUP BY 1, 2, 3),
        |pos AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
        |    unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |bgt AS (SELECT a.doc_id, concat(a.word, ' ', b.word) AS bigram
        |        FROM pos a JOIN pos b
        |          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bg AS (SELECT doc_id, count(*) AS nb, count(DISTINCT bigram) AS nd
        |       FROM bgt GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id, t.lang, CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |    round(t.top_c / CAST(t.n_tokens AS DOUBLE), 6) AS top_tok_frac,
        |    round(COALESCE((bg.nb - bg.nd) / CAST(bg.nb AS DOUBLE), 0.0), 6)
        |      AS dup_bigram_frac
        |  FROM top t LEFT JOIN bg USING (doc_id))
        |SELECT doc_id, lang, n_tokens, top_tok_frac, dup_bigram_frac,
        |  (top_tok_frac <= 0.12 AND dup_bigram_frac <= 0.05) AS keep
        |FROM scored ORDER BY doc_id""".stripMargin),

    Key("q_dedup_chunk", qDedupChunk,
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
        |    unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, (pos - 1) // 8 AS chunk_idx,
        |    string_agg(word, ' ' ORDER BY pos) AS chunk
        |  FROM tok GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |        / CAST(count(*) AS DOUBLE), 6) AS frac_unique
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Key("q_text_contamination", qTextContamination,
      """WITH toks AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, lang, source,
        |    CAST(generate_subscripts(w, 1) AS BIGINT) AS i, len(w) AS n, w
        |  FROM toks),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |    array_to_string(w[i:i+4], ' ') AS gram
        |  FROM pos WHERE i + 4 <= n),
        |ev AS (SELECT DISTINCT gram FROM grams
        |       WHERE source IN ('src18', 'src19')),
        |tr AS (SELECT * FROM grams WHERE source NOT IN ('src18', 'src19')),
        |pd AS (SELECT doc_id, lang, count(*) AS n_grams FROM tr GROUP BY 1, 2),
        |ct AS (SELECT doc_id, count(*) AS n_contaminated
        |       FROM tr JOIN ev USING (gram) GROUP BY 1)
        |SELECT pd.doc_id, pd.lang, pd.n_grams, ct.n_contaminated,
        |  round(ct.n_contaminated / CAST(pd.n_grams AS DOUBLE), 6)
        |    AS contamination
        |FROM pd JOIN ct USING (doc_id) ORDER BY doc_id""".stripMargin),

    Key("q_sample_stratified", qSampleStratified,
      """WITH tagged AS (
        |  SELECT lang, n_chars,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |      AS bucket,
        |    CASE lang WHEN 'de' THEN 20 WHEN 'en' THEN 5 WHEN 'es' THEN 20
        |              WHEN 'fr' THEN 20 WHEN 'zh' THEN 50 END AS rate
        |  FROM documents)
        |SELECT lang, rate, count(*) AS n_total,
        |  CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(COALESCE(sum(CASE WHEN bucket < rate THEN n_chars END), 0)
        |       AS BIGINT) AS kept_chars,
        |  round(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 6) AS kept_share
        |FROM tagged GROUP BY lang, rate ORDER BY lang""".stripMargin),

    Key("q_text_perplexity", qTextPerplexity,
      """WITH pdt AS (
        |  SELECT doc_id, lang, tok, count(*) AS c_doc FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2, 3),
        |vocab AS (SELECT tok, CAST(sum(c_doc) AS BIGINT) AS c_all
        |          FROM pdt GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS t_all FROM vocab),
        |terms AS (
        |  SELECT p.doc_id, p.lang, p.c_doc,
        |    CAST(round(ln(v.c_all / CAST(t.t_all AS DOUBLE)), 12)
        |         AS DECIMAL(26, 12)) * CAST(p.c_doc AS DECIMAL(8, 0)) AS term
        |  FROM pdt p JOIN vocab v USING (tok) CROSS JOIN tot t)
        |SELECT doc_id, lang, CAST(sum(c_doc) AS BIGINT) AS n_tokens,
        |  round(-CAST(sum(term) AS DOUBLE)
        |        / CAST(sum(c_doc) AS DOUBLE), 6) AS avg_nll
        |FROM terms GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin))
}
