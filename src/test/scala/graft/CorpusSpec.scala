package graft

import org.apache.spark.sql.functions._

/** Round-4 operators: corpus hygiene (Corpus), decayed/trend
  * aggregates (Aggregates), SQL-text entry and salted join
  * (Relational). The t2 oracle is the main gate; these pin the
  * invariants the oracle can't phrase.
  */
class CorpusSpec extends SparkSuite {
  import spark.implicits._

  private val newKeys = Seq("q_text_repetition", "q_dedup_chunk",
    "q_agg_decay", "q_agg_regr_slope", "q_sql_text", "q_join_salted",
    "q_sample_stratified", "q_text_perplexity",
    "q_pack_sequences", "q_mix_weights", "q_rag_chunk")

  for (k <- newKeys) {
    test(s"$k runs and returns rows at sf0.001") {
      assert(SparkEntry.queries(k)(spark, sf).count() > 0)
    }
  }

  test("q_rag_chunk: stride-8 windows tile every doc, last chunk closes it") {
    val chunks = ops.Corpus.qRagChunk(spark, sf).cache()
    try {
      // per doc: chunk_idx is dense 0..K, and K*8 + len(last) == n_tok
      // (the windows cover the token stream exactly, no gap, no spill)
      val perDoc = chunks.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          max($"chunk_idx").as("k"),
          max(struct($"chunk_idx", $"n_tok")).getField("n_tok").as("last_len"))
      val docs = ops.core.t(spark, sf, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      val bad = perDoc.join(docs, "doc_id")
        .filter($"n_chunks" =!= $"k" + 1 ||
          $"k" * 8 + $"last_len" =!= $"n" ||
          ($"n" > 16 && $"last_len" <= 8)) // overlap ⇒ last window > stride
        .count()
      assert(bad == 0)
    } finally chunks.unpersist()
  }

  test("q_pack_sequences conserves tokens; bins = ceil(tokens/cap) per shard") {
    val df = ops.Corpus.qPackSequences(spark, sf).cache()
    try {
      val rows = df.collect()
      assert(rows.length == 8)
      val packed = rows.map(_.getAs[Long]("n_tokens")).sum
      val corpus = ops.core.t(spark, sf, "documents")
        .select(sum(size(split($"text", " ")).cast("long"))).head.getLong(0)
      assert(packed == corpus, s"packed $packed of $corpus corpus tokens")
      rows.foreach { r =>
        // concat-and-chop leaves no padding except the final partial
        // bin, so the bin count is exactly ceil(shard tokens / 128)
        assert(r.getAs[Long]("n_bins") ==
          (r.getAs[Long]("n_tokens") + 127) / 128)
        assert(r.getAs[Double]("fill_rate") <= 1.0)
        assert(r.getAs[Long]("n_straddle") <= r.getAs[Long]("n_docs"))
      }
    } finally df.unpersist()
  }

  test("q_mix_weights: shares sum to 1, weights capped, budget shrinks only") {
    val rows = ops.Corpus.qMixWeights(spark, sf).collect()
    assert(rows.length == 20)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
    rows.foreach { r =>
      assert(r.getAs[Double]("weight") > 0 && r.getAs[Double]("weight") <= 1.0)
      assert(r.getAs[Long]("post_tokens") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("repetition fractions are in [0,1] and keep matches thresholds") {
    val df = ops.Corpus.qTextRepetition(spark, sf).cache()
    try {
      assert(df.filter($"top_tok_frac" < 0 || $"top_tok_frac" > 1 ||
        $"dup_bigram_frac" < 0 || $"dup_bigram_frac" > 1).count() == 0)
      assert(df.filter($"keep" =!=
        ($"top_tok_frac" <= 0.12 && $"dup_bigram_frac" <= 0.05)).count() == 0)
    } finally df.unpersist()
  }

  test("chunk dedup conserves chunks: Σ n_first == distinct chunk count") {
    val df = ops.Corpus.qDedupChunk(spark, sf).cache()
    try {
      assert(df.filter($"n_first" > $"n_chunks").count() == 0)
      val nFirst = df.agg(sum($"n_first")).head().getLong(0)
      val docs = ops.core.t(spark, sf, "documents")
      val nDistinct = docs
        .select($"doc_id", explode(expr(
          """transform(sequence(0, CAST((size(split(text, ' ')) + 7) DIV 8 AS INT) - 1),
            |          i -> array_join(slice(split(text, ' '), i * 8 + 1, 8), ' '))"""
            .stripMargin)).as("chunk"))
        .select($"chunk").distinct().count()
      assert(nFirst == nDistinct,
        s"kept $nFirst first-occurrences vs $nDistinct distinct chunks")
    } finally df.unpersist()
  }

  test("regr slope is exact on synthetic perfectly-linear data") {
    // y = 3x + 7 in cents over x = 0, 60, 120 s after 2024-01-01:
    // slope must be exactly 3, r6-rounded. Drives the REAL operator
    // over a temp events fixture (ts as long nanos, like the driver's
    // parquet) so a formula edit in qAggRegrSlope fails here.
    val dir = tempDir("regr").toString
    val base = 1704067200L * 1000000000L
    Seq(0L, 60L, 120L)
      .map(x => (1L, base + x * 1000000000L, "a",
        (3 * x + 7).toDouble / 100.0)) // value in dollars; cents = 3x+7
      .toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val row = ops.Aggregates.qAggRegrSlope(spark, dir).head()
    assert(row.getAs[Long]("n_events") == 3L)
    val got = row.getAs[Double]("slope")
    assert(got == 3.0, s"expected exact slope 3.0, got $got")
  }

  test("decay weight is exactly 1 for the newest event") {
    // a user whose only event sits AT the corpus max ts contributes
    // value_c * 2^0 = value_c, so decayed_value == value_c / 100^-scaled
    val df = ops.Aggregates.qAggDecay(spark, sf)
    val ev = ops.core.events(spark, sf)
    val mx = ev.agg(max($"ts")).head().getTimestamp(0)
    val newest = ev.filter($"ts" === mx).select($"user_id",
      ops.core.cents($"value").as("vc")).head()
    val row = df.filter($"user_id" === newest.getLong(0)).head()
    // that user's decayed_value must be >= its newest event's full value
    assert(row.getDouble(2) >= newest.getLong(1) * 1.0 - 1e-6)
  }

  test("salted join result equals the plain join result") {
    val salted = ops.Relational.qJoinSalted(spark, sf)
    val o = ops.core.t(spark, sf, "orders")
      .select($"o_custkey", ops.core.cents($"o_totalprice").as("price_c"))
    val c = ops.core.t(spark, sf, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum($"price_c").as("sum_price_c"))
      .orderBy($"c_mktsegment")
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("dir-tagged temp views: concurrent runs on different sfDirs are independent") {
    // VERDICT r2 §5 / item 6: temp views are session-global state, so
    // two concurrent invocations with different fixture dirs must not
    // clobber each other — the dir-derived view-name tag guarantees it
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sfA = "/root/testdata/sf0.001"
    val sfB = "/root/testdata/sf0.01"
    val serialA = ops.Relational.qFilterSubquery(spark, sfA).count()
    val serialB = ops.Relational.qFilterSubquery(spark, sfB).count()
    val runs = Future.sequence((1 to 4).map { i =>
      Future {
        val d = if (i % 2 == 0) sfA else sfB
        d -> ops.Relational.qFilterSubquery(spark, d).count()
      }
    })
    val got = Await.result(runs, 120.seconds)
    for ((d, n) <- got)
      assert(n == (if (d == sfA) serialA else serialB),
        s"concurrent run on $d returned $n")
  }

  test("contamination rates are in (0,1] and only hit docs appear") {
    // run at sf0.01 — sf0.001 may legitimately have zero cross-source
    // shingle overlap; the invariants must hold wherever rows exist
    val df = ops.Corpus.qTextContamination(spark, "/root/testdata/sf0.01")
      .cache()
    try {
      assert(df.count() > 0, "expected ≥1 contaminated doc at sf0.01")
      assert(df.filter($"n_contaminated" < 1 ||
        $"n_contaminated" > $"n_grams").count() == 0)
      assert(df.filter($"contamination" <= 0 || $"contamination" > 1)
        .count() == 0)
    } finally df.unpersist()
  }

  test("stratified sample: kept ⊆ total and rates match the config table") {
    val df = ops.Corpus.qSampleStratified(spark, sf).cache()
    try {
      assert(df.filter($"n_kept" > $"n_total").count() == 0)
      val rates = df.select($"lang", $"rate").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(rates == Map("de" -> 20, "en" -> 5, "es" -> 20,
        "fr" -> 20, "zh" -> 50))
    } finally df.unpersist()
  }

  test("perplexity nll is bounded below by the most-common-token nll") {
    // avg_nll is a convex combination of -ln(p_tok) terms, so no doc
    // can score below -ln(max_tok_share) (up to the 12-dp pre-round)
    val docs = ops.core.t(spark, sf, "documents")
    val toks = docs.select(explode(split($"text", " ")).as("tok"))
    val total = toks.count().toDouble
    val maxShare = toks.groupBy($"tok").count()
      .agg(max($"count")).head().getLong(0) / total
    val bound = -math.log(maxShare) - 1e-6
    val df = ops.Corpus.qTextPerplexity(spark, sf)
    assert(df.filter($"avg_nll" < bound).count() == 0,
      s"avg_nll below the -ln(p_max) = $bound floor")
  }

  test("bpe: separator never occurs in corpus tokens; merges are valid") {
    import spark.implicits._
    // the '|' symbol-separator assumption qTextBpe's scaladoc declares
    val withSep = ops.core.t(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w".contains("|")).count()
    assert(withSep == 0, "corpus token contains the '|' separator")

    val m = ops.Corpus.qTextBpe(spark, sf).collect()
    assert(m.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // each learned merge joins exactly two symbols and was seen
    m.foreach { r =>
      assert(r.getString(1).split("\\+").length == 2, r.getString(1))
      assert(r.getLong(2) > 0)
    }
    // a merged symbol may itself be merged later, but the same pair
    // cannot be learned twice (its occurrences were consumed)
    assert(m.map(_.getString(1)).distinct.length == 3)
  }

  test("bpe merges are boundary-exact (no fusion across symbols)") {
    import spark.implicits._
    // crafted corpus: ath x7, at x8, th x20.
    //   merge 1 = (t, h)  n = 7 + 20 = 27   -> ath becomes [a, th]
    //   merge 2 = (a, t)  n = 8 (beats (a, th) at 7)
    //   merge 3 = (a, th) n = 7 — EXISTS ONLY IF 'a|th' survived
    // merge 2 unfused: a naive single-delimiter encoding would match
    // 'a|t' inside 'a|th' when applying merge 2, fusing the unlearned
    // symbol 'ath' and leaving NO pair for merge 3.
    val words = Seq.fill(7)("ath") ++ Seq.fill(8)("at") ++
      Seq.fill(20)("th")
    val m = ops.Corpus.bpeMergesFrom(words.toDF("word"))
      .map(_.collect()(0)).map(r => (r.getString(0), r.getLong(1)))
    assert(m(0) == (("|t||h|", 27L)), s"merge1 was ${m(0)}")
    assert(m(1) == (("|a||t|", 8L)), s"merge2 was ${m(1)}")
    assert(m(2) == (("|a||th|", 7L)), s"merge3 was ${m(2)}")
  }

  test("bpe apply: word count <= subwords <= char count per doc") {
    import spark.implicits._
    val joined = ops.Corpus.qTextBpeApply(spark, sf)
      .join(ops.core.t(spark, sf, "documents")
        .select($"doc_id", $"text"), "doc_id")
      .select($"n_ws", $"n_subwords",
        (length($"text") - length(regexp_replace($"text", " ", "")) + 1)
          .as("n_ws_check"),
        length(regexp_replace($"text", " ", "")).cast("long").as("n_chars"))
    assert(joined.filter($"n_ws" =!= $"n_ws_check").count() == 0)
    // each word is >= 1 subword; merging can only shrink toward words
    assert(joined.filter($"n_subwords" < $"n_ws" ||
      $"n_subwords" > $"n_chars").count() == 0)
  }

  test("drift kl is non-negative (Gibbs) and zero only if dist matches") {
    import spark.implicits._
    val kl = ops.Corpus.qDriftKl(spark, sf).collect()
    // Gibbs' inequality modulo the 12-dp term rounding: allow that
    // rounding's worst-case slack (vocabulary * 5e-13 / n_tokens)
    kl.foreach { r =>
      assert(r.getDouble(2) >= -1e-9, s"${r.getString(0)}: KL ${r.getDouble(2)}")
    }
    assert(kl.length == 5)
  }

  test("profile: n_null + n_distinct constraints hold per column") {
    import spark.implicits._
    val p = ops.Aggregates.qProfileTable(spark, sf).collect()
    assert(p.length == 6)
    p.foreach { r =>
      val (n, nn, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nn >= 0 && nn <= n)
      assert(nd >= (if (nn == n) 0 else 1) && nd <= n - nn,
        s"${r.getString(0)}: distinct $nd vs non-null ${n - nn}")
    }
    // event_id is the unique key: fully distinct, never null
    val eid = p.find(_.getString(0) == "event_id").get
    assert(eid.getLong(2) == 0 && eid.getLong(3) == eid.getLong(1))
  }

  test("sql-text top-3: at most 3 rows per segment, ranks 1..3") {
    val df = ops.Relational.qSqlText(spark, sf).cache()
    try {
      assert(df.groupBy($"segment").count().filter($"count" > 3).count() == 0)
      assert(df.filter($"rk" < 1 || $"rk" > 3).count() == 0)
    } finally df.unpersist()
  }

  test("incremental dedup: bloom candidates contain every true dup and prune the batch") {
    val docs = ops.core.t(spark, sf, "documents")
      .select($"doc_id",
        array_join(slice(split($"text", " "), 1, 8), " ").as("pfx"))
    val hist = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val bloom = hist.agg(ops.Corpus.bloomAggOf($"pfx", 50000L, 400000L).as("bf"))
    val candIds = batch.filter(ops.Corpus.bloomProbeOf(bloom, $"pfx"))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val trueDups = batch.join(hist.select($"pfx"), Seq("pfx"), "left_semi")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // no false negatives, ever (bloom guarantee)
    assert(trueDups.subsetOf(candIds),
      s"bloom missed dups: ${(trueDups -- candIds).take(5)}")
    // the prefilter must actually prune: candidates << batch
    val nBatch = batch.count()
    assert(candIds.size < nBatch / 2,
      s"bloom pruned nothing: ${candIds.size} of $nBatch")
    // the registered key's totals agree with a direct recomputation
    val out = ops.Corpus.qDedupIncremental(spark, sf)
      .agg(sum($"n_new"), sum($"n_dup")).collect()(0)
    assert(out.getLong(0) == nBatch && out.getLong(1) == trueDups.size)
  }
}
