package graft

import org.apache.spark.sql.functions._

/** Scale probe for the round-2 operators (dev/judge aid): drives
  * `sessionize` and `connectedComponents` at sizes far above the
  * fixtures using the file-less synthetic source / generated graphs.
  * Run:
  *
  *   sbt "Test/runMain graft.ScaleProbe"
  *
  * Prints one line per probe; update SCALING.md from the output.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // 5M synthetic events -> gap sessionization
    val ev = spark.read.format("graft.sources.SyntheticEventsProvider")
      .option("rows", "5000000").option("partitions", "16").load()
      .select($"user_id", $"event_id", $"ts")
    timed("sessionize 5M events") {
      val n = ops.Windows.sessionize(ev).count()
      print(s"  ($n sessions) ")
    }

    // round-4 event analytics at the same 5M synthetic events: the
    // transition matrix (user-keyed lead window + combinable agg)
    // and the decayed-engagement aggregation (1-row broadcast max +
    // user-keyed agg) — both must scale linearly with rows
    val evFull = spark.read.format("graft.sources.SyntheticEventsProvider")
      .option("rows", "5000000").option("partitions", "16").load()
    timed("transitions 5M events") {
      val n = ops.Streaming.transitions(evFull).count()
      print(s"  ($n transition cells) ")
    }
    timed("decayed engagement 5M events") {
      val n = ops.Aggregates.decayed(evFull.select($"user_id", $"ts",
        ops.core.cents($"value").as("value_c"))).count()
      print(s"  ($n users) ")
    }

    // pathological hot key: 4M of 5M fact rows share ONE key. The
    // plain shuffle join puts all 4M in a single task; the salted
    // join spreads them across 8. (At local[8] with a broadcast-sized
    // dim Catalyst would BHJ both — force shuffle join to model the
    // large-dim cluster case where salting is the only lever.)
    val hotFacts = spark.range(0, 5000000L)
      .select($"id".as("row_id"),
        when($"id" % 5 =!= 0, lit(7L)).otherwise($"id" % 1000L).as("k"))
    val dim = spark.range(0, 1000L).select($"id".as("k2"), ($"id" * 3).as("attr"))
    val noBcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    noBcast.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      timed("plain shuffle join, 4M-row hot key") {
        hotFacts.join(dim, $"k" === $"k2").agg(sum($"attr")).collect()
      }
      timed("salted join (k=8), same data") {
        ops.Skew.saltedJoin(hotFacts, dim, "k", "k2", $"row_id", 8)
          .agg(sum($"attr")).collect()
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // near-dup-shaped graph: 100k clusters x 10 members, edges chain
    // each cluster (diameter 9 -> converges well under the cap)
    val edges = spark.range(0, 1000000L)
      .filter($"id" % 10 =!= 9)
      .select($"id".as("a_id"), ($"id" + 1).as("b_id"))
    timed("connectedComponents 900k edges / 1M nodes") {
      val comps = ops.TrainingOps.connectedComponents(edges)
      val n = comps.select($"comp").distinct().count()
      print(s"  ($n components) ")
    }

    // BPE trainer over 5M synthetic token occurrences (Zipf-ish:
    // token w<i mod 1000> with hash-spread tails): the corpus-sized
    // stage is ONE combinable word-count; the merge loop then runs on
    // the 1000-word vocabulary regardless of corpus size
    val bpeWords = spark.range(0, 5000000L)
      .select(concat(lit("w"), pmod($"id" * 2654435761L, lit(1000L)))
        .as("word"))
    timed("bpe 3 merges, 5M tokens / 1k vocab") {
      val m = ops.Corpus.bpeMergesFrom(bpeWords)
      val learned = m.map(_.collect()(0).getString(0))
      print(s"  (merges: ${learned.mkString(" ")}) ")
    }

    // Misra-Gries heavy hitters over 5M rows, ~2.5M distinct keys
    // where ten keys own half the stream: state stays at 64
    // (item, count) pairs per task vs an exact group-by's
    // ~2.5M-key shuffle
    val mgRows = spark.range(0, 5000000L).select(
      when($"id" % 2 === 0, concat(lit("hot"), expr("(id DIV 2) % 10")))
        .otherwise(concat(lit("c"), $"id")).as("item")).as[String]
    timed("misra-gries k=64, 5M rows / ~2.5M distinct") {
      val summary = mgRows.select(new graft.functions.MisraGries(64).toColumn).head()
      val hot = summary.count(_._1.startsWith("hot"))
      print(s"  (${summary.size} kept, all 10 hot present: ${hot == 10}) ")
    }

    // k-means at 1M synthetic 16-dim vectors (hash-derived, no
    // rand()): per iteration = broadcast scoring + one combinable
    // vec-keyed exchange + a 128-group recompute — linear in rows
    val vecs = spark.range(0, 1000000L).select($"id".as("vec_id"),
      expr("transform(sequence(1, 16), d -> " +
        "CAST(pmod(id * 2654435761 + d * 40503, 1000) AS DOUBLE) / 1000.0)")
        .as("emb"))
    timed("kmeans k=8 x 3 iters, 1M x 16-dim vectors") {
      val (cents, assigned) = ops.Clustering.kmeans(vecs, 8, 3)
      val n = assigned.count()
      print(s"  (${cents.count()} centroids over $n vecs) ")
      assigned.unpersist()
    }

    // PageRank at 1M nodes / 5M directed edges with hash-derived
    // targets plus ten deliberate hot hubs (every 10th edge's target
    // cycles nodes 0-9, so hub in-degree ~50k vs the ~5 background).
    // Checks the Pregel-step shape holds when degree is badly skewed:
    // the contribution sum is a combinable agg, so hub heat collapses
    // map-side instead of landing on one reducer.
    val prEdges = spark.range(0, 5000000L).select(
      ($"id" % 1000000L).as("src"),
      when($"id" % 10 === 0, expr("(id DIV 10) % 10"))
        .otherwise(pmod($"id" * 2654435761L, lit(1000000L))).as("dst"))
    timed("pagerank 5 iters, 1M nodes / 5M edges (hot hubs)") {
      val n = ops.Graph.pagerank(prEdges).count()
      print(s"  ($n ranked nodes) ")
    }
    // pagerank caches its edge+degree frame internally with no handle
    // returned — clear it so the probes that follow aren't measured
    // under a resident 5M-edge cache
    spark.catalog.clearCache()

    // similarity cost split at sf0.1: pair-join + dot alone vs the
    // full top-k (adds the rank window) — tells whether the O(n²)
    // loop or the ranking dominates
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val e = ops.LlmOps.normed(spark, sf)
    val a = e.select($"vec_id".as("a_id"), $"emb".as("a_emb"),
      $"nrm".as("a_nrm"))
    val b = e.select($"vec_id".as("b_id"), $"emb".as("b_emb"),
      $"nrm".as("b_nrm"))
    timed("cosine pairs+dot only (no window)") {
      a.join(broadcast(b), $"a_id" =!= $"b_id")
        .select((graft.functions.DotProduct.dot($"a_emb", $"b_emb")
          / ($"a_nrm" * $"b_nrm")).as("rawcos"))
        .agg(sum($"rawcos")).collect()
    }
    timed("cosine full top-k (with window)") {
      ops.LlmOps.qSimCosineTopk(spark, sf).count()
    }
    // round-4c: sequence packing at 5M docs across 64 shards — the
    // shard count is the parallelism knob; the probe confirms the
    // per-shard window prefix-sum scales linearly and shards pack
    // independently (bins == ceil(shard tokens / cap) for every shard)
    val docs5m = spark.range(0, 5000000).select($"id".as("doc_id"),
      (($"id" * 37 % 97) + 4).as("n_tok"),
      pmod(hash($"id"), lit(64)).cast("long").as("shard"))
    timed("pack 5M docs / 64 shards") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"doc_id")
      val out = docs5m.withColumn("cum", sum($"n_tok").over(w))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          expr("(max(cum) + 2047) DIV 2048").as("n_bins"))
        .filter(expr("n_bins != (n_tokens + 2047) DIV 2048"))
        .count()
      print(s"  ($out shards violate bins=ceil(tokens/cap); must be 0) ")
    }

    // round-4c: Z-order layout effectiveness at 5M rows — per-"file"
    // (4096-row bucket) min/max span on BOTH dims under a Z-order
    // sort vs a lexicographic (x, y) sort. The lexicographic layout
    // prunes only x; z-order must give bounded spans on x AND y.
    import graft.functions.ZOrder.zorder
    val pts = spark.range(0, 5000000).select(
      pmod(hash($"id" * 7 + 1), lit(65536)).cast("long").as("x"),
      pmod(hash($"id" * 13 + 3), lit(65536)).cast("long").as("y"))
    def spans(withFid: org.apache.spark.sql.DataFrame, label: String): Unit =
      timed(s"layout spans: $label") {
        val r = withFid.groupBy($"fid")
          .agg((max($"x") - min($"x")).as("sx"),
            (max($"y") - min($"y")).as("sy"))
          .agg(avg($"sx"), avg($"sy")).head()
        print(f"  (avg file span x=${r.getDouble(0)}%.0f y=${r.getDouble(1)}%.0f of 65535) ")
      }
    // files = equal-width ranges of the sort key (how a range-
    // partitioned write splits), 4096 of them in both layouts
    spans(pts.withColumn("fid", (zorder($"x", $"y") / 1048576L).cast("long")),
      "z-order")
    spans(pts.withColumn("fid", (($"x" * 65536L + $"y") / 1048576L).cast("long")),
      "lexicographic")

    spark.stop()
  }
}
