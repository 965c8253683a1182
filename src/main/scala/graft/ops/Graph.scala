package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import core._

/** Graph analytics over relationship graphs derived from the fixture
  * tables (round 4 addition to SURVEY §2.11). Complements
  * [[TrainingOps.qDedupComponents]] (connectivity) with a centrality
  * measure — the two iterative-graph shapes a data-engine user
  * actually runs (capability sentence: `/root/reference/README.md:2`).
  */
object Graph {

  /** PageRank over the undirected customer↔supplier interaction graph
    * (an edge per distinct (customer, supplier) pair that transacted,
    * via orders ⋈ lineitem) — "which suppliers/customers sit at the
    * center of the trade network". 5 fixed damped iterations
    * (d = 0.85).
    *
    * Determinism (§5.3): ranks live in exact BIGINT micro-units
    * (initial mass 1e12 per node); each step is integer-only —
    * `contrib = r DIV deg`, `r' = 0.15·1e12 + (85·Σcontrib) DIV 100`.
    * Truncating integer division matches DuckDB `//` on positive
    * operands, so every rank is bit-identical across engines and the
    * top-k rank order needs no rounded-score rule. Headroom: total
    * mass n·1e12 must stay ≪ 2^63/85 ≈ 1.1e17, i.e. fine to ~100k
    * nodes; at larger graphs shrink the unit (1e9 keeps 100M nodes
    * exact) — the arithmetic is unit-agnostic.
    *
    * Scale shape: the edge list is built once and cached — it is the
    * only corpus-sized state; degrees are a combinable node-sized
    * aggregate over it. Each iteration BROADCASTS the node-sized
    * rank-with-degree frame into the edge join (no edge shuffle per
    * round) and pays ONE exchange: the combinable dst-keyed
    * contribution sum. At graphs where the rank table itself stops
    * broadcasting (≳10⁸ nodes), flip the join back to shuffle form —
    * both sides then partition by the stable key and AQE reuses the
    * exchange; the iteration count and arithmetic are unchanged. For
    * unbounded iteration counts use the localCheckpoint-per-round
    * pattern of [[TrainingOps.qDedupComponents]].
    *
    * Node ids: customers → 2·custkey, suppliers → 2·suppkey+1 (both
    * engines derive node_type/node_key back out by parity).
    */
  /** The iteration core, reusable on any directed edge list with
    * columns (src, dst) — ScaleProbe drives it on synthetic
    * million-node graphs. Returns (node, deg, rank_micro). Caches the
    * degree-annotated edge list (the only corpus-sized state); the
    * caller's final materialization owns the cache lifecycle
    * (Verify/Bench clearCache between keys, §SCALING).
    */
  def pagerank(edges: DataFrame, iters: Int = 5,
      loopParts: Int = 0): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // The whole build — edge pipeline, degree window, 5 unrolled
    // iterations (10+ sequential shuffle stages) — runs AQE-off and
    // materializes inside the scope: AQE's per-stage materialize-and-
    // re-plan is pure driver overhead on a chain of small stable
    // stages (measured 15 s → ~4 s at local[32], sf0.1). The caches
    // must be CREATED inside the scope too: `cache()` plans its
    // physical plan eagerly at call time, so a cache created outside
    // would carry (and forever re-execute under) an adaptive plan.
    // Degree via a src-partitioned window, NOT a groupBy + self-join:
    // the edge pipeline (the only corpus-sized input) is derived
    // exactly once, then cached; `nodes` is node-sized and derived
    // FROM the cache rather than re-running the upstream scan.
    // loopParts > 0 (r15, guide §2): every shuffle in the unrolled
    // chain is node-sized, so the reduce width comes from the DATA
    // (core.loopPartitions at the call site), not the session's
    // cpu-count default — at sf0.1 that is 32 tasks per stage over a
    // ≤16 k-row frame, ~15 stages of almost pure scheduling constant
    // (the PERF_r14 anti-scaling family).
    val confs = ("spark.sql.adaptive.enabled" -> "false") +:
      (if (loopParts > 0)
        Seq("spark.sql.shuffle.partitions" -> loopParts.toString)
      else Nil)
    val (nodes, finalRanks) =
      core.withConf(s, confs: _*) {
        // degree via a COMBINABLE groupBy over the cached edge list —
        // node-sized output, map-side partials — instead of a
        // src-partitioned window, which sort-shuffles the full
        // edge-grain frame just to annotate it. Each iteration joins
        // edges ⋈ (ranks ⋈ deg): the rank-with-degree side is
        // node-sized (broadcastable), so the only per-iteration
        // exchange is the dst-keyed contribution sum.
        val e = edges.transform(core.cached)
        val nds = e.groupBy($"src").agg(count(lit(1)).as("deg"))
          .transform(core.cached)
        var ranks = nds.select($"src".as("node"), lit(1000000000000L).as("r"))
        for (_ <- 1 to iters) {
          val rd = ranks.join(nds, $"node" === nds("src"))
            .select($"node", expr("r DIV deg").as("contrib"))
          ranks = e.join(broadcast(rd), e("src") === rd("node"))
            .groupBy($"dst").agg(sum($"contrib").as("m"))
            .select($"dst".as("node"),
              (lit(150000000000L) + expr("(85 * m) DIV 100")).as("r"))
        }
        val f = core.cached(ranks)
        f.count()
        (nds, f)
      }
    finalRanks.join(nodes, $"node" === nodes("src"))
      .select($"node", $"deg", $"r".as("rank_micro"))
  }

  /** The distinct (customer, supplier) transaction pair list — the
    * base relation of this whole family — persisted ONCE per (dir,
    * JVM) via [[core.persistedIndex]] (VERDICT r6 task 1: five keys —
    * pagerank, degree, khop, cooccur, sql_recursive — each rebuilt
    * the orders ⋈ lineitem → distinct derivation from scratch, ≈17 s
    * of a 99 s bench; at 100 TB an edge list derived from two fact
    * tables IS a materialized view you build once and refresh on
    * ingest). Content: raw keys (c, s) — every consumer derives its
    * own encoding (parity node ids, undirected doubling) from the
    * ~node-sized pair file instead of the fact tables.
    * GraphEdgeIndexSpec pins build-once and read ≡ rebuild.
    */
  def custSuppPairsDir(s: SparkSession, dir: String): String =
    core.persistedIndex("cspairs", dir) { path =>
      import s.implicits._
      t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("s"))
        .distinct()
        .write.mode("overwrite").parquet(path)
    }

  /** The distinct (c, s) pair list, served from the persisted index. */
  def custSuppPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(custSuppPairsDir(s, dir))

  /** The undirected customer↔supplier transaction graph, shared by
    * every key in this family: an edge per distinct (customer,
    * supplier) pair that transacted (orders ⋈ lineitem), both
    * directions materialized. Node ids: customers → 2·custkey,
    * suppliers → 2·suppkey+1 (parity recovers node_type/node_key).
    */
  private def custSuppEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = custSuppPairs(s, dir)
      .select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
    pairs.union(pairs.select($"dst".as("src"), $"src".as("dst")))
  }

  /** Loop-shuffle width for this family, from the persisted pair
    * list's row count — the doubled edge list is 2× that. The pair
    * list is derived (a join of fixture tables), so its count is a
    * job, memoized per JVM.
    */
  private def graphLoopParts(s: SparkSession, dir: String): Int =
    core.loopPartitions(2L * core.statCount(dir + "#cspairs",
      custSuppPairs(s, dir)))

  def qGraphPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pagerank(custSuppEdges(s, dir), loopParts = graphLoopParts(s, dir))
      .select(
        when($"node" % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        expr("node DIV 2").as("node_key"),
        $"deg", $"rank_micro")
      .orderBy($"rank_micro".desc, $"node_type", $"node_key")
      .limit(20)
  }

  /** Degree distribution of the transaction graph: how many nodes of
    * each type have each counterparty count — the first diagnostic a
    * graph practitioner reads (hub detection, power-law check) and
    * the skew signal that decides whether downstream joins on this
    * graph need salting (a hot hub = a hot join key).
    *
    * Determinism: pure integer counts, no ties to break (the
    * histogram IS the group key). Scale shape: two combinable
    * group-bys — degree per node (map-side combine on src), then the
    * histogram roll-up on the node-sized frame; no windows, no
    * self-joins.
    */
  def qGraphDegree(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    custSuppEdges(s, dir)
      .groupBy($"src").agg(count(lit(1)).as("deg"))
      .select(
        when($"src" % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        $"deg")
      .groupBy($"node_type", $"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"node_type", $"deg")
  }

  /** Strongest co-suppliers: for every supplier, the top-3 partners
    * by shared distinct customers — the co-occurrence primitive
    * behind "frequently bought together" / entity-affinity features.
    * Integer counts with (common desc, partner asc) ranking: a total
    * deterministic order, no rounded-score rule needed.
    *
    * Scale shape: pair generation is the classic self-join-on-
    * container hot-key risk — one hub customer linked to s suppliers
    * emits s² pairs. The hub filter EXCLUDES customers with more than
    * 32 distinct suppliers entirely (not a truncation to their first
    * 32 — mirrored EXACTLY by the oracle's HAVING count(*) <= 32, the
    * q_dedup_ngram df-cap pattern), so surviving customers each emit
    * at most C(32,2) pairs; pairs are generated
    * CONTAINER-SIDE (r7): ONE exchange groups each customer's
    * suppliers into an array (hash agg, no sort), the cap is a cheap
    * size() filter, and the ≤ C(32,2) = 496 combinations per customer
    * explode map-side — where the pre-r7 form paid an edge-grain sort
    * window for the cap plus a full self-join (two more edge-grain
    * exchanges + SMJ sorts) for the same pairs (second-decade probe:
    * 97.9 s at 100×, exponent 1.15; the window/self-join overhead was
    * the excess over linear). The (s1, s2) count stays a combinable
    * group-by, and rk ≤ 3 over the sup window compiles to
    * WindowGroupLimit (each task pre-prunes to its local top-3).
    */
  def qGraphCooccur(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val eg = custSuppPairs(s, dir)
    // the capped pair space materializes AQE-off: three small stable
    // stages (container agg, pair count, then the consumer's top-3)
    // where adaptive re-planning is pure overhead (the pagerank
    // rationale); the cap — not AQE skew-splitting — is this op's hub
    // defense. collect_list order is partition-dependent, but only
    // the SET matters: combinations are taken positionally and
    // canonicalized with least/greatest, so the emitted pairs — and
    // their counts — are order-invariant.
    val common = core.noAqeMaterialized(s, graphLoopParts(s, dir)) {
      eg.groupBy($"c").agg(collect_list($"s").as("ss"))
        .filter(size($"ss") <= 32)
        .select(explode(expr(
          "flatten(transform(ss, (x, i) -> " +
            "transform(slice(ss, i + 2, size(ss)), " +
            "y -> struct(least(x, y) AS s1, greatest(x, y) AS s2))))"))
          .as("p"))
        .groupBy($"p.s1".as("s1"), $"p.s2".as("s2"))
        .agg(count(lit(1)).as("common"))
    }
    val sym = common.select($"s1".as("sup"), $"s2".as("partner"), $"common")
      .union(common.select($"s2".as("sup"), $"s1".as("partner"), $"common"))
    val w = Window.partitionBy($"sup").orderBy($"common".desc, $"partner".asc)
    sym.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"sup", $"rk", $"partner", $"common")
      .orderBy($"sup", $"rk")
  }

  /** k-hop reachability (bounded BFS): hop distance of every node
    * within ≤ 3 hops of the seed set (suppliers 0–2) over the
    * transaction graph — the neighborhood-expansion primitive behind
    * "blast radius" / related-entity queries. Pure integer min-dist
    * propagation, deterministic by construction.
    *
    * Scale shape: each of the 3 unrolled rounds is ONE equi-join of
    * the frontier against the cached edge list + ONE combinable
    * min-aggregate — the Pregel step again (pagerank's shape, with
    * min instead of sum); a node reached twice collapses map-side.
    * Unbounded-depth BFS would switch to the localCheckpoint loop of
    * q_dedup_components; the bounded form unrolls into one plan.
    */
  def qGraphKhop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // plans are TREES (CLAUDE.md): each round reads the previous
    // frontier TWICE (union + join), so without a materialization
    // point the unrolled chain re-executes round r−1 twice, r−2 four
    // times, … — 2³× the base work, and AQE re-derives join
    // strategies from re-measured stats each time (observed as a
    // 12→51 s swing at local[32]). Each round caches its node-sized
    // frontier (≤ |V| rows) — the per-round materialization
    // q_dedup_components' localCheckpoint loop uses, minus the
    // lineage cut a bounded 3-round unroll doesn't need — and the
    // whole build INCLUDING the edge-pipeline cache materializes
    // AQE-off inside the scope (the pagerank rationale: caches plan
    // eagerly at cache() time, so they must be created in-scope).
    val d = core.noAqeMaterialized(s, graphLoopParts(s, dir)) {
      val edges = custSuppEdges(s, dir).transform(core.cached)
      val seeds = edges.select($"src".as("node")).distinct()
        .filter($"node" % 2 === 1 && expr("node DIV 2") < 3)
      var fr = seeds.select($"node", lit(0).cast("int").as("dist"))
      for (_ <- 1 to 3) {
        fr = fr.union(
            edges.join(fr, $"src" === $"node")
              .select($"dst".as("node"), ($"dist" + 1).as("dist")))
          .groupBy($"node").agg(min($"dist").as("dist"))
          .transform(core.cached)
      }
      fr
    }
    d.select(
        when($"node" % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        expr("node DIV 2").as("node_key"), $"dist")
      .orderBy($"dist", $"node_type", $"node_key")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_pagerank" -> (qGraphPagerank _),
    "q_graph_degree" -> (qGraphDegree _),
    "q_graph_cooccur" -> (qGraphCooccur _),
    "q_graph_khop" -> (qGraphKhop _))

  /** One BFS relaxation round as an oracle CTE. */
  private def khopStep(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
       |    SELECT node, dist FROM $prev
       |    UNION ALL
       |    SELECT e.dst AS node, p.dist + 1 AS dist
       |    FROM edges e JOIN $prev p ON e.src = p.node)
       |  GROUP BY node)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_graph_khop" ->
      s"""WITH eg AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT src, dst FROM eg
         |          UNION ALL SELECT dst, src FROM eg),
         |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS INTEGER) AS dist
         |       FROM edges WHERE src % 2 = 1 AND src // 2 < 3),
         |${khopStep("d0", "d1")},
         |${khopStep("d1", "d2")},
         |${khopStep("d2", "d3")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |         AS node_type,
         |       node // 2 AS node_key, dist
         |FROM d3 ORDER BY dist, node_type, node_key""".stripMargin,

    "q_graph_cooccur" ->
      """WITH eg AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |cap AS (SELECT c FROM eg GROUP BY c HAVING count(*) <= 32),
        |e2 AS (SELECT eg.c, eg.s FROM eg JOIN cap USING (c)),
        |pr AS (
        |  SELECT a.s AS s1, b.s AS s2, count(*) AS common
        |  FROM e2 a JOIN e2 b ON a.c = b.c AND a.s < b.s
        |  GROUP BY 1, 2),
        |sym AS (SELECT s1 AS sup, s2 AS partner, common FROM pr
        |        UNION ALL SELECT s2, s1, common FROM pr)
        |SELECT sup, CAST(rk AS INTEGER) AS rk, partner, common FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY sup ORDER BY common DESC, partner) AS rk
        |  FROM sym)
        |WHERE rk <= 3 ORDER BY sup, rk""".stripMargin,

    "q_graph_degree" ->
      """WITH eg AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM eg
        |          UNION ALL SELECT dst, src FROM eg),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)
        |SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |         AS node_type,
        |       deg, count(*) AS n_nodes
        |FROM deg GROUP BY 1, 2
        |ORDER BY node_type, deg""".stripMargin,

    "q_graph_pagerank" ->
      """WITH eg AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM eg
        |          UNION ALL SELECT dst, src FROM eg),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000000000 AS BIGINT) AS r
        |       FROM deg),
        |r1 AS (SELECT e.dst AS node, CAST(150000000000
        |         + (85 * CAST(sum(p.r // d.deg) AS BIGINT)) // 100 AS BIGINT)
        |         AS r
        |       FROM edges e JOIN deg d ON e.src = d.src
        |         JOIN r0 p ON p.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node, CAST(150000000000
        |         + (85 * CAST(sum(p.r // d.deg) AS BIGINT)) // 100 AS BIGINT)
        |         AS r
        |       FROM edges e JOIN deg d ON e.src = d.src
        |         JOIN r1 p ON p.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node, CAST(150000000000
        |         + (85 * CAST(sum(p.r // d.deg) AS BIGINT)) // 100 AS BIGINT)
        |         AS r
        |       FROM edges e JOIN deg d ON e.src = d.src
        |         JOIN r2 p ON p.node = e.src GROUP BY e.dst),
        |r4 AS (SELECT e.dst AS node, CAST(150000000000
        |         + (85 * CAST(sum(p.r // d.deg) AS BIGINT)) // 100 AS BIGINT)
        |         AS r
        |       FROM edges e JOIN deg d ON e.src = d.src
        |         JOIN r3 p ON p.node = e.src GROUP BY e.dst),
        |r5 AS (SELECT e.dst AS node, CAST(150000000000
        |         + (85 * CAST(sum(p.r // d.deg) AS BIGINT)) // 100 AS BIGINT)
        |         AS r
        |       FROM edges e JOIN deg d ON e.src = d.src
        |         JOIN r4 p ON p.node = e.src GROUP BY e.dst)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |         AS node_type,
        |       node // 2 AS node_key, d.deg, r AS rank_micro
        |FROM r5 JOIN deg d ON d.src = r5.node
        |ORDER BY rank_micro DESC, node_type, node_key LIMIT 20""".stripMargin)
}
