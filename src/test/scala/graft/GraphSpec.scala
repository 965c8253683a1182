package graft

import org.apache.spark.sql.functions._

/** PageRank invariants the t2 oracle can't phrase: the exact
  * fixed-point behavior on a symmetric graph, and the mass bounds the
  * integer-unit arithmetic guarantees.
  */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("q_graph_pagerank runs, returns exactly 20 rows, ranks descend") {
    val rows = ops.Graph.qGraphPagerank(spark, sf).collect()
    assert(rows.length == 20)
    val ranks = rows.map(_.getAs[Long]("rank_micro")).toSeq
    assert(ranks == ranks.sortBy(-_), "rows not in descending rank order")
    // every node receives at least the undamped base mass
    assert(ranks.forall(_ >= 150000000000L))
  }

  test("pagerank is the exact fixed point 1e12 on a perfect matching") {
    // two disjoint customer–supplier pairs: every node has degree 1,
    // so each iteration maps r → 0.15e12 + 0.85·r, whose fixed point
    // 1e12 is hit EXACTLY in integer units (85·1e12 DIV 100 is exact).
    // Any drift here means the integer update rule changed.
    val dir = tempDir("pr").toString
    Seq((100L, 1L), (200L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((100L, 7L), (200L, 8L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = ops.Graph.qGraphPagerank(spark, dir).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Long]("rank_micro") == 1000000000000L),
      rows.map(_.getAs[Long]("rank_micro")).mkString(", "))
    assert(rows.forall(_.getAs[Long]("deg") == 1L))
  }

  test("q_graph_degree: histogram mass balances across the bipartite sides") {
    // every distinct (customer, supplier) pair contributes one degree
    // unit to each side, so Σ deg·n_nodes must match exactly
    val rows = ops.Graph.qGraphDegree(spark, sf).collect()
    assert(rows.nonEmpty)
    val mass = rows.groupBy(_.getAs[String]("node_type")).view
      .mapValues(_.map(r => r.getAs[Long]("deg") * r.getAs[Long]("n_nodes")).sum)
      .toMap
    assert(mass("customer") == mass("supplier"),
      s"customer degree mass ${mass("customer")} != supplier ${mass("supplier")}")
  }

  test("q_graph_cooccur counts shared customers exactly on a crafted graph") {
    // supplier 10 serves c1,c2,c3; 20 serves c1,c2; 30 serves c3:
    // common(10,20)=2, common(10,30)=1, common(20,30)=0
    val dir = tempDir("co").toString
    val links = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (1L, 20L), (2L, 20L), (3L, 30L))
    links.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    links.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    val rows = ops.Graph.qGraphCooccur(spark, dir).collect()
      .map(r => (r.getAs[Long]("sup"), r.getAs[Int]("rk")) ->
        (r.getAs[Long]("partner"), r.getAs[Long]("common"))).toMap
    assert(rows((10L, 1)) == (20L, 2L))
    assert(rows((10L, 2)) == (30L, 1L))
    assert(rows((20L, 1)) == (10L, 2L))
    assert(rows((30L, 1)) == (10L, 1L))
    assert(rows.size == 4) // the common=0 pair must NOT appear
  }

  test("q_graph_khop: exact hop distances on a crafted chain, islands absent") {
    // s0 (seed) — c100 — s5 — c200, plus an unreachable island c300—s7
    val dir = tempDir("kh").toString
    val links = Seq((100L, 0L), (100L, 5L), (200L, 5L), (300L, 7L))
    links.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    links.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    val got = ops.Graph.qGraphKhop(spark, dir).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_key")) ->
        r.getAs[Int]("dist")).toMap
    assert(got == Map(
      ("supplier", 0L) -> 0, ("customer", 100L) -> 1,
      ("supplier", 5L) -> 2, ("customer", 200L) -> 3))
  }

  test("q_sql_recursive agrees with the DataFrame khop within its bound") {
    // the recursive-CTE surface and the hand-unrolled BFS must tell
    // the same story: khop rows with dist <= 2 == the recursive result
    val viaSql = ops.Relational.qSqlRecursive(spark, sf)
    val viaDf = ops.Graph.qGraphKhop(spark, sf)
      .filter(org.apache.spark.sql.functions.col("dist") <= 2)
    assert(viaSql.exceptAll(viaDf).count() == 0)
    assert(viaDf.exceptAll(viaSql).count() == 0)
  }

  test("pagerank favors the hub in a star graph") {
    // one supplier serving 5 customers vs one serving a single
    // customer: the hub must out-rank the leaf supplier
    val dir = tempDir("pr2").toString
    val orders = (1L to 6L).map(c => (c * 10, c))
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    orders.map { case (ok, c) => (ok, if (c <= 5) 1L else 2L) }
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    val bySupp = ops.Graph.qGraphPagerank(spark, dir).collect()
      .filter(_.getAs[String]("node_type") == "supplier")
      .map(r => r.getAs[Long]("node_key") -> r.getAs[Long]("rank_micro"))
      .toMap
    assert(bySupp(1L) > bySupp(2L),
      s"hub rank ${bySupp(1L)} not above leaf rank ${bySupp(2L)}")
  }
}
