package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import core._

/** Relational operators: scans, projections, filters, joins,
  * aggregations, sorts, set ops (SURVEY §2.1–§2.4, §2.6–§2.7).
  *
  * Semantics derive from the reference capability sentence
  * (`/root/reference/README.md:2` — "complex transformations on ...
  * collections") expressed Spark-first: declarative DataFrame plans,
  * Catalyst does pushdown/pruning/join-selection. Every query ends in
  * a total ORDER BY with a unique tiebreaker and keeps money math in
  * exact integer cents (SURVEY §5.3 determinism rules).
  */
object Relational {

  /** Monotonic suffix for qSqlRecursive's temp view names. */
  private val sqlrSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---------------------------------------------------------------- §2.1 scans

  /** Full scan, all columns, total order on the canonical unique pair. */
  def qScanFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Column pruning: 3 of 11 columns reach the parquet reader. */
  def qScanPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      // l_linenumber completes the unique tiebreak (tied rows are
      // content-identical, but the §5.3 rule is total order); it is
      // read for the sort and dropped from the output — the scan
      // still prunes 16 columns to 4
      .select($"l_orderkey", $"l_quantity", $"l_shipdate", $"l_linenumber")
      .orderBy($"l_orderkey", $"l_quantity", $"l_shipdate", $"l_linenumber")
      .drop("l_linenumber")
  }

  /** count(*) per table — the metadata/statistics path: every count
    * comes from [[core.tableRows]] (parquet footers, or the TxLog log
    * stats under the mirror), and the answer is a local frame sorted
    * on the driver, so its plan is one LocalTableScan that reads no
    * table data and runs no Spark job.
    */
  def qScanCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .sorted.map(n => (n, tableRows(s, dir, n)))
      .toDF("table_name", "n_rows")
  }

  /** Predicate pushed into the parquet row-group filter. */
  def qScanPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate",
        cents($"l_extendedprice").as("price_c"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  // ------------------------------------------------- §2.2 project / filter

  /** Derived columns in exact cents: revenue and charge per line. */
  def qProjectArith(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_pct"),
        cents($"l_tax").as("tax_pct"))
      .withColumn("revenue_c4", $"price_c" * (lit(100L) - $"disc_pct"))
      .withColumn("charge_c6",
        $"price_c" * (lit(100L) - $"disc_pct") * (lit(100L) + $"tax_pct"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Compound predicate: AND / OR / NOT / IN / BETWEEN / LIKE. */
  def qFilterPred(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .withColumn("total_c", cents($"o_totalprice"))
      .filter(
        ($"o_orderpriority".like("%URGENT") || $"o_orderpriority".like("2%")) &&
        $"o_orderstatus".isin("F", "O") &&
        $"total_c".between(1000000L, 20000000L) &&
        !($"o_orderstatus" === "P"))
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_orderpriority", $"total_c")
      .orderBy($"o_orderkey")
  }

  /** Three-valued logic on manufactured NULLs (fixtures are NULL-free). */
  def qFilterNull3vl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        nullif($"l_returnflag", lit("N")).as("rf_null"),
        nullif($"l_linestatus", lit("F")).as("ls_null"))
      .withColumn("rf_is_null", $"rf_null".isNull)
      .withColumn("nsafe_eq", $"rf_null" <=> $"ls_null")
      .withColumn("is_distinct", !($"rf_null" <=> $"ls_null"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** IN (subquery) + correlated EXISTS — the semi-join rewrite path.
    * View names carry a dir-derived tag: temp views are session-global
    * state, so constant names would let two concurrent invocations
    * with different fixture dirs clobber each other (VERDICT r2 §5).
    */
  def qFilterSubquery(s: SparkSession, dir: String): DataFrame = {
    val tag = (dir.hashCode & 0x7fffffff).toHexString
    t(s, dir, "orders").createOrReplaceTempView(s"sq_orders_$tag")
    t(s, dir, "customer").createOrReplaceTempView(s"sq_customer_$tag")
    t(s, dir, "lineitem").createOrReplaceTempView(s"sq_lineitem_$tag")
    s.sql(s"""
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM sq_orders_$tag o
      WHERE o_custkey IN (SELECT c_custkey FROM sq_customer_$tag
                          WHERE c_mktsegment = 'BUILDING')
        AND EXISTS (SELECT 1 FROM sq_lineitem_$tag l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 30)
      ORDER BY o_orderkey""")
  }

  // ---------------------------------------------------------------- §2.3 joins

  /** Equi inner join orders ⋈ customer (hash join expected). */
  def qJoinInner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select($"o_orderkey", $"c_custkey", $"c_name",
        cents($"o_totalprice").as("total_c"))
      .orderBy($"o_orderkey")
  }

  /** Dim-chain with explicit broadcast of nation+region. */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
      .select($"l_suppkey", cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_pct"))
    val sup = t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    li.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_lines"),
        sum($"price_c" * (lit(100L) - $"disc_pct")).as("revenue_c4"))
      .orderBy($"r_name", $"n_name")
  }

  /** Large-large equi join lineitem ⋈ orders (sort-merge at scale),
    * aggregated to a stable small output.
    */
  def qJoinMergeLarge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
      .select($"l_orderkey", cents($"l_quantity").as("qty_c"))
    val o = t(s, dir, "orders").select($"o_orderkey", $"o_orderstatus")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), sum($"qty_c").as("sum_qty_c"))
      .orderBy($"o_orderstatus")
  }

  private def orders1995(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-01-01").cast("timestamp"))
  }

  /** Left outer customer ⟕ orders(1995): NULL right sides survive. */
  def qJoinLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
    val o = orders1995(s, dir)
      .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("total_c"))
    c.join(o, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"c_custkey", $"c_mktsegment", $"o_orderkey", $"total_c")
      .orderBy($"c_custkey".asc, $"o_orderkey".asc_nulls_first)
  }

  /** Right outer mirror of qJoinLeft (verifies side handling). */
  def qJoinRight(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
    val o = orders1995(s, dir)
      .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("total_c"))
    o.join(c, $"c_custkey" === $"o_custkey", "right_outer")
      .select($"c_custkey", $"c_mktsegment", $"o_orderkey", $"total_c")
      .orderBy($"c_custkey".asc, $"o_orderkey".asc_nulls_first)
  }

  /** Full outer over filtered subsets — both null sides exercised. */
  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_mktsegment")
    val o = orders1995(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_custkey")
    c.join(o, $"c_custkey" === $"o_custkey", "full_outer")
      .select($"c_custkey", $"c_mktsegment", $"o_orderkey", $"o_custkey")
      .orderBy($"c_custkey".asc_nulls_first, $"o_orderkey".asc_nulls_first)
  }

  /** Left semi: customers having ≥1 URGENT order. */
  def qJoinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Left anti: customers with no orders in 1995. */
  def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
    c.join(orders1995(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Cartesian region × nation (25 × 5 = 125 rows). */
  def qJoinCross(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "region").select($"r_name")
      .crossJoin(t(s, dir, "nation").select($"n_name"))
      .orderBy($"r_name", $"n_name")
  }

  /** Theta join: part pairs within a brand where a is cheaper than b,
    * aggregated per brand (equi on brand + non-equi residual).
    */
  def qJoinTheta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r15 (guide §2): the dim side broadcasts, so the probe side's
    // partition count IS the join's parallelism — and part is one
    // small parquet split, so the whole ~n²/|brands| pair evaluation
    // ran in a single task. Spread it by the estimated pair count
    // (the row count comes from the footer; the brand cardinality is
    // a distinct projection, so it stays a count job memoized per
    // JVM); below the pairScanPartitions cutoff the plan is unchanged.
    val n = core.tableRows(s, dir, "part")
    val nBrands = core.statCount(dir + "#part_brands",
      t(s, dir, "part").select($"p_brand").distinct())
    val parts = core.pairScanPartitions(core.pairCount(n, n) / math.max(1L, nBrands))
    val a0 = t(s, dir, "part")
      .select($"p_brand", $"p_partkey".as("a_key"),
        cents($"p_retailprice").as("a_price_c"))
    val a = if (parts > 1) a0.repartition(parts, $"a_key") else a0
    val b = t(s, dir, "part")
      .select($"p_brand".as("b_brand"), $"p_partkey".as("b_key"),
        cents($"p_retailprice").as("b_price_c"))
    a.join(b, $"p_brand" === $"b_brand" && $"a_price_c" < $"b_price_c")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"b_price_c" - $"a_price_c").as("sum_gap_c"))
      .orderBy($"p_brand")
  }

  /** Self range-join: event pairs of the same user within 10 minutes. */
  def qJoinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e1 = t(s, dir, "events")
      .select($"user_id", $"event_id".as("e1_id"), $"ts".as("e1_ts"))
    val e2 = t(s, dir, "events")
      .select($"user_id".as("u2"), $"event_id".as("e2_id"), $"ts".as("e2_ts"))
    e1.join(e2,
        $"user_id" === $"u2" && $"e1_id" < $"e2_id" &&
        $"e2_ts" >= $"e1_ts" &&
        $"e2_ts" <= $"e1_ts" + expr("INTERVAL 10 MINUTES"))
      .select($"user_id", $"e1_id", $"e2_id",
        (unix_timestamp($"e2_ts") - unix_timestamp($"e1_ts")).as("gap_sec"))
      .orderBy($"e1_id", $"e2_id")
  }

  /** As-of join: for each purchase, the most recent strictly-prior
    * signup/click of the same user (tiebreak: larger prior event_id).
    */
  def qJoinAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val purch = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val prior = ev.filter($"event_type".isin("signup", "click"))
      .select($"user_id".as("u2"), $"event_id".as("prior_id"),
        $"ts".as("prior_ts"), $"event_type".as("prior_type"))
    val w = Window.partitionBy($"p_id")
      .orderBy($"prior_ts".desc, $"prior_id".desc)
    purch.join(prior, $"user_id" === $"u2" && $"prior_ts" < $"p_ts")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"p_id", $"user_id", $"p_ts", $"prior_id", $"prior_ts",
        $"prior_type")
      .orderBy($"p_id")
  }

  /** 5-way chain region→nation→customer→orders→lineitem + group-by
    * (TPC-H Q5 shape). Dims broadcast, facts shuffle on join keys.
    */
  def qJoinMultiway(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reg = t(s, dir, "region").select($"r_regionkey", $"r_name")
    val nat = t(s, dir, "nation")
    val cust = t(s, dir, "customer").select($"c_custkey", $"c_nationkey")
    val ord = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val li = t(s, dir, "lineitem")
      .select($"l_orderkey", cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_pct"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_lines"),
        sum($"price_c" * (lit(100L) - $"disc_pct")).as("revenue_c4"))
      .orderBy($"r_name", $"n_name")
  }

  /** Correlated LATERAL derived table (SQL front end — the DataFrame
    * API has no lateral): top-2 orders by totalprice among each
    * nation's customers. Catalyst decorrelates the LATERAL + LIMIT
    * into a ranked join, so no per-outer-row re-execution happens —
    * at scale this is one shuffle, not n_nation subqueries.
    */
  def qJoinLateral(s: SparkSession, dir: String): DataFrame = {
    // dir-tagged view names — same concurrency rationale as
    // [[qFilterSubquery]]
    val tag = (dir.hashCode & 0x7fffffff).toHexString
    t(s, dir, "nation").createOrReplaceTempView(s"lat_nation_$tag")
    t(s, dir, "customer").createOrReplaceTempView(s"lat_customer_$tag")
    t(s, dir, "orders").createOrReplaceTempView(s"lat_orders_$tag")
    s.sql(s"""
      SELECT n.n_name, t.o_orderkey, t.total_c
      FROM lat_nation_$tag n,
      LATERAL (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice*100) AS BIGINT) AS total_c
        FROM lat_orders_$tag o JOIN lat_customer_$tag c
          ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
      ORDER BY n.n_name, t.total_c DESC, t.o_orderkey""")
  }

  // --------------------------------------------------------- §2.4 aggregates

  /** Ungrouped global aggregates, cents-exact. */
  def qAggGlobal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select(cents($"l_quantity").as("qty_c"),
        cents($"l_extendedprice").as("price_c"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"qty_c").as("sum_qty_c"),
        sum($"price_c").as("sum_price_c"),
        min($"price_c").as("min_price_c"),
        max($"price_c").as("max_price_c"))
      .withColumn("avg_price", r6($"sum_price_c" / 100.0 / $"n_rows"))
  }

  /** Flagship: TPC-H Q1 shape. Group lineitem by (returnflag,
    * linestatus) with 8 aggregates, shipdate filter. All money math in
    * exact integer cents (LongType) so that sums are bit-identical in
    * both engines; averages are derived from the exact sums by a
    * single identical division, then rounded.
    */
  def qAggGroupby(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .select(
        $"l_returnflag", $"l_linestatus",
        cents($"l_quantity").as("qty_c"),
        cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_pct"),
        cents($"l_tax").as("tax_pct"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("count_order"),
        sum($"qty_c").as("sum_qty_c"),
        sum($"price_c").as("sum_base_price_c"),
        sum($"price_c" * (lit(100L) - $"disc_pct")).as("sum_disc_price_c4"),
        sum($"price_c" * (lit(100L) - $"disc_pct") * (lit(100L) + $"tax_pct"))
          .as("sum_charge_c6"),
        sum($"disc_pct").as("sum_disc_pct"))
      .select(
        $"l_returnflag", $"l_linestatus", $"count_order",
        $"sum_qty_c", $"sum_base_price_c", $"sum_disc_price_c4",
        $"sum_charge_c6",
        r6($"sum_qty_c" / 100.0 / $"count_order").as("avg_qty"),
        r6($"sum_base_price_c" / 100.0 / $"count_order").as("avg_price"),
        r6($"sum_disc_pct" / 100.0 / $"count_order").as("avg_disc"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** count(DISTINCT) per group → expand + two-phase aggregation. */
  def qAggDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
        count(lit(1)).as("n_lines"))
      .orderBy($"l_returnflag")
  }

  /** Two different DISTINCT aggregates + one plain in a single query. */
  def qAggMultidistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_linestatus", $"l_partkey", $"l_suppkey",
        cents($"l_quantity").as("qty_c"))
      .groupBy($"l_linestatus")
      .agg(countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        sum($"qty_c").as("sum_qty_c"))
      .orderBy($"l_linestatus")
  }

  /** Post-aggregation filter (HAVING). */
  def qAggHaving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_custkey", cents($"o_totalprice").as("total_c"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum($"total_c").as("sum_total_c"))
      .filter($"n_orders" > 15)
      .orderBy($"o_custkey")
  }

  // ------------------------------------------------- §2.6 sorts / limits

  /** Multi-column mixed asc/desc sort with explicit NULL placement. */
  def qSortMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .select($"c_custkey",
        nullif($"c_mktsegment", lit("MACHINERY")).as("seg_null"),
        cents($"c_acctbal").as("acctbal_c"))
      .orderBy($"seg_null".asc_nulls_first, $"acctbal_c".desc_nulls_last,
        $"c_custkey".asc)
  }

  /** Global top-10 by totalprice (limit+sort fusion). */
  def qTopkGlobal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey", cents($"o_totalprice").as("total_c"))
      .orderBy($"total_c".desc, $"o_orderkey".asc)
      .limit(10)
  }

  /** Pagination: rows 101–120 of a total order. */
  def qLimitOffset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("total_c"))
      .orderBy($"o_orderkey")
      .offset(100).limit(20)
  }

  // ------------------------------------------------------------ §2.7 set ops

  private def clicks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events").filter($"event_type" === "click")
      .select($"event_id", $"user_id", cents($"value").as("value_c"))
  }

  private def bigValues(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events").filter(cents($"value") > 10000L)
      .select($"event_id", $"user_id", cents($"value").as("value_c"))
  }

  /** Bag union — overlapping rows kept twice. */
  def qSetUnionAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clicks(s, dir).unionAll(bigValues(s, dir))
      .orderBy($"event_id", $"user_id", $"value_c")
  }

  /** Set union — overlap deduplicated. */
  def qSetUnionDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clicks(s, dir).union(bigValues(s, dir)).distinct()
      .orderBy($"event_id")
  }

  /** INTERSECT (set semantics in both engines). */
  def qSetIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val b = t(s, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey".as("c_custkey"))
    a.intersect(b).orderBy($"c_custkey")
  }

  /** EXCEPT: BUILDING customers minus those with 1995 orders. */
  def qSetExcept(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val b = orders1995(s, dir).select($"o_custkey".as("c_custkey"))
    a.except(b).orderBy($"c_custkey")
  }

  /** unionByName across differently-ordered schemas. */
  def qSetByName(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = t(s, dir, "events").filter($"event_type" === "signup")
      .select($"event_id", $"user_id", cents($"value").as("value_c"))
    val b = t(s, dir, "events").filter($"event_type" === "error")
      .select(cents($"value").as("value_c"), $"event_id", $"user_id")
    a.unionByName(b).orderBy($"event_id")
  }

  /** The SQL-text entry point (SURVEY §3.2) exercised as a t2 key:
    * the same analytical shape a DataFrame key would build (3-way
    * join → cents revenue rollup → per-segment top-3 window), but
    * authored as one `spark.sql` string — proving the second API
    * surface parses/optimizes/executes through the identical Catalyst
    * path. View names are dir-tagged (VERDICT r2 §5 concurrency rule).
    */
  def qSqlText(s: SparkSession, dir: String): DataFrame = {
    val tag = (dir.hashCode & 0x7fffffff).toHexString
    t(s, dir, "customer").createOrReplaceTempView(s"sqlt_customer_$tag")
    t(s, dir, "orders").createOrReplaceTempView(s"sqlt_orders_$tag")
    t(s, dir, "lineitem").createOrReplaceTempView(s"sqlt_lineitem_$tag")
    s.sql(s"""
      WITH rev AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey AS custkey,
          c.c_name AS name,
          SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS rev_c
        FROM sqlt_customer_$tag c
        JOIN sqlt_orders_$tag o ON o.o_custkey = c.c_custkey
        JOIN sqlt_lineitem_$tag l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY segment ORDER BY rev_c DESC, custkey) AS rk
        FROM rev)
      SELECT segment, rk, custkey, name, rev_c
      FROM ranked WHERE rk <= 3
      ORDER BY segment, rk""")
  }

  /** Recursive CTE through the SQL-text surface (Spark 4 `WITH
    * RECURSIVE`): bounded transitive reachability (min hop ≤ 2) from
    * the seed suppliers over the transaction graph — the same answer
    * [[Graph.qGraphKhop]] computes with hand-unrolled DataFrame
    * rounds, now expressed as ONE recursive SQL query that Catalyst
    * executes natively (and the same formulation the DuckDB oracle
    * family has used since q_dedup_components). The depth bound makes
    * the recursion terminate on this cyclic graph, and is 2 (not
    * khop's 3) BY DESIGN: recursive UNION ALL re-expands every path,
    * not every node — without khop's per-round min-collapse a third
    * hop on this dense graph multiplies paths into the tens of
    * millions. That asymmetry (paths vs frontier) is exactly why the
    * DataFrame iteration stays the scale path and the recursive form
    * is the expressiveness surface.
    */
  def qSqlRecursive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-invocation unique suffix: a dir-hash collision (or two
    // concurrent invocations on one session) must never silently
    // rebind another run's cached edge view
    val tag = (dir.hashCode & 0x7fffffff).toHexString +
      "_" + sqlrSeq.incrementAndGet()
    // two cost traps, both found by measurement (17 s at sf0.1):
    //  - the recursion re-evaluates every referenced view ONCE PER
    //    STEP — and (r15, found by plan dump) a `cache()` here never
    //    fires inside the loop: UnionLoop copies the view subtree
    //    with fresh expr ids, so the plan-keyed CacheManager lookup
    //    MISSES and every step re-derived pairs ∪ reversed from
    //    parquet. `localCheckpoint` materializes the doubled edge
    //    list as an RDD-backed leaf the recursion cannot re-derive —
    //    each step (and the seed DISTINCT) now scans the in-memory
    //    blocks once. The checkpoint blocks are released by the
    //    enclosing withCaches scope (core.scala contract).
    //  - a join condition whose CASE touches BOTH sides is not
    //    separable into equi-keys and degrades to a nested loop —
    //    doubling the edge list (src, dst) up front keeps every
    //    recursive step a plain equi-join on src.
    val pairs = Graph.custSuppPairs(s, dir)
      .select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
    // NOT AQE-off-scoped, unlike the DataFrame iterative cores: the
    // recursive UnionLoop's steps vary in size (frontier growth) and
    // each step materializes anyway, which is exactly AQE's sweet
    // spot (coalescing the per-step shuffles) — A/B at sf0.1 measured
    // the AQE-off scope neutral-to-worse here (r6).
    // (measured r15: pre-partitioning the checkpoint by src costs an
    // extra 1.2M-row exchange at build and buys nothing per step —
    // the steps broadcast the frontier side instead)
    pairs.union(pairs.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
      .createOrReplaceTempView(s"sqlr_edges_$tag")
    val out = s.sql(s"""
      WITH RECURSIVE walk(node, dist) AS (
        SELECT DISTINCT src AS node, 0 AS dist
        FROM sqlr_edges_$tag WHERE src % 2 = 1 AND src DIV 2 < 3
        UNION ALL
        SELECT e.dst AS node, w.dist + 1 AS dist
        FROM walk w
        JOIN sqlr_edges_$tag e ON w.node = e.src
        WHERE w.dist < 2)
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
             node DIV 2 AS node_key,
             CAST(MIN(dist) AS INTEGER) AS dist
      FROM walk
      GROUP BY 1, 2
      ORDER BY dist, node_type, node_key""")
    // sql() analyzes eagerly — the returned frame's plan holds the
    // RESOLVED view subtree, so the catalog entry can go right away
    // (ADVICE r5: the per-invocation views used to accumulate for the
    // life of the session; the cached edge frame itself is released
    // by the enclosing withCaches scope, not the view)
    s.catalog.dropTempView(s"sqlr_edges_$tag")
    out
  }

  /** Hot-key-safe join: [[Skew.saltedJoin]] registered as a t2 key —
    * the oracle is the PLAIN join, so the correctness gate itself
    * proves salting is semantics-preserving (dim replicated k ways,
    * fact salted by deterministic hash, results identical). At scale
    * this is the escape hatch when one customer owns a pathological
    * share of orders and AQE's skew split can't divide a single key.
    */
  def qJoinSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("price_c"))
    val c = t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
    Skew.saltedJoin(o, c, "o_custkey", "c_custkey", $"o_orderkey", 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum($"price_c").as("sum_price_c"))
      .orderBy($"c_mktsegment")
  }

  // ------------------------------------------------------------- registries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_text" -> (qSqlText _),
    "q_sql_recursive" -> (qSqlRecursive _),
    "q_join_salted" -> (qJoinSalted _),
    "q_scan_full" -> (qScanFull _),
    "q_scan_pruned" -> (qScanPruned _),
    "q_scan_count" -> (qScanCount _),
    "q_scan_pushdown" -> (qScanPushdown _),
    "q_project_arith" -> (qProjectArith _),
    "q_filter_pred" -> (qFilterPred _),
    "q_filter_null3vl" -> (qFilterNull3vl _),
    "q_filter_subquery" -> (qFilterSubquery _),
    "q_join_inner" -> (qJoinInner _),
    "q_join_broadcast" -> (qJoinBroadcast _),
    "q_join_merge_large" -> (qJoinMergeLarge _),
    "q_join_left" -> (qJoinLeft _),
    "q_join_right" -> (qJoinRight _),
    "q_join_full" -> (qJoinFull _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_cross" -> (qJoinCross _),
    "q_join_theta" -> (qJoinTheta _),
    "q_join_range" -> (qJoinRange _),
    "q_join_asof" -> (qJoinAsof _),
    "q_join_multiway" -> (qJoinMultiway _),
    "q_join_lateral" -> (qJoinLateral _),
    "q_agg_global" -> (qAggGlobal _),
    "q_agg_groupby" -> (qAggGroupby _),
    "q_agg_distinct" -> (qAggDistinct _),
    "q_agg_multidistinct" -> (qAggMultidistinct _),
    "q_agg_having" -> (qAggHaving _),
    "q_sort_multi" -> (qSortMulti _),
    "q_topk_global" -> (qTopkGlobal _),
    "q_limit_offset" -> (qLimitOffset _),
    "q_set_union_all" -> (qSetUnionAll _),
    "q_set_union_dist" -> (qSetUnionDist _),
    "q_set_intersect" -> (qSetIntersect _),
    "q_set_except" -> (qSetExcept _),
    "q_set_by_name" -> (qSetByName _)
  )

  private val centsSql = Map(
    "qty" -> core.centsSql("l_quantity"),
    "price" -> core.centsSql("l_extendedprice"),
    "disc" -> core.centsSql("l_discount"),
    "tax" -> core.centsSql("l_tax"))

  val oracle: Map[String, String] = Map(
    "q_sql_recursive" ->
      """WITH RECURSIVE eg AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM eg
        |          UNION ALL SELECT dst, src FROM eg),
        |walk(node, dist) AS (
        |  SELECT DISTINCT src AS node, 0 AS dist
        |  FROM edges WHERE src % 2 = 1 AND src // 2 < 3
        |  UNION ALL
        |  SELECT e.dst AS node, w.dist + 1 AS dist
        |  FROM walk w
        |  JOIN edges e ON w.node = e.src
        |  WHERE w.dist < 2)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |         AS node_type,
        |       node // 2 AS node_key, CAST(min(dist) AS INTEGER) AS dist
        |FROM walk GROUP BY 1, 2
        |ORDER BY dist, node_type, node_key""".stripMargin,

    "q_sql_text" ->
      """WITH rev AS (
        |  SELECT c.c_mktsegment AS segment, c.c_custkey AS custkey,
        |    c.c_name AS name,
        |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS rev_c
        |  FROM customer c
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY segment ORDER BY rev_c DESC, custkey) AS rk
        |  FROM rev)
        |SELECT segment, rk, custkey, name, rev_c
        |FROM ranked WHERE rk <= 3
        |ORDER BY segment, rk""".stripMargin,

    // plain join on purpose: the salted Spark plan must produce the
    // UNSALTED join's exact result
    "q_join_salted" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "q_scan_full" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",

    "q_scan_pruned" ->
      """SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem
        |ORDER BY l_orderkey, l_quantity, l_shipdate, l_linenumber""".stripMargin,

    "q_scan_count" ->
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, count(*) AS n_rows FROM region UNION ALL
        |  SELECT 'nation', count(*) FROM nation UNION ALL
        |  SELECT 'customer', count(*) FROM customer UNION ALL
        |  SELECT 'supplier', count(*) FROM supplier UNION ALL
        |  SELECT 'part', count(*) FROM part UNION ALL
        |  SELECT 'orders', count(*) FROM orders UNION ALL
        |  SELECT 'lineitem', count(*) FROM lineitem UNION ALL
        |  SELECT 'events', count(*) FROM events UNION ALL
        |  SELECT 'documents', count(*) FROM documents UNION ALL
        |  SELECT 'embeddings', count(*) FROM embeddings
        |) ORDER BY table_name""".stripMargin,

    "q_scan_pushdown" ->
      s"""SELECT l_orderkey, l_linenumber, l_shipdate,
        |  ${centsSql("price")} AS price_c
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_project_arith" ->
      s"""SELECT l_orderkey, l_linenumber,
        |  ${centsSql("price")} AS price_c,
        |  ${centsSql("disc")} AS disc_pct,
        |  ${centsSql("tax")} AS tax_pct,
        |  ${centsSql("price")} * (100 - ${centsSql("disc")}) AS revenue_c4,
        |  ${centsSql("price")} * (100 - ${centsSql("disc")}) * (100 + ${centsSql("tax")}) AS charge_c6
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_pred" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM orders
        |WHERE (o_orderpriority LIKE '%URGENT' OR o_orderpriority LIKE '2%')
        |  AND o_orderstatus IN ('F','O')
        |  AND CAST(round(o_totalprice*100) AS BIGINT) BETWEEN 1000000 AND 20000000
        |  AND NOT (o_orderstatus = 'P')
        |ORDER BY o_orderkey""".stripMargin,

    "q_filter_null3vl" ->
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_returnflag, 'N') AS rf_null,
        |  nullif(l_linestatus, 'F') AS ls_null,
        |  nullif(l_returnflag, 'N') IS NULL AS rf_is_null,
        |  nullif(l_returnflag, 'N') IS NOT DISTINCT FROM nullif(l_linestatus, 'F') AS nsafe_eq,
        |  nullif(l_returnflag, 'N') IS DISTINCT FROM nullif(l_linestatus, 'F') AS is_distinct
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_subquery" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders o
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 30)
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_broadcast" ->
      s"""SELECT r_name, n_name, count(*) AS n_lines,
        |  CAST(sum(${centsSql("price")} * (100 - ${centsSql("disc")})) AS BIGINT) AS revenue_c4
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_merge_large" ->
      s"""SELECT o_orderstatus, count(*) AS n_lines,
        |  CAST(sum(${centsSql("qty")}) AS BIGINT) AS sum_qty_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, c_mktsegment, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM customer LEFT JOIN (
        |  SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01') o
        |ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_right" ->
      """SELECT c_custkey, c_mktsegment, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM (
        |  SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01') o
        |RIGHT JOIN customer ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_full" ->
      """SELECT c_custkey, c_mktsegment, o_orderkey, o_custkey
        |FROM (SELECT c_custkey, c_mktsegment FROM customer
        |      WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'
        |    AND o_orderpriority = '1-URGENT') o
        |ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_theta" ->
      """SELECT a.p_brand, count(*) AS n_pairs,
        |  CAST(sum(CAST(round(b.p_retailprice*100) AS BIGINT)
        |         - CAST(round(a.p_retailprice*100) AS BIGINT)) AS BIGINT) AS sum_gap_c
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand
        | AND CAST(round(a.p_retailprice*100) AS BIGINT)
        |     < CAST(round(b.p_retailprice*100) AS BIGINT)
        |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin,

    "q_join_range" ->
      """SELECT e1.user_id, e1.event_id AS e1_id, e2.event_id AS e2_id,
        |  CAST(date_diff('second', e1.ts, e2.ts) AS BIGINT) AS gap_sec
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e1.event_id < e2.event_id
        | AND e2.ts >= e1.ts
        | AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
        |ORDER BY e1_id, e2_id""".stripMargin,

    "q_join_asof" ->
      """SELECT p_id, user_id, p_ts, prior_id, prior_ts, prior_type FROM (
        |  SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |    pr.event_id AS prior_id, pr.ts AS prior_ts,
        |    pr.event_type AS prior_type,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY pr.ts DESC, pr.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events
        |        WHERE event_type IN ('signup','click')) pr
        |    ON p.user_id = pr.user_id AND pr.ts < p.ts
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,

    "q_join_multiway" ->
      s"""SELECT r_name, n_name, count(*) AS n_lines,
        |  CAST(sum(${centsSql("price")} * (100 - ${centsSql("disc")})) AS BIGINT) AS revenue_c4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_lateral" ->
      """SELECT n.n_name, t.o_orderkey, t.total_c
        |FROM nation n,
        |LATERAL (
        |  SELECT o.o_orderkey,
        |         CAST(round(o.o_totalprice*100) AS BIGINT) AS total_c
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
        |ORDER BY n.n_name, t.total_c DESC, t.o_orderkey""".stripMargin,

    "q_agg_global" ->
      s"""SELECT count(*) AS n_rows,
        |  CAST(sum(${centsSql("qty")}) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(${centsSql("price")}) AS BIGINT) AS sum_price_c,
        |  min(${centsSql("price")}) AS min_price_c,
        |  max(${centsSql("price")}) AS max_price_c,
        |  round(CAST(sum(${centsSql("price")}) AS BIGINT) / 100.0 / count(*), 6) AS avg_price
        |FROM lineitem""".stripMargin,

    "q_agg_groupby" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  count(*) AS count_order,
        |  CAST(sum(${centsSql("qty")}) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(${centsSql("price")}) AS BIGINT) AS sum_base_price_c,
        |  CAST(sum(${centsSql("price")} * (100 - ${centsSql("disc")})) AS BIGINT) AS sum_disc_price_c4,
        |  CAST(sum(${centsSql("price")} * (100 - ${centsSql("disc")}) * (100 + ${centsSql("tax")})) AS BIGINT) AS sum_charge_c6,
        |  round(CAST(sum(${centsSql("qty")}) AS BIGINT) / 100.0 / count(*), 6) AS avg_qty,
        |  round(CAST(sum(${centsSql("price")}) AS BIGINT) / 100.0 / count(*), 6) AS avg_price,
        |  round(CAST(sum(${centsSql("disc")}) AS BIGINT) / 100.0 / count(*), 6) AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_multidistinct" ->
      s"""SELECT l_linestatus,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  CAST(sum(${centsSql("qty")}) AS BIGINT) AS sum_qty_c
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_total_c
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) > 15 ORDER BY o_custkey""".stripMargin,

    "q_sort_multi" ->
      """SELECT c_custkey, nullif(c_mktsegment, 'MACHINERY') AS seg_null,
        |  CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_c
        |FROM customer
        |ORDER BY seg_null ASC NULLS FIRST, acctbal_c DESC NULLS LAST,
        |  c_custkey ASC""".stripMargin,

    "q_topk_global" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM orders ORDER BY total_c DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_limit_offset" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100""".stripMargin,

    "q_set_union_all" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, user_id, CAST(round(value*100) AS BIGINT)
        |  FROM events WHERE CAST(round(value*100) AS BIGINT) > 10000
        |) ORDER BY event_id, user_id, value_c""".stripMargin,

    "q_set_union_dist" ->
      """SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_c
        |FROM events WHERE event_type = 'click'
        |UNION
        |SELECT event_id, user_id, CAST(round(value*100) AS BIGINT)
        |FROM events WHERE CAST(round(value*100) AS BIGINT) > 10000
        |ORDER BY event_id""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY c_custkey""".stripMargin,

    "q_set_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |ORDER BY c_custkey""".stripMargin,

    "q_set_by_name" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'signup'
        |  UNION ALL
        |  SELECT event_id, user_id, CAST(round(value*100) AS BIGINT)
        |  FROM events WHERE event_type = 'error'
        |) ORDER BY event_id""".stripMargin
  )
}
