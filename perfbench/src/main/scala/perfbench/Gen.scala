package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the fixture schema the engine's keys read
  * (region … lineitem, events, documents, embeddings).
  *
  * `scale` 1.0 gives the sf0.1 row counts. Every value is a hash of
  * (row id, seed), so one (scale, seed) pair always yields the same
  * tables. The structure follows the repo's 10x/100x scale fixtures:
  * documents come in near-duplicate clusters of 10 over a Zipf-ish
  * vocabulary, embeddings in clusters of 50, money columns are 2-dp
  * and event timestamps are whole seconds, so the DuckDB oracle
  * answers stay exact.
  */
object Gen {
  /** Where the tables for (scale, seed) live under `root`. */
  def dir(root: String, scale: Double, seed: Long): String =
    new java.io.File(root, s"scale$scale-seed$seed").getAbsolutePath

  /** Generates the tables for (scale, seed) under `root` unless they
    * are there. The inputs of a workload do not change between its
    * runs, so one checkout generates them once; a half-written set
    * never counts, as only a complete one is renamed into place.
    */
  def cached(spark: SparkSession, root: String, scale: Double, seed: Long): Unit = {
    val out = new java.io.File(dir(root, scale, seed))
    if (!out.isDirectory) {
      val tmp = new java.io.File(root, s"tmp-${ProcessHandle.current().pid()}")
      write(spark, tmp.getAbsolutePath, scale, seed)
      if (!tmp.renameTo(out)) throw new IllegalStateException(s"cannot create $out")
    }
  }

  /** Every table in one parquet file. */
  def write(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit = {
    def n(base: Long, floor: Long = 1L): Long =
      math.max(floor, math.round(base * scale))
    val nCust = n(15000); val nSupp = n(1000, 10); val nPart = n(20000)
    val nOrders = n(150000); val nLines = 4 * nOrders; val nEvents = n(100000)
    val nDocs = n(5000, 500) / 10 * 10; val nVecs = n(2000, 500) / 50 * 50
    val s = lit(seed)
    def h(c: Column, mul: Int, mod: Long): Column = pmod(hash(c * mul, s), lit(mod))
    def pick(c: Column, mul: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), h(c, mul, xs.length).cast("int") + 1)
    def out(name: String, df: org.apache.spark.sql.DataFrame) =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    out("region", spark.range(0, 5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), id.cast("int") + 1).as("r_name")))
    out("nation", spark.range(0, 25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    out("customer", spark.range(0, nCust).select((id + 1).as("c_custkey"),
      concat(lit("Customer#"), id + 1).as("c_name"),
      h(id, 7, 25).cast("int").as("c_nationkey"),
      (h(id, 11, 1100000) / 100.0 - 1000.0).as("c_acctbal"),
      pick(id, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    out("supplier", spark.range(0, nSupp).select((id + 1).as("s_suppkey"),
      concat(lit("Supplier#"), id + 1).as("s_name"),
      h(id, 17, 25).cast("int").as("s_nationkey"),
      (h(id, 19, 1100000) / 100.0 - 1000.0).as("s_acctbal")))
    out("part", spark.range(0, nPart).select((id + 1).as("p_partkey"),
      concat(pick(id, 3, Seq("red", "blue", "green", "small", "large")),
        lit(" "), pick(id, 5, Seq("widget", "bolt", "ring", "case", "spring")))
        .as("p_name"),
      concat(lit("Brand#"), h(id, 7, 25) + 1).as("p_brand"),
      pick(id, 11, Seq("STANDARD", "LARGE", "MEDIUM", "PROMO", "SMALL"))
        .as("p_type"),
      (h(id, 13, 50) + 1).cast("int").as("p_size"),
      (h(id, 17, 190000) / 100.0 + 100.0).as("p_retailprice")))
    out("events", spark.range(0, nEvents).select((id + 1).as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        h(id, 23, 30L * 86400) * 1000000L).as("ts"),
      (h(id, 29, nCust) + 1).as("user_id"),
      pick(id, 31, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      (h(id, 37, 100000) / 100.0).as("value"),
      concat(lit("{\"k\": "), h(id, 41, 100), lit("}")).as("props")))

    // documents: clusters of 10 share lang/source and 53 of 54 tokens
    val base = col("doc_id") % (nDocs / 10)
    out("documents", spark.range(0, nDocs).select(id.as("doc_id"))
      .select(col("doc_id"),
        pick(base, 1, Seq("de", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), h(base, 2, 20)).as("source"),
        concat_ws(" ", concat(lit("u"), col("doc_id")) +: (1 to 53).map { i =>
          val t = pmod(hash(base * 101 + lit(i * 7), s), lit(3000))
          concat(lit("w"), when(pmod(t, lit(3)) === 0, pmod(t, lit(30)))
            .otherwise(t))
        }: _*).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars"))

    // embeddings: 64-dim float32, 50 per centre, centred components
    // (±0.5 centre, ±0.01 jitter) like the real fixtures
    out("embeddings", spark.range(0, nVecs).select(id.as("vec_id"))
      .withColumn("c", col("vec_id") % (nVecs / 50))
      .withColumn("label", pmod(hash(col("c"), s), lit(10)).cast("int"))
      .withColumn("embedding", expr(
        s"transform(sequence(1, 64), d -> CAST(" +
          s"(pmod(hash(c * 131 + d, ${seed}L), 1000) / 1000.0 - 0.5) + " +
          s"(pmod(hash(vec_id * 17 + d, ${seed}L), 100) / 5000.0 - 0.01) AS FLOAT))"))
      .select("vec_id", "embedding", "label"))

    out("orders", spark.range(0, nOrders).select((id + 1).as("o_orderkey"),
      (h(id, 31, nCust) + 1).as("o_custkey"),
      pick(id, 7, Seq("O", "F", "P")).as("o_orderstatus"),
      (h(id, 11, 900000) / 100.0 + 100.0).as("o_totalprice"),
      timestamp_micros(lit(788918400000000L) +
        h(id, 43, 2400L * 86400) * 1000000L).as("o_orderdate"),
      pick(id, 47, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    out("lineitem", spark.range(0, nLines).select(
      expr("id DIV 4 + 1").as("l_orderkey"),
      (h(id, 53, nPart) + 1).as("l_partkey"),
      (h(id, 13, nSupp) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (h(id, 59, 50) + 1).cast("double").as("l_quantity"),
      (h(id, 29, 500000) / 100.0 + 1.0).as("l_extendedprice"),
      (h(id, 61, 11) / 100.0).as("l_discount"),
      (h(id, 67, 9) / 100.0).as("l_tax"),
      pick(id, 71, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 73, Seq("F", "O")).as("l_linestatus"),
      timestamp_micros(lit(789004800000000L) +
        h(id, 79, 2450L * 86400) * 1000000L).as("l_shipdate")))
  }
}
