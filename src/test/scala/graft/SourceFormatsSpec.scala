package graft

import org.apache.spark.sql.functions._

/** SURVEY §2.1 source/sink coverage beyond parquet: CSV, JSON and ORC
  * round-trips must preserve the data the relational operators run
  * on, and the flagship aggregate must produce identical results over
  * every format (format is an I/O concern, not a semantics one).
  * Parquet is exercised by Verify itself on every t2 run.
  */
class SourceFormatsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"fmt_$tag").toString + "/out"

  private val orders = ops.core.t(spark, sf, "orders")

  test("csv round-trip preserves orders rows (header + explicit schema)") {
    val dir = tmp("csv")
    orders.write.option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(dir)
    val back = spark.read.option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(orders.schema).csv(dir)
    assert(back.count() == orders.count())
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty,
      "csv round-trip changed rows")
  }

  test("json round-trip preserves orders rows") {
    val dir = tmp("json")
    orders.write.json(dir)
    val back = spark.read.schema(orders.schema).json(dir)
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty,
      "json round-trip changed rows")
  }

  test("orc round-trip preserves orders rows") {
    val dir = tmp("orc")
    orders.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty,
      "orc round-trip changed rows")
  }

  test("flagship aggregate is format-independent (parquet == orc == json)") {
    val dirO = tmp("agg_orc"); val dirJ = tmp("agg_json")
    val li = ops.core.t(spark, sf, "lineitem")
    li.write.orc(dirO); li.write.json(dirJ)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(ops.core.cents($"l_extendedprice")).as("sum_price_c"))
      .orderBy($"l_returnflag", $"l_linestatus")
      .collect().toSeq
    val fromParquet = agg(li)
    assert(agg(spark.read.orc(dirO)) == fromParquet)
    assert(agg(spark.read.schema(li.schema).json(dirJ)) == fromParquet)
  }

  test("orc reader prunes columns and pushes predicates like parquet") {
    val dir = tmp("orc_push")
    orders.write.orc(dir)
    val q = spark.read.orc(dir)
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_totalprice")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"ORC pushdown missing:\n$scan")
    assert(q.count() > 0)
  }
}
