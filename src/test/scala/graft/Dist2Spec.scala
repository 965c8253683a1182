package graft

import org.apache.spark.sql.functions._

import graft.functions.Dist2
import graft.ops.LlmOps

/** r14 optimization pin: the codegen'd squared-L2 expression that
  * replaced the interpreted HOF form in Clustering's d² must be
  * BIT-identical to it — the clustering/PQ/semantic keys rank raw d²
  * folds, so any ULP drift would flip argmin ties and break the
  * DuckDB oracle hash.
  */
class Dist2Spec extends SparkSuite {

  test("graft_dist2 is bit-identical to the aggregate(zip_with(...)) HOF") {
    import spark.implicits._
    val e = LlmOps.normed(spark, sf).select($"vec_id", $"emb").limit(50)
    val a = e.select($"vec_id".as("a_id"), $"emb".as("a_emb"))
    val b = e.select($"vec_id".as("b_id"), $"emb".as("b_emb"))
    val pairs = a.crossJoin(b)
      .withColumn("hof",
        expr("aggregate(zip_with(a_emb, b_emb, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"))
      .withColumn("fast", Dist2.dist2($"a_emb", $"b_emb"))
    // bit-identical, not approximately equal: same per-element
    // arithmetic in the same left-to-right order
    assert(pairs.filter($"hof" =!= $"fast").count() == 0)
  }

  test("graft_dist2 interpreted eval matches the hand-computed fold") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val xs = Array(1.0, 2.5, -3.0, 1e-300)
    val ys = Array(4.0, 0.5, -1.25, -1e-300)
    val x = Literal.create(ArrayData.toArrayData(xs), ArrayType(DoubleType))
    val y = Literal.create(ArrayData.toArrayData(ys), ArrayType(DoubleType))
    val got = Dist2(x, y).eval(null).asInstanceOf[Double]
    var want = 0.0
    var i = 0
    while (i < xs.length) {
      val d = xs(i) - ys(i)
      want += d * d
      i += 1
    }
    // exact double equality — identical IEEE op sequence
    assert(java.lang.Double.doubleToRawLongBits(got) ==
      java.lang.Double.doubleToRawLongBits(want))
  }

  test("graft_dist2 registered for SQL use; null yields null") {
    Dist2.register(spark)
    val r = spark.sql(
      "SELECT graft_dist2(array(1D, 2D), array(3D, 4D)) AS d").head().getDouble(0)
    assert(r == 8.0) // (1-3)² + (2-4)² = 8
    val n = spark.sql(
      "SELECT graft_dist2(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS d").head()
    assert(n.isNullAt(0))
  }

  test("kmeans plan: graft_dist2 inlined in the assignment Project") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = ops.Clustering.qMlKmeans(spark, sf)
    ops.core.withCaches(spark) {
      df.count()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val txt = plan.toString
      assert(txt.contains("graft_dist2("),
        s"graft_dist2 not inlined in:\n$txt")
    }
    spark.catalog.clearCache()
  }
}
