package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.functions.DotProduct
import graft.ops.LlmOps

/** Custom codegen'd Catalyst expression: correctness (bit-identical
  * to the interpreted HOF form), null behavior, and plan shape.
  */
class DotProductSpec extends SparkSuite {

  test("graft_dot is bit-identical to the aggregate(zip_with(...)) HOF") {
    import spark.implicits._
    val e = LlmOps.normed(spark, sf).select($"vec_id", $"emb").limit(50)
    val a = e.select($"vec_id".as("a_id"), $"emb".as("a_emb"))
    val b = e.select($"vec_id".as("b_id"), $"emb".as("b_emb"))
    val pairs = a.crossJoin(b)
      .withColumn("hof",
        expr("aggregate(zip_with(a_emb, b_emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
      .withColumn("fast", DotProduct.dot($"a_emb", $"b_emb"))
    // bit-identical, not approximately equal: same summation order
    assert(pairs.filter($"hof" =!= $"fast").count() == 0)
  }

  test("the array<double> cast equals the per-element CAST lambda bit for bit, codegen and interpreted") {
    import spark.implicits._
    import java.lang.Float.{MAX_VALUE => FMax, MIN_VALUE => FSub}
    val vecs: Seq[Option[Seq[java.lang.Float]]] = Seq(
      Some(Seq(Float.NaN, 0.0f, -0.0f, FSub, -FSub, 1.0e-40f, FMax, -FMax)
        .map(Float.box)),
      Some(Seq(Float.box(1.5f), null, Float.box(-2.25f))),
      None,
      Some(Seq.empty))
    val dir = tempDir("graft_castspec").resolve("v").toString
    vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "embedding")
      .write.parquet(dir)
    def bits(xs: Seq[Any]): Seq[Option[Long]] = xs.map(x =>
      Option(x).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])))
    def both(mode: String, wholeStage: String): Seq[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])] =
      ops.core.withConf(spark, "spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        spark.read.parquet(dir)
          .select($"id", $"embedding".cast("array<double>").as("c"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("l"))
          .orderBy($"id").collect().toSeq
          .map(r => (Option(r.getSeq[Any](1)).map(bits), Option(r.getSeq[Any](2)).map(bits)))
      }
    val codegen = both("CODEGEN_ONLY", "true")
    val interpreted = both("NO_CODEGEN", "false")
    assert(codegen.map(_._1) == codegen.map(_._2))
    assert(interpreted.map(_._1) == interpreted.map(_._2))
    assert(codegen == interpreted)
    // the edge values did reach the comparison
    val first = codegen.head._1.get
    assert(first.size == 8 && first.forall(_.isDefined))
    assert(first(1) != first(2), "+0.0 and -0.0 keep their sign bits")
    assert(codegen(1)._1.get(1).isEmpty && codegen(2)._1.isEmpty)
  }

  test("graft_dot interpreted eval matches codegen result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val x = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayType(DoubleType))
    val y = Literal.create(ArrayData.toArrayData(Array(4.0, 0.5, -1.0)),
      ArrayType(DoubleType))
    val got = DotProduct(x, y).eval(null).asInstanceOf[Double]
    assert(got == 1.0 * 4.0 + 2.0 * 0.5 + 3.0 * (-1.0))
  }

  test("graft_dot registered for SQL use") {
    DotProduct.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1D, 2D), array(3D, 4D)) AS d").head().getDouble(0)
    assert(r == 11.0)
  }

  test("null input yields null (nullIntolerant)") {
    DotProduct.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS d").head()
    assert(r.isNullAt(0))
  }

  test("cosine plan: dot inlined, top-k pushed below the shuffle") {
    val df = LlmOps.qSimCosineTopk(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val txt = plan.toString
    // the custom expression evaluates inline in a Project, not a UDF
    assert(txt.contains("graft_dot("), s"graft_dot not inlined in:\n$txt")
    // row_number()<=5 must be pushed into the window sort
    // (WindowGroupLimit Partial before the exchange + Final after), so
    // only <=5 rows per vector cross the shuffle — the property that
    // keeps this plan viable when n² pairs get large
    assert(txt.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown in:\n$txt")
    assert(txt.contains("Partial"), "expected partial (map-side) group limit")
    // small side broadcast, no shuffle for the pair join
    assert(txt.contains("BroadcastNestedLoopJoin"),
      "expected broadcast pair join")
  }
}
