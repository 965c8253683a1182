package graft

import org.apache.spark.sql.functions._

import graft.ops.{core, Pipeline}

/** The composite training-data pipeline: stage-by-stage monotonicity,
  * determinism, and the partitioned output layout.
  */
class PipelineSpec extends SparkSuite {

  test("stages only ever remove or annotate rows, never invent them") {
    val docs = core.t(spark, sf, "documents")
    val n0 = docs.count()
    val g = Pipeline.qualityGate(docs); val n1 = g.count()
    val d = Pipeline.exactDedup(g); val n2 = d.count()
    val p = Pipeline.nearDupPrune(d); val n3 = p.count()
    val a = Pipeline.annotate(p); val n4 = a.count()
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3)
    assert(n4 == n3, "annotation must preserve row count")
    assert(n3 > 0, "pipeline must not drop everything")
  }

  test("pipeline is deterministic end to end") {
    val a = Pipeline.run(spark, sf).orderBy("doc_id").collect().map(_.toString)
    val b = Pipeline.run(spark, sf).orderBy("doc_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("near-dup prune keeps the smaller doc_id of a candidate pair") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta", "en"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta", "en"), // exact dup
      (30L, "one two three four five six seven eight", "en"))
      .toDF("doc_id", "text", "lang")
    val kept = Pipeline.nearDupPrune(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 30L), s"got $kept")
  }

  test("partitioned output lays out lang=/split= directories") {
    val out = tempDir("graft_pipe").toString
    val res = Pipeline.run(spark, sf, Some(out))
    val back = spark.read.parquet(out)
    assert(back.count() == res.count())
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(langDirs.forall(_.startsWith("lang=")))
    val splits = back.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val")) && splits.contains("train"))
  }
}
