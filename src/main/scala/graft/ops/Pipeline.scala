package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import core._

/** End-to-end training-data pipeline composing the engine's operators
  * into the shape a 100 TB corpus run takes: ingest → quality filter →
  * exact dedup → near-dup candidate pruning → language tagging →
  * tokenize/count → deterministic sample split → partitioned write.
  *
  * Every stage is a declarative DataFrame transform (single Catalyst
  * plan until the write), so Catalyst fuses the filters and the only
  * materialization points are the aggregation/join shuffles the
  * semantics require.
  */
object Pipeline extends Family {

  /** Stage 1: quality gate — drop low-lexical-diversity and too-short
    * docs (thresholds are pipeline parameters).
    */
  def qualityGate(docs: DataFrame, minTokens: Long = 15,
      minDistinctRatio: Double = 0.3): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("n_distinct", size(array_distinct($"toks")).cast("long"))
      .filter($"n_tokens" >= minTokens &&
        $"n_distinct" >= $"n_tokens" * minDistinctRatio)
      .drop("toks")
  }

  /** Stage 2: exact dedup keyed on md5(text) — single pass over the
    * bytes and effectively collision-free (the 1e9-space rolling hash
    * of `q_text_fingerprint` would silently merge distinct docs at
    * corpus scale by the birthday bound). Smallest doc_id survives.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    docs
      .withColumn("fp", md5(encode($"text", "UTF-8")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn", "fp")
  }

  /** Stage 3: near-dup pruning — from each MinHash-LSH candidate
    * pair, drop the larger doc_id (keep-first policy). Candidate
    * generation is shared with [[LlmOps.qDedupMinhash]].
    */
  def nearDupPrune(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val losers = LlmOps.minhashCandidatePairs(
        LlmOps.minhashSignatures(docs).transform(core.cached))
      .select($"b_id".as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Stage 4: annotate each surviving doc with its deterministic
    * train/val split (token stats were added by the quality gate).
    */
  def annotate(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split", when($"bucket" < 90, "train").otherwise("val"))
      .drop("bucket")
  }

  /** Full pipeline; `outDir` optional — when set, writes the result
    * partitioned by (lang, split) for pruned downstream reads.
    */
  def run(spark: SparkSession, dir: String, outDir: Option[String] = None)
      : DataFrame = {
    val docs = t(spark, dir, "documents")
    val cleaned = annotate(nearDupPrune(exactDedup(qualityGate(docs))))
    outDir match {
      case Some(o) =>
        cleaned.write.partitionBy("lang", "split").mode("overwrite").parquet(o)
        // hand back the written data — a caller action must not
        // recompute the whole chain; inferred, not core.parquet: the
        // partitionBy columns live in directory names, not the footers
        spark.read.parquet(o)
      case None => cleaned
    }
  }

  /** The composed pipeline as an oracle-checked key: quality gate →
    * md5 exact dedup → deterministic split, reduced to per-(lang,
    * split) counts and token totals. Proves the STAGES COMPOSE
    * deterministically, not just pass their unit tests — every stage
    * is plain SQL in DuckDB. [[nearDupPrune]] is deliberately absent:
    * its MinHash signatures are xxhash64-based (no DuckDB twin), so
    * its coverage stays with `q_dedup_minhash`'s property tests and
    * PipelineSpec; the other three stages are checked composed.
    */
  def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    annotate(exactDedup(qualityGate(t(s, dir, "documents"))))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"n_distinct").as("sum_distinct"))
      .orderBy($"lang", $"split")
  }

  val keys: Seq[Key] = Seq(
    Key("q_pipeline_e2e", qPipelineE2e,
      """WITH gated AS (
        |  SELECT doc_id, text, lang,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 15
        |    AND len(list_distinct(string_split(text, ' ')))
        |        >= len(string_split(text, ' ')) * 0.3),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gated)
        |  WHERE rn = 1),
        |split AS (
        |  SELECT lang, n_tokens, n_distinct,
        |    CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |              ::BIGINT % 100 < 90
        |         THEN 'train' ELSE 'val' END AS split
        |  FROM deduped)
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_distinct) AS BIGINT) AS sum_distinct
        |FROM split GROUP BY 1, 2 ORDER BY lang, split""".stripMargin))
}
