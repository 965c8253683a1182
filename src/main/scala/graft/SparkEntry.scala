package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's entry points — see SURVEY.md §7.
  *
  * Every operator key from SURVEY §2 registers once, in its family's
  * `keys` (`graft.ops.*`, by category): a DataFrame builder and, when
  * DuckDB-expressible, matching ANSI SQL. `queries` and `oracleSql`
  * are derived from those lists.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.qAggGroupby(spark, "/root/testdata/sf0.001")

  /** Every operator family, listed once. */
  val families: Seq[ops.core.Family] = Seq(ops.Relational, ops.Windows,
    ops.Aggregates, ops.Scalars, ops.Streaming, ops.LlmOps, ops.TrainingOps,
    ops.Pipeline, ops.Corpus, ops.Graph, ops.Clustering, ops.Storage)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] = families.flatMap(_.oracle).toMap
}
