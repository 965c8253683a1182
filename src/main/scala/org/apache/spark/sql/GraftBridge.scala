package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters, so graft's custom Catalyst expressions can surface as
  * ordinary `Column`s. Lives in the org.apache.spark.sql package by
  * design — the standard pattern for third-party Catalyst extensions
  * built against Spark 4's sealed Column API.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-tag a batch frame's leaf relations as streaming — what a DSv1
    * streaming `Source.getBatch` must return (MicroBatchExecution
    * asserts `isStreaming` on the returned plan; FileStreamSource
    * builds its `LogicalRelation(…, isStreaming = true)` the same
    * way). The relation itself is untouched, so the parquet columnar
    * scan, column pruning, and predicate pushdown all survive.
    */
  def tagStreaming(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val analyzed = df.queryExecution.analyzed
    val tagged = analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming =>
        lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], tagged)
  }

  /** An empty frame whose plan is streaming-tagged — the shape a DSv1
    * source returns for a content-neutral offset range.
    */
  def emptyStreamingFrame(s: SparkSession,
                          schema: types.StructType): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[catalyst.InternalRow], schema,
      isStreaming = true)
  }

  /** Build a DSv2 [[org.apache.spark.sql.connector.read.ScanBuilder]]
    * over an explicit parquet file list — Spark's own `ParquetTable`
    * (vectorized reader, row-group/page pruning, file-size-balanced
    * partitions), which the txlog DSv2 table delegates its data plane
    * to after log-level file skipping. `ParquetTable` lives in
    * `execution.datasources.v2` (private[sql] space), hence bridged.
    */
  def parquetScanBuilder(s: SparkSession, files: Seq[String],
      schema: types.StructType): connector.read.ScanBuilder = {
    import scala.jdk.CollectionConverters._
    val opts = new util.CaseInsensitiveStringMap(
      Map.empty[String, String].asJava)
    execution.datasources.v2.parquet.ParquetTable(
      "txlog-data", s.asInstanceOf[classic.SparkSession], opts, files,
      Some(schema),
      classOf[execution.datasources.parquet.ParquetFileFormat])
      .newScanBuilder(opts)
  }

  /** Push RESOLVED Catalyst predicates into a file-source scan builder
    * (`SupportsPushDownCatalystFilters` is private[sql]). Returns the
    * post-scan filters the builder could not fully handle; a builder
    * that doesn't speak Catalyst filters gets nothing pushed (the
    * caller re-applies everything anyway).
    */
  def pushCatalystFilters(b: connector.read.ScanBuilder,
      exprs: Seq[Expression]): Seq[Expression] = b match {
    case c: internal.connector.SupportsPushDownCatalystFilters =>
      c.pushFilters(exprs)
    case _ => exprs
  }

  /** A DSv2 parquet [[connector.write.WriteBuilder]] targeting `dir` —
    * Spark's own distributed parquet write path (per-task writers +
    * Hadoop commit protocol), which the txlog DSv2 write stages
    * through before its metadata commit.
    */
  def parquetWriteBuilder(s: SparkSession, dir: String,
      info: connector.write.LogicalWriteInfo): connector.write.WriteBuilder = {
    import scala.jdk.CollectionConverters._
    val opts = new util.CaseInsensitiveStringMap(
      Map.empty[String, String].asJava)
    execution.datasources.v2.parquet.ParquetTable(
      "txlog-stage", s.asInstanceOf[classic.SparkSession], opts, Seq(dir),
      Some(info.schema),
      classOf[execution.datasources.parquet.ParquetFileFormat])
      .newWriteBuilder(info)
  }

  /** The inverse of [[tagStreaming]], for a DSv1 `Sink.addBatch`: the
    * frame the engine hands a sink is streaming-tagged, so batch
    * writers (`df.write`, TxLog.stage) refuse it — re-expose the
    * micro-batch's rows as a plain batch frame over the SAME physical
    * plan (one execution, no extra materialization; the MemorySink /
    * Delta-sink pattern).
    */
  def asBatch(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Schema of the parquet table at `path` (a file, or a flat
    * directory of part files), read from one footer on the driver: no
    * Spark job, where `spark.read.parquet(path)` without a schema runs
    * one to infer it. It is what Spark's non-merging inference returns
    * — the footer of the first data file in path order, converted
    * under the session's current SQL conf (so `nanosAsLong` still
    * applies) and made nullable as every file-source read makes it.
    * Partitioned trees are not covered: their data files sit below
    * the top-level listing.
    */
  def parquetSchema(s: SparkSession, path: String): types.StructType = {
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val state = s.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val first = parquetDataFiles(conf, path).head
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, parquetMetadata(HadoopInputFile.fromStatus(first, conf))),
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** Row count of the parquet table at `path`: the block row counts of
    * every data file's footer, summed on the driver with no Spark job.
    */
  def parquetRows(s: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    parquetDataFiles(conf, path).iterator
      .flatMap(f => parquetMetadata(HadoopInputFile.fromStatus(f, conf)).getBlocks.asScala)
      .map(_.getRowCount).sum
  }

  /** The data files at `path` in path order, skipping `_*` and `.*`
    * names (`_SUCCESS`, checksums) as Spark's file index does; one
    * listing, whose statuses the footer reads reuse.
    */
  private def parquetDataFiles(conf: org.apache.hadoop.conf.Configuration,
      path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(conf).listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.toString)
    require(files.nonEmpty, s"no parquet data files at $path")
    files
  }

  /** One parquet file's footer — the one footer open shared by the
    * fixture reads above and `TxLog.footerStats`.
    */
  def parquetMetadata(in: org.apache.parquet.io.InputFile)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  /** `FieldReference.column` — `private[sql]` in Spark, needed to
    * declare runtime-filter attributes on a DSv2 scan.
    */
  def fieldRef(name: String): connector.expressions.NamedReference =
    connector.expressions.FieldReference.column(name)

  /** Extract a `connector.expressions.LiteralValue` (`private[sql]`):
    * the catalyst-typed value + its DataType, as handed to
    * `SupportsRuntimeV2Filtering.filter` inside IN predicates.
    */
  def literalValue(e: connector.expressions.Expression)
      : Option[(Any, types.DataType)] = e match {
    case l: connector.expressions.LiteralValue[_] =>
      Some((l.value, l.dataType))
    case _ => None
  }

  /** Expose a COMPUTED batch frame as one streaming-tagged leaf — for
    * a DSv1 `Source.getBatch` whose rows are derived by a multi-
    * relation plan (joins/exceptAll over several file sets, e.g. the
    * txlog change feed). [[tagStreaming]] would tag every leaf
    * relation and turn the plan's own joins into stream-stream joins
    * (wrong semantics, watermark demands); wrapping the WHOLE plan as
    * one lazy RDD leaf keeps it a batch computation that merely FEEDS
    * the stream. The inner plan loses whole-plan visibility to the
    * streaming planner (fine for change-sized batches); nothing
    * executes until the micro-batch runs.
    */
  def asStream(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}
