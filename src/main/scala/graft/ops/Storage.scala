package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Partitioned storage layout: hive-style `partitionBy` write plus the
  * two read-side pruning mechanisms every 100 TB table lives by —
  * static partition pruning (a literal predicate on the partition
  * column never touches other partitions' files) and dynamic partition
  * pruning (a selective dim-side filter prunes fact partitions at
  * RUNTIME via a broadcast-reused subquery).
  *
  * Capability contract: /root/reference/README.md:2 ("transformations
  * on ... collections") — at warehouse scale a collection IS a
  * partitioned directory tree, and pruning is what makes reading it
  * tractable. This key converts SURVEY §4.1's "DPP — inert here
  * (single-file fixtures)" row into tested capability.
  *
  * Scale shape: the write repartitions BY the partition column first,
  * so each date's rows land in one task → one file per partition dir
  * instead of (tasks × partitions) small files — the production
  * layout-job shape (at 100 TB you'd add `repartitionByRange` on
  * (event_date, graft_zorder(...)) for intra-partition clustering;
  * `q_zorder_layout` audits that key). The read is a broadcast join
  * whose fact-side scan carries both `PartitionFilters` and a
  * `dynamicpruning` subquery — asserted in StorageLayoutSpec.
  */
object Storage {

  /** One layout write per (fixture dir) per JVM — the written tree is
    * deterministic, so re-running a key re-reads, never re-writes.
    */
  private val written = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Peak-date rule shared by dim-write and oracle: day-offset from
    * 2024-01-01 ≡ 5 (mod 7) — 4 of the fixtures' 30 dates, selective
    * enough that an unpruned scan is visibly wrong in the spec's
    * numFiles assertion.
    */
  private val peakRule = (d: org.apache.spark.sql.Column) =>
    datediff(d, to_date(lit("2024-01-01"))) % 7 === 5

  /** Write (once) the hive-partitioned events tree + a small date dim
    * whose `peak` flag is data — NOT statically derivable by Catalyst
    * from the fact side, so only runtime (dynamic) pruning can skip
    * fact partitions for a `peak` filter. Returns the layout root.
    *
    * The dim's dates are the `event_date=` directories the fact write
    * just created ([[partitionDates]]), listed through the Hadoop
    * `FileSystem`: one driver listing instead of a second events scan
    * and a `distinct()` shuffle. Its rows are the same set.
    */
  def layoutDir(s: SparkSession, dir: String): String =
    written.computeIfAbsent(dir, _ => {
      import s.implicits._
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_part_layout-" + dir.replaceAll("[^A-Za-z0-9.-]", "_"))
        .getAbsolutePath
      core.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .repartition(col("event_date"))
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(s"$base/events_by_date")
      partitionDates(s, s"$base/events_by_date").toDF("event_date")
        .withColumn("peak", peakRule(col("event_date")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/date_dim")
      base
    })

  /** The `event_date` values of a tree partitioned by it, from its
    * directory names (`__HIVE_DEFAULT_PARTITION__` is the null date).
    */
  private def partitionDates(s: SparkSession,
      path: String): Seq[java.time.LocalDate] = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("event_date=") =>
        n.stripPrefix("event_date=") match {
          case "__HIVE_DEFAULT_PARTITION__" => null
          case d => java.time.LocalDate.parse(d)
        }
      }
  }

  /** The doubly-pruned fact read (shared with StorageLayoutSpec's plan
    * assertions): static `event_date >=` predicate → `PartitionFilters`
    * on the scan; broadcast-joined `peak` dim filter → DPP subquery.
    * Both reads carry their schema, so building the frame runs no
    * footer-inference job: the fact is the events schema plus the
    * `event_date` partition column, the dim is read from its footer.
    */
  def prunedRead(s: SparkSession, dir: String): DataFrame = {
    val base = layoutDir(s, dir)
    val fact = s.read
      .schema(core.events(s, dir).schema.add("event_date", DateType))
      .parquet(s"$base/events_by_date")
      .filter(col("event_date") >= lit("2024-01-05").cast("date"))
    val dim = core.parquet(s, s"$base/date_dim").filter(col("peak"))
    fact.join(broadcast(dim.select(col("event_date"))), Seq("event_date"))
  }

  /** Per-type rollup over the pruned read; oracle recomputes from the
    * original single-file events table (round-trip equivalence: the
    * partitioned copy must preserve every row and value exactly).
    */
  def qPartLayout(s: SparkSession, dir: String): DataFrame = {
    prunedRead(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(core.cents(col("value"))).as("sum_c"),
        countDistinct(col("event_date")).as("n_days"))
      .orderBy(col("event_type"))
  }

  /** Write (once) a two-generation parquet dir: generation 1 files
    * lack the `quality_c` column that generation 2 adds — the shape a
    * recurring-ingest table takes the week a new scoring stage ships.
    * Generations split deterministically on doc_id parity so the
    * oracle can recompute from the unevolved source table.
    */
  def evolvedDir(s: SparkSession, dir: String): String =
    written.computeIfAbsent(dir + "#evo", _ => {
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_schema_evo-" + dir.replaceAll("[^A-Za-z0-9.-]", "_"))
        .getAbsolutePath
      val docs = core.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(base)
      docs.filter(col("doc_id") % 2 === 1)
        .withColumn("quality_c", (col("n_chars") % 997).cast("long"))
        .coalesce(1).write.mode("append").parquet(base)
      base
    })

  /** Read across the evolution boundary with `mergeSchema` (footer
    * union — fine at fixture scale) and aggregate per lang; pre-
    * evolution rows surface `quality_c` as NULL, which null-skipping
    * `count`/`sum` handle exactly. 100 TB posture (pinned in
    * SchemaEvolutionSpec): mergeSchema is an O(files) footer sweep —
    * a production table supplies ONE explicit unified schema via
    * `read.schema(...)`, which Spark applies by name with nulls for
    * absent columns; both reads are asserted identical. All outputs
    * are exact integers — no double summation across the boundary.
    */
  def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val evolved = s.read.option("mergeSchema", "true")
      .parquet(evolvedDir(s, dir))
    evolved.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality_c")).as("n_evolved"),
        sum(col("quality_c")).as("sum_q"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Write (once) bucketed copies of orders and lineitem: 8 buckets on
    * the join key, `sortBy` the same key, `repartition(8, key)` first
    * so each bucket is exactly ONE file (Spark trusts `sortBy` only
    * then — multi-file buckets force a re-sort). Registered in a
    * dedicated database whose LOCATION lives under tmpdir, so the
    * layout works regardless of the session's warehouse conf.
    *
    * This is the co-located-join layout: at 100 TB, bucketing both
    * fact tables on the join key at write time removes the per-query
    * shuffle entirely — the join (and any aggregation keyed on the
    * same column) runs exchange-free forever after. BucketedJoinSpec
    * asserts the sort-merge plan has ZERO exchanges below the join.
    */
  def bucketedDb(s: SparkSession, dir: String): String =
    written.computeIfAbsent(dir + "#bkt", _ => {
      val db = "graft_bkt" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val loc = new java.io.File(
        System.getProperty("java.io.tmpdir"), db).getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      // a previous JVM may have left the managed locations behind with
      // no entry in THIS session's in-memory catalog — CTAS refuses an
      // existing location, so drop both ways before writing
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      for (t <- Seq("orders_b", "lineitem_b")) {
        s.sql(s"DROP TABLE IF EXISTS $db.$t")
        fs.delete(new org.apache.hadoop.fs.Path(s"$loc/$t"), true)
      }
      core.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(8, col("o_orderkey"))
        .write.format("parquet").mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"$db.orders_b")
      core.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .repartition(8, col("l_orderkey"))
        .write.format("parquet").mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.lineitem_b")
      db
    })

  /** Large–large equi-join + same-key aggregation over the bucketed
    * copies: scan (bucketed, pre-sorted) → join → groupBy(l_orderkey)
    * all inherit HashPartitioning(orderkey, 8) from the layout — the
    * only exchange in the whole plan is the final presentation sort.
    * Oracle recomputes from the original single-file tables, so the
    * pass also proves the bucketed copy is content-faithful.
    */
  def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val db = bucketedDb(s, dir)
    s.table(s"$db.lineitem_b")
      .join(s.table(s"$db.orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(core.cents(col("l_extendedprice"))).as("rev_c"),
        max(core.cents(col("o_totalprice"))).as("total_c"))
      .filter(col("l_orderkey") % 100 === 0)
      .orderBy(col("l_orderkey"))
  }

  /** CDC MERGE (upsert + delete) applied as ONE key-shuffle: snapshot
    * and changeset union with a version tag, `row_number` over
    * (key, version DESC) keeps the newest image per key, deletes drop.
    * The changeset here is derived deterministically FROM the snapshot
    * (updates: key ≡ 0 mod 10; deletes: key ≡ 3 mod 17, winning over
    * update; inserts: key ≡ 7 mod 100 re-keyed +10⁷) so the oracle can
    * reconstruct it — in production it arrives as its own table and
    * the same plan applies: this is the merge-on-read compaction shape
    * (one sort-shuffle on the key, no driver involvement), the daily
    * primitive of every mutable 100 TB table.
    */
  /** The merge core, shared by the batch key and the streaming
    * foreachBatch upsert (StreamingMergeSpec): newest image per key
    * wins (changes outrank the snapshot), `op = "D"` rows drop.
    * `snap` columns: (o_orderkey, o_orderstatus, total_c);
    * `changes` adds `op` ∈ {U, D, I}. ONE key-shuffle total.
    */
  def mergeChanges(snap: DataFrame, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = snap.withColumn("op", lit("S")).withColumn("v", lit(0))
      .unionByName(changes.withColumn("v", lit(1)))
    all
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderkey")).orderBy(col("v").desc)))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("o_orderkey"), col("o_orderstatus"), col("total_c"))
  }

  /** The orders-derived snapshot frame qMergeUpsert merges into —
    * shared with TxLogIntegrationSpec, which replays the same merge as
    * a streaming CDC loop over a TxLog table.
    */
  private[graft] def mergeSnapshot(s: SparkSession, dir: String): DataFrame =
    core.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        core.cents(col("o_totalprice")).as("total_c"))

  /** Insert re-key offset DERIVED from the data, not a constant
    * (ADVICE r5): the smallest power of 10 above max(o_orderkey),
    * computed as '1' + one '0' per digit — pure string/integer
    * arithmetic, identical in DuckDB, and collision-free at ANY
    * snapshot scale (the fixed +1e7 collided once TPC-H sf ≳ 1.7).
    * 1-row broadcast frame; `mx` also rides along so n_inserted can
    * test `key > mx` (inserted ⟺ above every original key).
    */
  private[graft] def mergeOffset(snap: DataFrame): DataFrame =
    snap.agg(max(col("o_orderkey")).as("mx"))
      .select(col("mx"), expr(
        "CAST(concat('1', repeat('0', length(CAST(mx AS STRING)))) AS BIGINT)")
        .as("off"))

  /** The deterministic changeset (updates / deletes / inserts with an
    * `op` tag) qMergeUpsert derives from the snapshot so the oracle
    * can reconstruct it. Keys are disjoint across the three classes.
    */
  private[graft] def mergeChangeset(snap: DataFrame,
                                    off: DataFrame): DataFrame = {
    val upd = snap
      .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 3)
      .select(col("o_orderkey"), lit("F").as("o_orderstatus"),
        (col("total_c") + 500).as("total_c"), lit("U").as("op"))
    val del = snap.filter(col("o_orderkey") % 17 === 3)
      .select(col("o_orderkey"), col("o_orderstatus"), col("total_c"),
        lit("D").as("op"))
    val ins = snap.filter(col("o_orderkey") % 100 === 7)
      .crossJoin(broadcast(off))
      .select((col("o_orderkey") + col("off")).as("o_orderkey"),
        lit("O").as("o_orderstatus"),
        (col("o_orderkey") % 9973 * 100).as("total_c"), lit("I").as("op"))
    upd.union(del).union(ins)
  }

  /** The presentation aggregate over a merged table — shared between
    * the registered key and the TxLog CDC replay so "frame equality"
    * compares the same expression over both execution paths.
    */
  private[graft] def mergeSummary(merged: DataFrame,
                                  off: DataFrame): DataFrame =
    merged.crossJoin(broadcast(off))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("total_c")).as("sum_c"),
        sum(when(col("o_orderkey") > col("mx"), 1L).otherwise(0L))
          .as("n_inserted"))
      .orderBy(col("o_orderstatus"))

  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val snap = mergeSnapshot(s, dir)
    val off = mergeOffset(snap)
    val merged = mergeChanges(snap, mergeChangeset(snap, off))
    mergeSummary(merged, off)
  }

  /** Small-file compaction — the other half of layout governance
    * (`q_part_layout` writes well, this REPAIRS a table written
    * badly): a 64-file copy of events is compacted to
    * ceil(bytes / target) output files, target sized from the ACTUAL
    * byte census of the small tree (fixture target 1 MiB standing in
    * for the production 128 MiB). Returns the compacted root; the
    * registered key aggregates from the compacted copy against an
    * oracle on the original table, proving content fidelity.
    */
  def compactedDir(s: SparkSession, dir: String): String =
    written.computeIfAbsent(dir + "#cmp", _ => {
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_compact-" + dir.replaceAll("[^A-Za-z0-9.-]", "_"))
        .getAbsolutePath
      core.events(s, dir).repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val bytes = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$base/small"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      val nOut = math.max(1, math.ceil(bytes / (1024.0 * 1024)).toInt)
      s.read.parquet(s"$base/small").repartition(nOut)
        .write.mode("overwrite").parquet(s"$base/compact")
      base
    })

  def qCompactFiles(s: SparkSession, dir: String): DataFrame = {
    val base = compactedDir(s, dir)
    s.read.parquet(s"$base/compact")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(core.cents(col("value"))).as("sum_c"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_part_layout" -> (qPartLayout _),
    "q_schema_evolution" -> (qSchemaEvolution _),
    "q_join_bucketed" -> (qJoinBucketed _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_compact_files" -> (qCompactFiles _))

  val oracle: Map[String, String] = Map(
    "q_part_layout" ->
      """WITH f AS (
        |  SELECT event_type, CAST(ts AS DATE) AS event_date,
        |    CAST(round(value*100) AS BIGINT) AS v_c
        |  FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-05'
        |    AND CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) % 7 = 5)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(v_c) AS BIGINT) AS sum_c,
        |  count(DISTINCT event_date) AS n_days
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_schema_evolution" ->
      """WITH evo AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN doc_id % 2 = 1
        |         THEN CAST(n_chars % 997 AS BIGINT) END AS quality_c
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  count(quality_c) AS n_evolved,
        |  CAST(sum(quality_c) AS BIGINT) AS sum_q,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM evo GROUP BY lang ORDER BY lang""".stripMargin,
    "q_join_bucketed" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS rev_c,
        |  CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |    AS total_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey HAVING l_orderkey % 100 = 0
        |ORDER BY l_orderkey""".stripMargin,
    "q_merge_upsert" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |  FROM orders),
        |off AS (
        |  SELECT max(o_orderkey) AS mx,
        |    CAST('1' || repeat('0', length(CAST(max(o_orderkey) AS VARCHAR)))
        |      AS BIGINT) AS off
        |  FROM snap),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus, total_c FROM snap
        |  WHERE o_orderkey % 10 <> 0 AND o_orderkey % 17 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, 'F', total_c + 500 FROM snap
        |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT off FROM off), 'O',
        |    (o_orderkey % 9973) * 100
        |  FROM snap WHERE o_orderkey % 100 = 7)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(total_c) AS BIGINT) AS sum_c,
        |  CAST(sum(CASE WHEN o_orderkey > (SELECT mx FROM off)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_compact_files" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_c,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
