package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.LogSchema

/** Read-side query surface over a log directory (SURVEY §2.6, Q1–Q9).
  *
  * A thin, composable layer: every method returns a lazy DataFrame so
  * Catalyst plans the whole pipeline (scan → pushed filter → JSON project)
  * as one job. Reading the partitioned directory gets partition discovery,
  * pruning, predicate pushdown and column pruning for free.
  */
final class LogTable private (val df: DataFrame) {

  /** Q2: typed payload projection. */
  def parsed: DataFrame =
    df.withColumn("p", from_json(col("payload"), LogSchema.payloadSchema))

  /** Schemaless payload projection via Spark 4 VariantType (SURVEY §1.2):
    * `parse_json` once, then `variant_get` paths on demand — no declared
    * schema, binary-encoded traversal (far cheaper than repeated
    * `get_json_object` string parses when many paths are extracted).
    */
  def parsedVariant: DataFrame =
    df.withColumn("v", parse_json(col("payload")))

  /** Q1: filter by event type (pushed to the parquet scan). */
  def byEventType(types: String*): LogTable =
    new LogTable(df.filter(col("event_type").isin(types: _*)))

  /** Q7: per-event-type counts. The result has at most one row per
    * `EventType`, so it is sorted in one partition: no range exchange,
    * and no sampling job to plan one.
    */
  def eventCounts: DataFrame =
    df.groupBy("event_type").agg(count(lit(1)).as("n"))
      .coalesce(1).orderBy("event_type")

  /** Q6: distinct event types, sorted in one partition like
    * [[eventCounts]].
    */
  def distinctEventTypes: DataFrame =
    df.select("event_type").distinct().coalesce(1).orderBy("event_type")

  /** Q2+Q3 composed: token usage per custom_id with null-safe defaults
    * (README.md:221-224, examples/batch_run_example.py:100-130).
    */
  def tokenUsageByCustomId: DataFrame =
    byEventType("llm_end").parsed
      .select(
        col("custom_id"),
        coalesce(col("p.data.usage_metadata.total_tokens"),
          element_at(col("p.data.usage"), "total_tokens"),
          lit(0L)).as("total_tokens"))
      .groupBy("custom_id")
      .agg(sum("total_tokens").as("total_tokens"), count(lit(1)).as("n_calls"))
      .orderBy("custom_id")

  /** Error drill-down: per error type, how many failures, how many
    * logical ids they span, and a representative (max) message — the
    * "what broke overnight" query over the payload error struct
    * (reference logger.py:180-186 error capture).
    */
  def errorsByType: DataFrame =
    parsed
      .filter(col("p.data.error.message").isNotNull)
      .groupBy(col("p.data.error.type").as("error_type"))
      .agg(count(lit(1)).as("n_errors"),
        countDistinct(col("custom_id")).as("n_custom"),
        max(col("p.data.error.message")).as("worst_message"))
      .orderBy("error_type")

  /** Q5: all events of one trace: run itself + direct children
    * (AGENTS.md:237-258 semantics).
    */
  def trace(runId: String): DataFrame =
    df.filter(col("run_id") === runId || col("parent_run_id") === runId)

  /** Q5: root events (no parent — empty string, never null). */
  def roots: DataFrame = df.filter(col("parent_run_id") === "")

  /** Q5: direct children of a run. */
  def childrenOf(runId: String): DataFrame =
    df.filter(col("parent_run_id") === runId)

  /** Q5 whole-table form: every run resolved to its root, depth, and full
    * root→run path ([[graft.ops.RunTree.resolve]] pointer jumping over the
    * distinct (run_id, parent_run_id) pairs — ⌈log₂ depth⌉ shuffle rounds
    * for ALL traces at once, where per-trace [[subtree]] BFS pays depth
    * rounds per trace). The frame trace-level analytics joins against.
    */
  def runTrees: DataFrame =
    graft.ops.RunTree.resolve(
      df.select("run_id", "parent_run_id").distinct(),
      "run_id", "parent_run_id")

  /** Q5: full subtree via iterative BFS self-join (levels of the run-id
    * hierarchy). Each level is one broadcast-able semi-join of the log
    * against the previous frontier; `maxDepth` bounds the iteration.
    */
  def subtree(runId: String, maxDepth: Int = 10): DataFrame = {
    // eager localCheckpoint per level truncates the growing BFS plan
    // (persist alone would cache data but leave Catalyst re-analyzing an
    // ever-deeper join tree each level)
    var frontier = df.filter(col("run_id") === runId)
      .select(col("run_id")).distinct().localCheckpoint(true)
    var acc = df.filter(col("run_id") === runId).localCheckpoint(true)
    var depth = 0
    var grew = true
    while (grew && depth < maxDepth) {
      val children = df.join(
        broadcast(frontier.withColumnRenamed("run_id", "__parent")),
        col("parent_run_id") === col("__parent"))
        .drop("__parent")
      val newFrontier = children.select("run_id").distinct().localCheckpoint(true)
      val n = newFrontier.limit(1).count()
      if (n == 0) grew = false
      else {
        acc = acc.unionByName(children)
          .dropDuplicates("run_id", "event_type", "timestamp")
          .localCheckpoint(true)
        frontier = newFrontier
        depth += 1
      }
    }
    acc
  }
}

object LogTable {
  /** S5: recursive read of a partitioned log directory. */
  def read(spark: SparkSession, dir: String): LogTable =
    new LogTable(spark.read.schema(
      LogSchema.schema.add("date", org.apache.spark.sql.types.DateType))
      .parquet(dir))

  /** Typed view of an incrementally maintained [[ShreddedLog]] store:
    * payload fields as real columns, no JSON parsing in any downstream
    * plan. Maintain with `ShreddedLog.appendNew(spark, logDir, shredDir)`
    * per ingest batch.
    */
  def shredded(spark: SparkSession, shredDir: String): DataFrame =
    ShreddedLog.read(spark, shredDir)

  /** Token-usage rollup (same contract as
    * [[LogTable.tokenUsageByCustomId]]) answered from the SHREDDED
    * store when one has been maintained beside the log — typed columns,
    * zero JSON machinery in the plan (asserted in ShreddedLogSpec) —
    * and by parse-on-read otherwise. Same output either path, so
    * standing dashboards route here and transparently stop paying the
    * per-query JSON parse the moment the store exists; at 100 TB the
    * parse is the read side's dominant CPU cost.
    */
  def tokenUsagePreferShredded(
      spark: SparkSession, logDir: String, shredDir: String): DataFrame =
    if (ShreddedLog.exists(spark, shredDir))
      ShreddedLog.read(spark, shredDir)
        .filter(col("event_type") === "llm_end")
        .select(col("custom_id"),
          coalesce(col("total_tokens"),
            element_at(col("usage"), "total_tokens"),
            lit(0L)).as("total_tokens"))
        .groupBy("custom_id")
        .agg(sum("total_tokens").as("total_tokens"),
          count(lit(1)).as("n_calls"))
        .orderBy("custom_id")
    else read(spark, logDir).tokenUsageByCustomId

  /** [[LogTable.errorsByType]] preferring the shredded store — same
    * routing rule as [[tokenUsagePreferShredded]].
    */
  def errorsPreferShredded(
      spark: SparkSession, logDir: String, shredDir: String): DataFrame =
    if (ShreddedLog.exists(spark, shredDir))
      ShreddedLog.read(spark, shredDir)
        .filter(col("error_message").isNotNull)
        .groupBy(col("error_type"))
        .agg(count(lit(1)).as("n_errors"),
          countDistinct(col("custom_id")).as("n_custom"),
          max(col("error_message")).as("worst_message"))
        .orderBy("error_type")
    else read(spark, logDir).errorsByType

  def apply(df: DataFrame): LogTable = new LogTable(df)
}
