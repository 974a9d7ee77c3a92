package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fs, LogSchema}

/** Incrementally-maintained aggregate rollup of a sink-written log — the
  * standing-dashboard store, one rung above [[ShreddedLog]] on the
  * read-cost ladder.
  *
  * [[ShreddedLog]] removes the per-query JSON parse; a standing dashboard
  * (tokens by model per day, error counts — the reads the reference's
  * README runs daily over its logs, README.md:221-244) still re-SCANS
  * every shredded row on every refresh. This store maintains the
  * AGGREGATE instead: per source file, one partial-state row per
  * (date, model) — exact algebraic states (counts, sums, min/max) plus a
  * mergeable HLL sketch for the one non-algebraic measure (distinct
  * custom ids) — so a dashboard refresh reads O(files × models) partial
  * rows instead of O(events) log rows, and maintenance after a sink
  * flush touches only the NEW files.
  *
  * Scale shape (100 TB log, ~1M source files, ~100 models): the partial
  * table is ~10⁸ tiny rows — 10,000× smaller than the log — hive-
  * partitioned by `date`, so a 30-day dashboard prunes to 30 partitions
  * and the final merge is a broadcast-sized aggregation. Maintenance is
  * per-new-file work: the same `date=/src=` dynamic-overwrite idempotence
  * as the shredded store (a replayed file's partials overwrite
  * themselves, never double-count — the checkpointed-resume semantics of
  * reference tests/test_background_retrieval.py:152-180 applied to
  * aggregates).
  *
  * Merge algebra: COUNT/SUM partials merge by SUM, MIN/MAX by MIN/MAX,
  * HLL sketches by `hll_union_agg` — all associative, so [[read]] can
  * serve ANY grain at or above (date, model) from the same partials.
  * AVG is served as SUM/COUNT at read time; it is deliberately not a
  * stored state.
  */
object LogRollup {

  /** Partial-state rows for a shredded slice: one row per
    * (date, src, model). `src` is the per-source-file idempotence key
    * [[ShreddedLog.shred]] stamps; `date` is derived from the event
    * timestamp, so one source file spanning N dates owns N partitions —
    * dynamic overwrite replaces exactly those on replay.
    */
  private def partials(shredded: DataFrame): DataFrame =
    shredded
      .groupBy(col("date"), col("src"), col("model"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "llm_end", 1)).as("n_llm_end"),
        sum(col("input_tokens")).as("in_tokens"),
        sum(col("output_tokens")).as("out_tokens"),
        sum(col("total_tokens")).as("tot_tokens"),
        count(col("error_message")).as("n_errors"),
        min(unix_micros(col("timestamp"))).as("min_us"),
        max(unix_micros(col("timestamp"))).as("max_us"),
        hll_sketch_agg(col("custom_id")).as("custom_sketch"))

  /** Roll up every source file not yet in the store; returns how many
    * new files were processed. The per-micro-batch maintenance call —
    * run it after each sink flush, like [[ShreddedLog.appendNew]] (the
    * two stores share the fresh-file diff and can run from the same
    * maintenance loop).
    */
  def appendNew(spark: SparkSession, logDir: String,
      rollupDir: String): Int = {
    val done = ShreddedLog.processedSrcs(spark, rollupDir)
    val fresh = Fs.listDataFiles(spark, logDir)
      .filterNot(f => done(ShreddedLog.md5Hex(f)))
    if (fresh.nonEmpty) {
      val src = spark.read
        .option("basePath", logDir)
        .schema(LogSchema.schema.add("date",
          org.apache.spark.sql.types.DateType))
        .parquet(fresh: _*)
      partials(ShreddedLog.shred(src.drop("date")))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date", "src")
        .parquet(rollupDir)
    }
    fresh.size
  }

  /** Roll up one STREAMING micro-batch, idempotence keyed on its batch
    * id (`src=batch-<id>`) — same key and same replay contract as
    * [[ShreddedLog.appendBatch]]; see there for why the file-diff key
    * cannot survive streaming replay and why maintenance modes must not
    * be mixed on one store.
    */
  def appendBatch(batch: DataFrame, batchId: Long, rollupDir: String): Unit =
    partials(ShreddedLog.shred(batch)
        .withColumn("src", lit(Generations.Src.batchValue(batchId))))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date", "src")
      .parquet(rollupDir)

  /** The fold algebra for [[graft.streaming.LogStreamPipeline]]'s
    * `src=` generation fold: partial rows from many batch partitions of
    * ONE date dir merge down to one partial per model — the same
    * associative merges [[read]] applies at serve time (sums of
    * counts/sums, min/max of extrema, HLL union kept as a SKETCH so the
    * result stays a mergeable partial, not an estimate). Folding is
    * therefore invisible to every reader: merge(merge(partials)) ==
    * merge(partials).
    */
  private[graft] def mergePartials(partialRows: DataFrame): DataFrame =
    partialRows.groupBy(col("model"))
      .agg(
        sum(col("n_events")).cast("long").as("n_events"),
        sum(col("n_llm_end")).cast("long").as("n_llm_end"),
        sum(col("in_tokens")).cast("long").as("in_tokens"),
        sum(col("out_tokens")).cast("long").as("out_tokens"),
        sum(col("tot_tokens")).cast("long").as("tot_tokens"),
        sum(col("n_errors")).cast("long").as("n_errors"),
        min(col("min_us")).as("min_us"),
        max(col("max_us")).as("max_us"),
        hll_union_agg(col("custom_sketch")).as("custom_sketch"))

  /** Recompute the partial rows of ONE (date, src) partition from
    * already-shredded rows — the re-fold step of
    * [[graft.ops.LogForget.refoldRollup]]: forgetting a custom_id must
    * SUBTRACT its contribution from the aggregates (counts, sums, the
    * HLL sketch), which only a recompute over the surviving shred rows
    * can do exactly. `shredded` is the partition's raw rows (no
    * date/src columns — those live in the directory name); the result
    * is shaped exactly like the partition's files (model + aggregate
    * states, one row per model).
    */
  private[graft] def partialsOfSlice(shredded: DataFrame,
      date: Option[String], src: String): DataFrame =
    partials(shredded
        .withColumn("date",
          // None = Hive's default partition (null event dates) — a
          // string cast of the sentinel would throw under ANSI
          date.map(d => lit(d).cast("date"))
            .getOrElse(lit(null).cast("date")))
        .withColumn("src", lit(src)))
      .drop("date", "src")

  /** Full (re)build: delete + roll up everything. */
  def build(spark: SparkSession, logDir: String, rollupDir: String): Unit = {
    Fs.delete(spark, rollupDir)
    appendNew(spark, logDir, rollupDir)
    ()
  }

  /** The partial table, typed even when the store is empty (the empty
    * Sunday batch must not become a schema-inference crash); with
    * `upToBatch`, only the directories [[Generations.pinned]] selects.
    */
  private def partialTable(spark: SparkSession, rollupDir: String,
      upToBatch: Option[Long]): DataFrame = {
    upToBatch.map(Generations.pinned(spark, rollupDir, Generations.Src, _))
    match {
      case None if exists(spark, rollupDir) => Fs.readParquet(spark, rollupDir)
      case Some(dirs) if dirs.nonEmpty =>
        Fs.readParquetUnder(spark, rollupDir, dirs: _*)
      case _ =>
        partials(ShreddedLog.shred(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          LogSchema.schema)))
    }
  }

  /** Serve the rollup at `grain` (any subset of {date, model}, default
    * the full stored grain): final-merge of the partial states — sums of
    * counts/sums, min/max of extrema, HLL union for the distinct-custom
    * estimate (approximate BY CONTRACT; the exact columns are exact).
    * A `date`-bounded filter on the result prunes the store's hive
    * partitions before any partial row is read (plan-asserted in
    * LogRollupSpec). `upToBatch` pins the merge to the batches up to
    * that id — the rollup leg of
    * [[graft.streaming.LogStreamPipeline.readConsistent]]'s cross-store
    * snapshot, with [[ShreddedLog.readAsOf]]'s contract.
    */
  def read(spark: SparkSession, rollupDir: String,
      grain: Seq[String] = Seq("date", "model"),
      upToBatch: Option[Long] = None): DataFrame = {
    require(grain.nonEmpty && grain.forall(Set("date", "model")),
      s"rollup grain must be a non-empty subset of {date, model}: $grain")
    partialTable(spark, rollupDir, upToBatch)
      .groupBy(grain.map(col): _*)
      .agg(
        sum(col("n_events")).cast("long").as("n_events"),
        sum(col("n_llm_end")).cast("long").as("n_llm_end"),
        sum(col("in_tokens")).cast("long").as("in_tokens"),
        sum(col("out_tokens")).cast("long").as("out_tokens"),
        sum(col("tot_tokens")).cast("long").as("tot_tokens"),
        sum(col("n_errors")).cast("long").as("n_errors"),
        min(col("min_us")).as("min_us"),
        max(col("max_us")).as("max_us"),
        hll_sketch_estimate(hll_union_agg(col("custom_sketch")))
          .as("n_custom_approx"))
  }

  /** Has this store ever been maintained? */
  def exists(spark: SparkSession, rollupDir: String): Boolean =
    ShreddedLog.processedSrcs(spark, rollupDir).nonEmpty
}
