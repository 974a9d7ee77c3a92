package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fs, LogSchema}

/** Shredded projection of a log directory: the stable typed prefix of the
  * payload JSON (LogSchema.payloadSchema — reference logger.py:168-187)
  * lifted into real parquet columns, maintained incrementally per ingest
  * batch.
  *
  * Why: every read-side query that navigates `payload` re-parses the JSON
  * string per row per query (`q_variant_extract`, `tokenUsageByCustomId`).
  * At 100 TB that is the dominant CPU cost of the whole read side — paid
  * again on every query. Shredding parses each payload ONCE at ingest
  * into typed columns; after that, token-usage aggregates and error
  * drill-downs are plain columnar scans with predicate pushdown and NO
  * JSON machinery in the plan (`ShreddedLogSpec` plan-asserts the absence
  * of JsonToStructs / get_json_object). This is the engine-side analog of
  * VARIANT shredding in open table formats.
  *
  * Exactness contract: `read` ≡ shred-on-the-fly of the source log
  * (`q_log_shredded` pins shredded-store answers against a DuckDB oracle
  * that parse-on-reads the SAME written log files).
  *
  * Incremental maintenance, idempotent by construction: rows land in
  * hive partitions `date=<event date>/src=<fingerprint of source file>`
  * written with DYNAMIC partition overwrite. A crash-replayed
  * [[appendNew]] re-shreds the same source file into the same partitions
  * — an overwrite, not a duplicate — so the store needs no dedup-on-read
  * shuffle (unlike a key-level ledger, the unit of replay here is a whole
  * source file, and file→partition is deterministic). Unprocessed-file
  * discovery lists the store's `src=` directories — metadata-scale, one
  * FileSystem listing, never a data scan. Concurrent appenders of
  * DIFFERENT batches touch disjoint `src=` partitions and commute;
  * replaying the SAME batch twice concurrently is the one unsupported
  * interleaving (same caveat as Spark's own dynamic overwrite).
  *
  * Scale shape: the shred itself is one distributed scan of only the NEW
  * files (map-only — parse + project, no exchange); the store mirrors the
  * log's `date=` layout so readers keep date pruning, and the per-source
  * `src=` subdirs mirror source file counts 1:1 (a shredded 100 TB log
  * has the same file-count planning profile as the log it shadows).
  */
object ShreddedLog {

  /** Typed columns extracted from the payload prefix. Kept raw (no
    * coalescing policy): `usage` map AND `usage_metadata` struct fields
    * both land, so readers choose their fallback rule — the store never
    * bakes one in.
    */
  def shred(df: DataFrame): DataFrame =
    df.withColumn("p", from_json(col("payload"), LogSchema.payloadSchema))
      .select(
        col("timestamp"), col("run_id"), col("parent_run_id"),
        col("custom_id"), col("event_type"), col("logger_metadata"),
        col("p.execution.tags").as("tags"),
        col("p.data.prompts").as("prompts"),
        col("p.data.model").as("model"),
        col("p.data.llm_type").as("llm_type"),
        col("p.data.input_str").as("input_str"),
        col("p.data.output").as("output"),
        col("p.data.usage").as("usage"),
        col("p.data.usage_metadata.input_tokens").as("input_tokens"),
        col("p.data.usage_metadata.output_tokens").as("output_tokens"),
        col("p.data.usage_metadata.total_tokens").as("total_tokens"),
        col("p.data.error.message").as("error_message"),
        col("p.data.error.type").as("error_type"),
        to_date(col("timestamp")).as("date"),
        // deterministic source-file fingerprint = idempotent replay key
        md5(regexp_replace(input_file_name(), lit(SchemePattern), lit("")))
          .as("src"))

  /** `input_file_name()` and Hadoop's qualified Path render the same file
    * with different scheme spellings (`file:///x` vs `file:/x`); hash the
    * scheme-stripped form so executor-side and driver-side fingerprints
    * agree on every FileSystem.
    */
  private val SchemePattern = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  private def writeInto(shredded: DataFrame, shredDir: String): Unit =
    shredded.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date", "src")
      .parquet(shredDir)

  private[query] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.replaceFirst(SchemePattern, "").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** `src=` fingerprints already present in the store — one recursive
    * listing of partition DIRECTORIES, no data read.
    */
  private[query] def processedSrcs(spark: SparkSession, shredDir: String): Set[String] = {
    val fs = Fs(spark, shredDir)
    val p = new org.apache.hadoop.fs.Path(shredDir)
    if (!fs.exists(p)) return Set.empty
    val out = Set.newBuilder[String]
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (n.startsWith("src=")) out += n.stripPrefix("src=")
          else if (!n.startsWith("_") && !n.startsWith(".")) walk(st.getPath)
        }
      }
    walk(p)
    out.result()
  }

  /** Shred every source file not yet in the store; returns how many new
    * files were processed. The per-micro-batch maintenance call — run it
    * after each sink flush, like `StatsLedger.appendBatch`.
    */
  def appendNew(spark: SparkSession, logDir: String, shredDir: String): Int = {
    val done = processedSrcs(spark, shredDir)
    val fresh = Fs.listDataFiles(spark, logDir).filterNot(f => done(md5Hex(f)))
    if (fresh.nonEmpty) {
      // basePath keeps the log's own `date=` partition column visible
      // while reading an explicit file list
      val src = spark.read
        .option("basePath", logDir)
        .schema(LogSchema.schema.add("date",
          org.apache.spark.sql.types.DateType))
        .parquet(fresh: _*)
      writeInto(shred(src.drop("date")), shredDir)
    }
    fresh.size
  }

  /** Shred one STREAMING micro-batch, idempotence keyed on its batch id
    * instead of a source-file fingerprint. The file-diff key of
    * [[appendNew]] breaks under streaming replay: a re-delivered batch
    * is re-LANDED under fresh part-file names (Spark names are
    * per-attempt), so its rows would fingerprint as new files and shred
    * twice. Structured Streaming's batch id is the stable replay
    * identity — `src=batch-<id>` partitions overwrite themselves on
    * replay exactly like a re-shredded file's would. One store should be
    * maintained by ONE mode (file-diff [[appendNew]] OR per-batch ticks
    * via [[graft.streaming.LogStreamPipeline]]): mixing them double-
    * ingests, because the file-diff cannot know which files a batch tick
    * already covered.
    */
  def appendBatch(batch: DataFrame, batchId: Long, shredDir: String): Unit =
    writeInto(
      shred(batch).withColumn("src", lit(s"batch-$batchId")), shredDir)

  /** Full (re)build: delete + shred everything. */
  def build(spark: SparkSession, logDir: String, shredDir: String): Unit = {
    Fs.delete(spark, shredDir)
    appendNew(spark, logDir, shredDir)
    ()
  }

  /** The typed view. No JSON parsing anywhere downstream: the schema is
    * declared, so a `filter`/`select` over these columns is a plain
    * columnar scan with pushdown (plan-asserted in ShreddedLogSpec).
    *
    * A store with no `src=` partitions (an empty or never-written log —
    * the empty Sunday batch) reads as a ZERO-ROW frame with the same
    * typed schema, derived by shredding an empty source: the schema is
    * static, so absence of data must not become a schema-inference
    * crash (EmptyInputGate pins this).
    */
  def read(spark: SparkSession, shredDir: String): DataFrame =
    if (processedSrcs(spark, shredDir).isEmpty)
      shred(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LogSchema.schema)).drop("src")
    else spark.read.parquet(shredDir).drop("src")

  /** `src=gen-<N>c` generation partition VALUES whose dirs carry the
    * pipeline's `_FOLDED` commit marker — the only generations a
    * consistency-promising reader may trust. A marker-less gen dir is
    * a crashed fold attempt (possibly a torn object-store copy) whose
    * partial rows must not serve; its sources are still intact and DO
    * serve, so excluding it is exact, not lossy. One partition-dir
    * walk, no data read.
    */
  private[graft] def committedGenSrcs(spark: SparkSession,
      storeDir: String): Set[String] = {
    val fs = Fs(spark, storeDir)
    val p = new org.apache.hadoop.fs.Path(storeDir)
    if (!fs.exists(p)) return Set.empty
    val out = Set.newBuilder[String]
    fs.listStatus(p).foreach { d =>
      if (d.isDirectory && d.getPath.getName.startsWith("date="))
        fs.listStatus(d.getPath).foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory && n.startsWith("src=gen-") &&
              fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_FOLDED")))
            out += n.stripPrefix("src=")
        }
    }
    out.result()
  }

  /** This store's own fold horizon: the highest batch id absorbed into
    * a COMMITTED (`_FOLDED`-marked) `src=gen-<N>c` generation, −1 when
    * none — the lowest batch id a snapshot reader can still pin.
    * Shared by [[readAsOf]] / [[LogRollup.read]]'s refusals and by
    * [[graft.streaming.LogStreamPipeline.readConsistent]]'s clamp (the
    * r13 advice fix: the clamp must honor the BINDING store's horizon,
    * which is not always the log's).
    */
  private[graft] def foldHorizon(spark: SparkSession,
      storeDir: String): Long =
    committedGenSrcs(spark, storeDir)
      .map(_.stripPrefix("gen-").stripSuffix("c").toLong - 1)
      .foldLeft(-1L)(math.max)

  /** The typed view PINNED at a streaming batch id: only rows from
    * `src=batch-<k>` partitions with `k <= upToBatch` — the shred leg
    * of [[graft.streaming.LogStreamPipeline.readConsistent]]'s
    * cross-store snapshot. Defined for PIPELINE-maintained stores
    * (every src a batch key); file-fingerprint partitions carry no
    * batch order and are excluded by the filter itself. Partition-value
    * pruning only — no data read outside the pinned batches.
    */
  def readAsOf(spark: SparkSession, shredDir: String,
      upToBatch: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_extract}
    if (processedSrcs(spark, shredDir).isEmpty) read(spark, shredDir)
    else {
      // COMMITTED `gen-<N>c` generations hold only batches <= N-1 and
      // their rows LOSE per-batch identity in the fold merge, so they
      // can only pass WHOLE — legal exactly when the pin is at or
      // above this store's own fold horizon (refused otherwise; the
      // pipeline's readConsistent enforces the same bound from the log
      // side, this makes the store API standalone-safe). A marker-less
      // gen is a crashed fold attempt and is excluded — its sources
      // still serve.
      val committed = committedGenSrcs(spark, shredDir).toSeq
      val horizon = committed
        .map(_.stripPrefix("gen-").stripSuffix("c").toLong - 1)
        .foldLeft(-1L)(math.max)
      require(upToBatch >= horizon,
        s"batches <= $horizon are folded into generations that serve " +
          s"only whole — this store cannot pin a snapshot at $upToBatch")
      val genOk =
        if (committed.isEmpty) lit(false) else col("src").isin(committed: _*)
      spark.read.parquet(shredDir)
        .filter(genOk ||
          regexp_extract(col("src"), "^batch-([0-9]+)$", 1)
            .cast("long") <= upToBatch)
        .drop("src")
    }
  }

  /** Has this store ever been maintained? One partition-dir listing —
    * the probe [[LogTable]]'s prefer-shredded builders route on.
    */
  def exists(spark: SparkSession, shredDir: String): Boolean =
    processedSrcs(spark, shredDir).nonEmpty
}
