package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-span SCRUBBING — remove repeated spans, keep the document.
  * [[SelfDedup]] answers "drop documents that repeat an earlier span";
  * this operator answers the C4-style question "delete the repeated
  * span itself and stitch the rest back together", which preserves the
  * unique remainder of boilerplate-heavy documents instead of discarding
  * them wholesale (reference scope ends at event capture/query — this is
  * a beyond-reference curation stage; cf. the span-dedup passes of C4
  * and RefinedWeb-class web pipelines).
  *
  * Unit of removal: consecutive non-overlapping `tileWords`-word tiles
  * (the last, shorter tile included). An occurrence of a tile is KEPT
  * iff it is the globally first occurrence of that content, ordered by
  * (doc id, tile position); every later occurrence — in the same or any
  * other document — is deleted. The scrubbed text is the kept tiles
  * re-joined in original order.
  *
  * Scale shape: tiles leave the map side as (md5num 64-bit key, id, pos,
  * tile); first-occurrence resolution is groupBy(key).agg(min(struct)) —
  * a map-side-combining aggregate, NOT a row_number window, so a tile
  * duplicated a billion times (boilerplate is exactly that) collapses to
  * one row per partition before the exchange instead of landing a
  * billion rows on one window task. The verdict join back on the key is
  * 1:1 non-expanding (AQE-skew-splittable), and reassembly shuffles by
  * doc id — each document's tile count is bounded by its own length.
  */
object SpanScrub {

  private def tiles(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tileWords: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"), split(col(textCol), " ").as("ws"))
      .select(col("_id"),
        posexplode(expr(
          s"""transform(
                sequence(0, cast(ceil(size(ws) / ${tileWords}d) as int) - 1),
                i -> array_join(slice(ws, i * $tileWords + 1, $tileWords), ' '))"""
        )).as(Seq("pos", "tile")))
      .withColumn("h", expr("md5num(tile)"))
  }

  private def reassemble(marked: DataFrame, idCol: String): DataFrame =
    marked.groupBy("_id")
      .agg(
        count(lit(1)).cast("long").as("n_tiles"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(
          expr("transform(array_sort(collect_list(" +
            "case when kept then struct(pos, tile) end)), x -> x.tile)"),
          " ").as("scrubbed_text"))
      .withColumnRenamed("_id", idCol)

  /** (idCol, n_tiles, n_removed, scrubbed_text) per non-null-text doc. */
  def scrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tileWords: Int): DataFrame = {
    val t = tiles(docs, idCol, textCol, tileWords)
    val firsts = t.groupBy("h")
      .agg(min(struct(col("_id"), col("pos"))).as("f"))
    reassemble(
      t.join(firsts, Seq("h"))
        .withColumn("kept", struct(col("_id"), col("pos")) === col("f")),
      idCol)
  }

  /** Incremental scrub of ONE batch against a persistent tile ledger —
    * the continuously-ingesting form: a tile is deleted if it was seen in
    * ANY earlier batch (ledger hit) or earlier in this batch (same
    * (id, pos) first rule as [[scrub]]); the batch's novel tile hashes
    * are then appended to the ledger. Applying batches in id order is
    * spec-proven byte-identical to one-shot [[scrub]] of the union.
    *
    * Ledger = a parquet of 64-bit hashes only (24 B/row before
    * encoding) — gram-cardinality-sized, joined on its long key; the
    * batch side is always the (small) new arrivals, so at 100 TB the
    * per-batch cost is one ledger-keyed join + the batch's own tiling,
    * never a corpus rescan. First write creates the ledger.
    */
  def scrubIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      tileWords: Int,
      ledgerPath: String): DataFrame = {
    val spark = batch.sparkSession
    val t = tiles(batch, idCol, textCol, tileWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hadoop-FS probe, not java.io.File: on s3a://hdfs:// a local-file
    // probe answers "missing" and the append below would flip to
    // overwrite, silently discarding the whole dedup history.
    val ledgerExists = graft.core.Fs.nonEmptyDir(spark, ledgerPath)
    // distinct: the ledger is semantically a SET — a crash-replayed
    // append may have written the same hashes twice, and a duplicated
    // ledger row would otherwise EXPAND the membership join
    val seen =
      if (ledgerExists)
        spark.read.parquet(ledgerPath).select(col("h")).distinct()
          .select(col("h"), lit(true).as("_old"))
      else {
        import spark.implicits._
        Seq.empty[Long].toDF("h").select(col("h"), lit(true).as("_old"))
      }
    val firsts = t.groupBy("h")
      .agg(min(struct(col("_id"), col("pos"))).as("f"))
    val marked = t.join(firsts, Seq("h"))
      .join(seen, Seq("h"), "left")
      .withColumn("kept",
        col("_old").isNull &&
          struct(col("_id"), col("pos")) === col("f"))
    val out = reassemble(marked, idCol).localCheckpoint()
    // novel hashes only (append AFTER the output plan is materialized by
    // the checkpoint — otherwise a lazy caller could observe a ledger
    // that already contains its own batch). Staged unique-dir append
    // (graft.core.Fs.stagedAppend): two concurrent scrubIncremental
    // batches sharing mode("append") on one ledger dir would share
    // `_temporary` and could delete each other's in-flight task output —
    // staging removes the shared mutable path, so concurrent appenders
    // commute (ledger = set, reads are distinct) and none is lost.
    graft.core.Fs.stagedAppend(
      t.join(seen, Seq("h"), "left_anti").select("h").distinct(),
      Nil, ledgerPath)
    t.unpersist()
    out
  }

  /** Ledger maintenance: fold the staged-append small files AND the
    * duplicate hashes a crash-replayed append leaves behind into a
    * compact distinct rewrite. The ledger is semantically a SET (reads
    * are `distinct()`), so deduping at compaction time changes no
    * answer — it only shrinks the membership join's build side. Like
    * [[LogCompactor.compactFlat]], not concurrency-safe against
    * in-flight appenders: run from the maintenance window between
    * batches. No-op (`None`) when the ledger does not exist yet.
    */
  def compactLedger(
      spark: org.apache.spark.sql.SparkSession,
      ledgerPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024)
      : Option[LogCompactor.CompactionReport] = {
    if (!graft.core.Fs.nonEmptyDir(spark, ledgerPath)) None else {
      val files = graft.core.Fs.list(spark, ledgerPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val target =
        math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val tmp = ledgerPath + ".compact"
      spark.read.parquet(ledgerPath).distinct().coalesce(target)
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).coalesce(target)
        .write.mode("overwrite").parquet(ledgerPath)
      graft.core.Fs.delete(spark, tmp)
      Some(LogCompactor.CompactionReport(
        new org.apache.hadoop.fs.Path(ledgerPath).getName,
        files.length, target, bytes))
    }
  }

  /** Streaming scrub: fold a document STREAM through the persistent tile
    * ledger, one [[scrubIncremental]] per micro-batch, appending scrubbed
    * documents to `outPath`. Cross-batch dedup comes from the ledger, so
    * a span first seen in micro-batch 3 is deleted from every later
    * batch — state the engine's `dropDuplicates` cannot express (it
    * dedups rows, not sub-document spans). Crash safety: the source
    * checkpoint replays an unacknowledged batch; a replayed ledger
    * append only re-adds hashes the SET semantics ignore (reads are
    * distinct), so the ledger converges — the scrubbed OUTPUT of a
    * replayed batch is the one non-idempotent artifact (its tiles are
    * now all "seen"), the same at-least-once caveat every
    * foreachBatch-parquet sink carries unless wrapped in
    * [[graft.streaming.IdempotentSink]].
    */
  def streamScrub(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      tileWords: Int,
      ledgerPath: String,
      outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scrubIncremental(batch, idCol, textCol, tileWords, ledgerPath)
          .write.mode("append").parquet(outPath)
        ()
      }
      .start()
}
