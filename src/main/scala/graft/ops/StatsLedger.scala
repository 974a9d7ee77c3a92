package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** File-level data skipping: a per-file min/max/count ledger plus a
  * pruned read path — the Delta/Iceberg "data skipping" pattern for
  * plain parquet directories.
  *
  * Parquet's own row-group stats (proven exploited in
  * LayoutSkippingSpec) still require OPENING every file footer: at 100 TB
  * / 128 MB files that is ~800k footer reads per query — on an object
  * store, ~800k GETs before the first data byte. This ledger lifts the
  * same min/max stats into ONE tiny table built with one distributed
  * scan (`groupBy(input_file_name())`), so planning a box predicate
  * costs one ledger read and the data scan starts with the ~matching
  * file list.
  *
  * Exactness contract: pruning keeps every file whose [min,max] MAY
  * intersect the predicate and the predicate is RE-APPLIED on the
  * pruned read, so the answer equals the full scan's no matter how
  * coarse the stats — `q_stats_prune`/`q_zorder_prune` pin that
  * cross-engine against full-scan DuckDB oracles.
  *
  * Scale shape: the ledger has one row per data file (~800k rows at
  * 100 TB — kilobyte-scale per query to read, and itself a parquet
  * table if it ever needs partitioning). The pruned file LIST is
  * driver-resident, bounded by surviving-file count — the same bound
  * the driver already carries as the scan's split list. Stats build is
  * map-side combined (one (file → min/max) row per task), and a new
  * ingest batch appends its own ledger rows via [[Fs.stagedAppend]]
  * without touching old ones.
  */
object StatsLedger {

  /** Inclusive range predicate on one column; None = unbounded side. */
  final case class Box(col: String, lo: Option[Any], hi: Option[Any])

  object Box {
    def between(col: String, lo: Any, hi: Any): Box =
      Box(col, Some(lo), Some(hi))
  }

  private def statCols(cols: Seq[String]): Seq[Column] =
    cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(col(c)).as(s"cnt_$c"))) :+
      count(lit(1)).as("n_rows")

  /** One distributed scan → (file, min_c, max_c ..., n_rows) per file. */
  def stats(spark: SparkSession, dataDir: String, cols: Seq[String]): DataFrame =
    spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(statCols(cols).head, statCols(cols).tail: _*)

  /** Build and (over)write the ledger for a directory. The write stays
    * PARALLEL (no coalesce): at the ~800k-file scale this operator
    * targets, a coalesce(1) would funnel the final aggregation of every
    * per-file stats row through one task — a needless serial point for a
    * table whose reads dedupe by file and never care about file count.
    */
  def build(
      spark: SparkSession, dataDir: String, ledgerDir: String,
      cols: Seq[String]): Unit =
    stats(spark, dataDir, cols)
      .write.mode("overwrite").parquet(ledgerDir)

  /** Ledger rows for ONE new batch of files, appended concurrent-safe —
    * the incremental path: stats accrue per ingest, never rebuilt.
    * Small-file accumulation (one parquet file per append) is bounded by
    * the flat-ledger maintenance job: `LogCompactor.compactFlat(spark,
    * ledgerDir, …)` folds the files with rows preserved exactly (replay
    * duplicates persist through compaction; every read dedupes by file,
    * so answers are unaffected either way).
    */
  def appendBatch(
      spark: SparkSession, batchDir: String, ledgerDir: String,
      cols: Seq[String]): Unit = {
    // A stats-only append into a Bloom ledger would surface null
    // bloom_* columns for the new files on later reads, and
    // pruneFilesPoint would silently exclude them — a false NEGATIVE,
    // breaking readPoint's exactness contract. Fail loudly instead.
    requireNoBloomMismatch(spark, ledgerDir, bloomCols = Nil)
    // per-batch coalesce(1) is deliberate: one INGEST batch is bounded
    // (unlike a whole-table build), and one ledger file per append bounds
    // small-file growth between compactions
    Fs.stagedAppend(stats(spark, batchDir, cols).coalesce(1), Nil, ledgerDir)
  }

  /** [[appendBatch]] for a [[buildWithBloom]] ledger: the new batch's
    * rows carry the same per-file Bloom columns with the same (mBits, k)
    * geometry, so point-lookup pruning stays exact across appends.
    */
  def appendBatchWithBloom(
      spark: SparkSession, batchDir: String, ledgerDir: String,
      cols: Seq[String], bloomCols: Seq[String],
      mBits: Int = 1 << 16, k: Int = 5): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    requireNoBloomMismatch(spark, ledgerDir, bloomCols)
    val aggs = statCols(cols) ++ bloomCols.map(c =>
      expr(s"bloom_agg($c, $mBits, $k)").as(s"bloom_$c"))
    val batch = spark.read.parquet(batchDir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    Fs.stagedAppend(batch.coalesce(1), Nil, ledgerDir)
  }

  /** Schema guard shared by the append paths: the existing ledger's
    * bloom_* column set must equal the appended batch's (order-free) —
    * mixed schemas would read back as nulls and turn Bloom pruning into
    * silent false negatives.
    */
  private def requireNoBloomMismatch(
      spark: SparkSession, ledgerDir: String, bloomCols: Seq[String]): Unit = {
    if (!Fs.nonEmptyDir(spark, ledgerDir)) return
    val existing = spark.read.parquet(ledgerDir).columns
      .filter(_.startsWith("bloom_")).map(_.stripPrefix("bloom_")).toSet
    val appending = bloomCols.toSet
    require(existing == appending,
      s"StatsLedger append into $ledgerDir: ledger has Bloom columns for " +
        s"${existing.toSeq.sorted.mkString("[", ",", "]")} but the batch " +
        s"brings ${appending.toSeq.sorted.mkString("[", ",", "]")} — use " +
        "appendBatchWithBloom with the ledger's bloomCols (mixed schemas " +
        "read back as null sketches and silently break point pruning)")
  }

  // ---------------------------------------------------------------------
  // Point-lookup skipping: min/max ranges only prune when the layout
  // SORTS by the lookup key; on a hash-distributed table every file
  // spans the whole key range and range stats keep everything. A
  // per-file Bloom column closes that gap — the parquet-bloom/Delta
  // bloom-index idea, built from the engine's own bloom_agg kernel in
  // the SAME single stats scan. Default 2^16 bits (8 KB) per file:
  // ~1% fpp at ~6.8k distinct keys/file, and 800k files at 100 TB cost
  // ~6.4 GB of ledger — which is why the probe below runs DISTRIBUTED
  // over the ledger rather than collecting sketches to the driver.
  // ---------------------------------------------------------------------

  /** [[build]] plus a per-file Bloom sketch over each `bloomCols`
    * (BIGINT) column. One scan, map-side combined.
    */
  def buildWithBloom(
      spark: SparkSession, dataDir: String, ledgerDir: String,
      cols: Seq[String], bloomCols: Seq[String],
      mBits: Int = 1 << 16, k: Int = 5): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val aggs = statCols(cols) ++ bloomCols.map(c =>
      expr(s"bloom_agg($c, $mBits, $k)").as(s"bloom_$c"))
    // parallel write, same rationale as [[build]]
    spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(ledgerDir)
  }

  /** Files whose Bloom sketch may contain ANY of `keys` — the probe runs
    * distributed over the ledger (one `bloom_contains` per key per row),
    * and only surviving file NAMES reach the driver.
    */
  def pruneFilesPoint(
      spark: SparkSession, ledgerDir: String, keyCol: String,
      keys: Seq[Long]): Seq[String] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val any = keys.map(key =>
        call_function("bloom_contains", col(s"bloom_$keyCol"), lit(key)))
      .reduceOption(_ || _).getOrElse(lit(false))
    ledger(spark, ledgerDir).filter(any)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Exact point-lookup read: Bloom-pruned file list, `IN` re-applied.
    * Equals `spark.read.parquet(dataDir).filter(col isin keys)` — no
    * false negatives (Bloom), no false positives (exact re-filter).
    */
  def readPoint(
      spark: SparkSession, dataDir: String, ledgerDir: String,
      keyCol: String, keys: Seq[Long]): DataFrame = {
    val files = pruneFilesPoint(spark, ledgerDir, keyCol, keys)
    if (files.isEmpty) spark.read.parquet(dataDir).where(lit(false))
    else spark.read.parquet(files: _*)
      .filter(col(keyCol).isin(keys: _*))
  }

  /** Ledger-side survival condition: file may contain a matching row. */
  private def mayMatch(b: Box): Column = {
    val loOk = b.lo.map(v => col(s"max_${b.col}") >= lit(v)).getOrElse(lit(true))
    val hiOk = b.hi.map(v => col(s"min_${b.col}") <= lit(v)).getOrElse(lit(true))
    // all-null files carry null min/max: cannot match a bounded box
    loOk && hiOk
  }

  /** Files surviving a conjunction of boxes (driver-resident list,
    * bounded by surviving-file count).
    */
  /** The ledger deduplicated by file: a crash-replayed [[appendBatch]]
    * legitimately appends the same file's stats row twice (staged
    * appends are at-least-once); duplicate rows are identical, so any
    * one per file is the truth. Without this, [[readPruned]] would scan
    * a replayed file twice and [[aggFast]] would double-count its
    * interior rows.
    */
  private def ledger(spark: SparkSession, ledgerDir: String): DataFrame =
    spark.read.parquet(ledgerDir).dropDuplicates("file")

  def pruneFiles(
      spark: SparkSession, ledgerDir: String, boxes: Seq[Box]): Seq[String] = {
    val cond = boxes.map(mayMatch).reduceOption(_ && _).getOrElse(lit(true))
    ledger(spark, ledgerDir).filter(cond)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Metadata-only aggregation: exact (count, min, max) of `box.col`
    * over rows satisfying the box, answered FROM THE LEDGER for every
    * file fully inside the box and by scanning ONLY the boundary files —
    * the `SELECT COUNT(*) WHERE k BETWEEN …` that table formats answer
    * from statistics. On a range- or z-laid-out table the boundary is
    * O(files^(1-1/d)) of the data; the interior — the bulk — costs one
    * ledger read.
    *
    * Exactness: interior files contribute their ledger `cnt` (non-null
    * count of the column — `n_rows` would wrongly include nulls, which
    * never satisfy a bounded box) and their true `min`/`max` (which lie
    * inside the box by containment); boundary files are re-scanned with
    * the exact predicate. Returns one row (n_rows, min_v, max_v) with
    * nulls when nothing matches.
    */
  def aggFast(
      spark: SparkSession, dataDir: String, ledgerDir: String,
      box: Box): DataFrame = {
    val c = box.col
    val led = ledger(spark, ledgerDir)
    val inside =
      box.lo.map(v => col(s"min_$c") >= lit(v)).getOrElse(lit(true)) &&
        box.hi.map(v => col(s"max_$c") <= lit(v)).getOrElse(lit(true))
    val interior = led.filter(mayMatch(box) && inside)
      .agg(coalesce(sum(col(s"cnt_$c")), lit(0L)).as("n_rows"),
        min(col(s"min_$c")).as("min_v"), max(col(s"max_$c")).as("max_v"))
    val boundaryFiles = led.filter(mayMatch(box) && !inside)
      .select("file").collect().map(_.getString(0)).toSeq
    val exact =
      box.lo.map(v => col(c) >= lit(v)).getOrElse(lit(true)) &&
        box.hi.map(v => col(c) <= lit(v)).getOrElse(lit(true))
    val boundary =
      (if (boundaryFiles.isEmpty)
        spark.read.parquet(dataDir).where(lit(false))
      else spark.read.parquet(boundaryFiles: _*))
        .filter(exact)
        .agg(count(col(c)).as("n_rows"), min(col(c)).as("min_v"),
          max(col(c)).as("max_v"))
    interior.unionByName(boundary)
      .agg(sum(col("n_rows")).cast("long").as("n_rows"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }

  /** Exact box-predicate read: ledger-pruned file list, predicate
    * re-applied. Equals `spark.read.parquet(dataDir).filter(boxes)`.
    */
  def readPruned(
      spark: SparkSession, dataDir: String, ledgerDir: String,
      boxes: Seq[Box]): DataFrame = {
    val exact = boxes.map { b =>
      val lo = b.lo.map(v => col(b.col) >= lit(v)).getOrElse(lit(true))
      val hi = b.hi.map(v => col(b.col) <= lit(v)).getOrElse(lit(true))
      lo && hi
    }.reduceOption(_ && _).getOrElse(lit(true))
    val files = pruneFiles(spark, ledgerDir, boxes)
    if (files.isEmpty) spark.read.parquet(dataDir).where(lit(false))
    else spark.read.parquet(files: _*).filter(exact)
  }
}

/** Multi-dimensional clustering via [[graft.functions.ZValue Morton
  * codes]]: lay a table out so that file-level min/max ranges are narrow
  * on SEVERAL columns at once, then let [[StatsLedger]] box predicates
  * skip files on any of them.
  *
  * Rank scaling is linear between the column's global min/max (one
  * tiny agg), giving uniform-ish keys (TPC-H-style surrogate keys,
  * hashes, timestamps) tight cells. Heavily skewed columns would want
  * quantile ranks instead; that trades a sampled sort per column and is
  * deliberately not done here — the layout only affects PRUNING quality,
  * never answers.
  */
object ZOrder {

  /** `v` linearly scaled to [0, 65535] between (lo, hi); nulls → 0 so
    * rows stay in the layout (null sorts with the low corner).
    */
  private def rank16(c: Column, lo: Column, hi: Column): Column = {
    val span = (hi - lo).cast("double")
    val scaled = ((c.cast("double") - lo.cast("double")) / span * 65535.0)
    val clamped = least(greatest(round(scaled).cast("int"), lit(0)), lit(65535))
    coalesce(when(span > 0, clamped).otherwise(lit(0)), lit(0))
  }

  /** Write `df` z-ordered by `cols` (2–4 numeric columns) into `nFiles`
    * range-partitioned, internally sorted files at `dir`.
    *
    * `curve` picks the space-filling curve: `"morton"` (bit interleave,
    * [[graft.functions.ZValue]]) or `"hilbert"` (continuous curve,
    * [[graft.functions.HilbertValue]] — tighter per-file boxes at the
    * same write cost; HilbertCurveSpec measures the gap).
    */
  def write(df: DataFrame, cols: Seq[String], nFiles: Int, dir: String,
      curve: String = "morton"): Unit = {
    require(cols.size >= 2 && cols.size <= 4, "z-order wants 2-4 columns")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // global min/max per column: one row, crossJoined (broadcast) onto df
    val bounds = df.agg(
      cols.flatMap(c =>
        Seq(min(col(c)).as(s"_lo_$c"), max(col(c)).as(s"_hi_$c"))).head,
      cols.flatMap(c =>
        Seq(min(col(c)).as(s"_lo_$c"), max(col(c)).as(s"_hi_$c"))).tail: _*)
    val ranks = array(cols.map(c =>
      rank16(col(c), col(s"_lo_$c"), col(s"_hi_$c"))): _*)
    layout(df.crossJoin(broadcast(bounds)), df.columns, ranks, nFiles, dir,
      curve)
  }

  /** Skew-robust variant: per-dimension ranks are QUANTILE buckets
    * (approxQuantile cutpoints — a bounded driver-side model of ≤
    * `cells` doubles per column, one stat pass), so a power-law column
    * spreads across the full rank range instead of collapsing into one
    * Morton cell the way linear min/max scaling makes it. Per-row cost
    * is a codegen'd higher-order scan of the cutpoint array (≤ `cells`
    * compares). Layout-only, like [[write]]: answers never change,
    * pruning quality does (ZOrderSkewSpec measures the gap).
    */
  def writeQuantile(
      df: DataFrame, cols: Seq[String], nFiles: Int, dir: String,
      cells: Int = 256, curve: String = "morton"): Unit = {
    require(cols.size >= 2 && cols.size <= 4, "z-order wants 2-4 columns")
    require(cells >= 2 && cells <= 65536, "cells in [2, 65536]")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val probes = (1 until cells).map(_.toDouble / cells).toArray
    val ranks = array(cols.map { c =>
      val cuts = df.stat.approxQuantile(c, probes, 0.001).distinct.sorted
      if (cuts.isEmpty) lit(0) // empty/all-null input: degenerate layout
      else {
        val cutsArr = array(cuts.map(lit): _*)
        // rank = #cutpoints strictly below the value; nulls → 0 (low
        // corner: filter's null predicate drops every element). The rank
        // is then scaled into the common 16-bit space: a low-cardinality
        // column yields fewer distinct cuts than `cells`, and without
        // rescaling its high bits would be constant zero — the interleave
        // would weight it below its peers and per-file windows on it
        // would balloon
        val raw = coalesce(
          size(filter(cutsArr,
            x => col(c).cast("double") > x)).cast("int"),
          lit(0))
        least(round(raw * lit(65535.0 / cuts.length)).cast("int"),
          lit(65535))
      }
    }: _*)
    layout(df, df.columns, ranks, nFiles, dir, curve)
  }

  private def layout(
      src: DataFrame, outCols: Array[String], ranks: Column, nFiles: Int,
      dir: String, curve: String = "morton"): Unit = {
    val fn = curve match {
      case "morton" => "z_value"
      case "hilbert" => "hilbert_value"
      case other => throw new IllegalArgumentException(
        s"curve must be morton|hilbert, got $other")
    }
    src.withColumn("_z", call_function(fn, ranks))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .select(outCols.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(dir)
  }
}
