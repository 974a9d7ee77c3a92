package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 full-text retrieval — the lexical-search leg of the engine,
  * beside the ANN family (`VectorIndex`/`ProductQuantizer`): score
  * documents against a bag-of-terms query with the standard
  * Okapi/Lucene BM25 ranking function and return the top-k.
  *
  * Determinism contract (the same discipline as [[NgramLm]]): each
  * (doc, term) contribution is ONE double expression evaluated in a fixed
  * parse shape — idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Lucene
  * variant, always positive) times the tf/length normalization — then
  * quantized to a long on the 2^30 grid. Per-document scores are sums of
  * LONGS, so they are order-free (a float sum over shuffled rows would be
  * partitioning-dependent), and the ranking compares exact integers —
  * two engines that agree on the contribution doubles agree on the whole
  * ranking, which is what lets DuckDB replay the query hash-exactly.
  *
  * Scale shape: per-document term frequencies come from the one-pass
  * native `term_counts` kernel in the projection (no token-level
  * shuffle); the query-term filter runs map-side BEFORE any exchange, so
  * the only rows that move are the postings of the query's own terms;
  * document frequencies (≤ |query| rows) and the corpus stats row are
  * broadcast; the final top-k is a TakeOrdered, not a global sort. The
  * materialized twin ([[buildIndex]]/[[probeIndex]]) moves the postings
  * build offline into a term-bucket-partitioned store so a query reads
  * only its own terms' partitions (dynamic pruning by literal bucket
  * ids), which is the inverted-index serving shape at 100 TB.
  */
object Bm25 {

  /** 2^30 — the contribution quantization grid. */
  val Scale: Double = 1073741824.0

  /** (id, term, tf, dl): one row per DISTINCT document×term, with the
    * document length carried alongside — the posting-list relation. The
    * per-document counting happens in the projection via the native
    * `term_counts` kernel, so nothing token-level ever shuffles.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), expr("term_counts(w)").as("tcs"),
        size(col("w")).cast("long").as("dl"))
      .select(col(idCol), explode(col("tcs")).as("tc"), col("dl"))
      .select(col(idCol), col("tc.term").as("term"),
        col("tc.tf").as("tf"), col("dl"))
  }

  /** One row (n, sdl, avgdl): corpus document count, total length, mean
    * length (exact-integer operands, one IEEE division).
    */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(size(split(col(textCol), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("n"), sum("dl").as("sdl"))
      .withColumn("avgdl",
        col("sdl").cast("double") / col("n").cast("double"))

  /** The quantized per-(doc,term) BM25 contribution, as a SQL fragment
    * shared in shape with the DuckDB oracle: operand columns must be the
    * doubles nd (corpus n), dfd (term df), tfd, dld and avgdl.
    */
  def contribSql(k1: String, b: String): String =
    s"""cast(floor(
          ln(1.0 + (nd - dfd + 0.5) / (dfd + 0.5))
            * (tfd * (1.0 + $k1))
            / (tfd + $k1 * (1.0 - $b + ($b * dld) / avgdl))
            * 1073741824.0) as bigint)"""

  /** Score a posting frame against `terms` and return the top-k:
    * (id, n_terms, score_fp, score). `k1`/`b` ride as literal strings so
    * the Spark expression and the oracle SQL are the same text.
    */
  def scorePostings(
      p: DataFrame,
      stats: DataFrame,
      idCol: String,
      terms: Seq[String],
      k1: String = "1.2",
      b: String = "0.75",
      topK: Int = 20): DataFrame = {
    val filtered = p.filter(col("term").isin(terms: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfF = filtered.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"))
    filtered
      .join(broadcast(dfF), "term")
      .crossJoin(broadcast(stats))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("dfd", col("df").cast("double"))
      .withColumn("tfd", col("tf").cast("double"))
      .withColumn("dld", col("dl").cast("double"))
      .withColumn("c", expr(contribSql(k1, b)))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum("c").as("score_fp"))
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("n_terms"), col("score_fp"),
        round(col("score_fp").cast("double") / lit(Scale), 6).as("score"))
  }

  /** End-to-end in-query search over a corpus. */
  def search(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: String = "1.2",
      b: String = "0.75",
      topK: Int = 20): DataFrame =
    scorePostings(postings(docs, idCol, textCol),
      corpusStats(docs, textCol), idCol, terms, k1, b, topK)

  /** Materialize the inverted index: postings partitioned by the term's
    * hash bucket (`tb=` hive dirs, so a probe prunes to its own terms'
    * partitions) plus the one-row stats table. `nBuckets` is recorded in
    * the stats row, so probes never need to be told the layout.
    */
  def buildIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      nBuckets: Int = 16): Unit = {
    postings(docs, idCol, textCol)
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings")
    corpusStats(docs, textCol).drop("avgdl")
      .withColumn("n_buckets", lit(nBuckets.toLong))
      .write.mode("overwrite").parquet(s"$path/stats")
    // a REBUILD resets the forget ledger: it is fed from a corpus that
    // already honors the takedown, so there is nothing left to mask.
    // Cleared AFTER the writes succeed (r12 advice): a clear-first
    // would wipe the ban list while a crashed or failed rebuild leaves
    // the OLD postings serving — banned docs would resurface. The
    // other order's worst case is over-masking ids absent from the new
    // index, which is an identity.
    Tombstones.clear(docs.sparkSession, path)
  }

  /** Forget documents in the SERVING index at takedown cost (r11
    * verdict: the primary store forgets via deletion vectors, but this
    * index kept surfacing banned ids until a rebuild). One
    * column-pruned postings scan recovers each banned doc's length
    * (needed to keep the corpus stats exact), then ONE staged ledger
    * write records (id, dl) — no postings file is touched. From that
    * commit on: [[probeIndex]] masks the ids out of every posting scan,
    * [[readStats]] subtracts their document count and length from the
    * corpus totals (so idf/avgdl behave exactly as if the index were
    * rebuilt from the complement corpus — cross-engine proven by
    * `q_bm25_after_takedown`), and [[appendToIndex]] drops them at
    * ingest, so a re-appended banned doc never resurrects. Ids with no
    * postings are still banned (future appends blocked) but contribute
    * nothing to the stats correction. Physical disposal of the masked
    * postings rides [[compactIndex]]'s rewrites or the next rebuild.
    */
  def takedownIndex(
      spark: SparkSession,
      path: String,
      idCol: String,
      ids: Seq[Long]): Unit =
    if (ids.nonEmpty) {
      import spark.implicits._
      takedownIndexFrame(spark, path, idCol, ids.distinct.toDF("_ts_id"))
    }

  /** Frame-based [[takedownIndex]] — the id set arrives as a DataFrame
    * (one bigint column `_ts_id`) and NOTHING materializes on the
    * driver: the banned docs' lengths are recovered by a distributed
    * join against the postings (a left join, so ids with no postings
    * still land with dl = 0 — banned for the future, nothing to
    * subtract) and the ledger write rides
    * [[Tombstones.addFrame]]'s anti-join. This is the
    * [[Forget]] orchestrator's scale path for court-order-sized id
    * sets; the Seq overload above delegates here.
    */
  def takedownIndexFrame(
      spark: SparkSession,
      path: String,
      idCol: String,
      idsDf: DataFrame): Unit = {
    val kf = idsDf.select(col(idsDf.columns.head).cast("long").as("_ts_id"))
      .distinct()
    val p = Tombstones.readStore(spark, s"$path/postings")
    // semi-prune the postings to the banned docs BEFORE the distinct,
    // so the dedup shuffles only takedown-sized rows, never the corpus
    val dls = p.select(col(idCol).cast("long").as("_ts_id"), col("dl"))
      .join(kf, Seq("_ts_id"), "left_semi")
      .distinct() // one (id, dl) row per doc
    val rows = kf.join(dls, Seq("_ts_id"), "left")
      .select(col("_ts_id"),
        coalesce(col("dl"), lit(0L)).cast("long").as("_ts_dl"))
    Tombstones.addFrame(spark, path, rows, payloadCol = "_ts_dl")
    // an append can COMMIT a banned doc's postings between the dl
    // recovery scan above and the ledger write (it read the ledger
    // before the takedown landed, so the ingest guard let the doc
    // through) — the id is masked at probe time either way, but its
    // recorded dl would stay 0 and the corpus totals would keep
    // counting it. One corrective re-scan AFTER the ledger commit
    // closes that window for any append that finished before now;
    // an append still in flight past this point is healed by the
    // next reconcileStats (maintenance) or rebuild — takedowns and
    // appends are otherwise single-writer-ordered, like every
    // maintenance path here.
    reconcileStats(spark, path, idCol)
    ()
  }

  /** Re-derive the recorded length of banned ids whose ledger payload
    * is 0 but whose postings EXIST — the footprint of an append that
    * raced its takedown ([[takedownIndex]]'s residual window). Appends
    * one corrective (id, dl) row per such id; [[readStats]]' per-id
    * max-dedup makes the correction supersede the stale 0. Idempotent
    * (a re-run finds nothing with payload 0 left to correct). Returns
    * ids corrected.
    */
  def reconcileStats(spark: SparkSession, path: String,
      idCol: String): Int =
    Tombstones.ledger(spark, path) match {
      case None => 0
      case Some(t) =>
        import spark.implicits._
        val zeroDl = t.groupBy("_ts_id")
          .agg(max("_ts_dl").as("_ts_dl"))
          .filter(col("_ts_dl") === 0L)
        val p = Tombstones.readStore(spark, s"$path/postings")
        val found = p
          .select(col(idCol).cast("long").as("_ts_id"), col("dl"))
          .join(zeroDl.select("_ts_id"), Seq("_ts_id"), "left_semi")
          .distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        if (found.nonEmpty)
          Tombstones.appendLedgerRows(spark, path,
            found.toDF("_ts_id", "_ts_dl"))
        found.size
    }

  /** Aggregate the stats DELTA LEDGER to the one-row (n, sdl, avgdl,
    * n_buckets) frame the scorer consumes. The store keeps one delta row
    * per ingested batch instead of one mutable total: summing commutes,
    * so concurrent appends cannot lose each other's contribution (the
    * old read-modify-overwrite row lost a delta whenever two appends
    * interleaved — last writer won).
    */
  def readStats(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(s"$path/stats")
      .agg(sum("n").cast("long").as("n"), sum("sdl").cast("long").as("sdl"),
        max("n_buckets").cast("long").as("n_buckets"))
    // the forget ledger subtracts its banned docs from the corpus
    // totals (one ledger row per banned doc carrying its recorded
    // length; dl = 0 marks an id that never had postings — banned for
    // the future, but never counted, so nothing to subtract). Stats
    // then read exactly as if the index were rebuilt from the
    // complement corpus.
    val corrected = Tombstones.ledger(spark, path) match {
      case None => base
      case Some(t0) =>
        // one row per banned id, MAX payload: the ledger tolerates
        // duplicate id rows (two concurrent takedowns of one id both
        // pass the add-side anti-join — r12 advice) and 0-payload rows
        // shadowed by a reconcileStats correction; aggregating the raw
        // rows would double-subtract and skew every idf/avgdl
        val t = t0.groupBy("_ts_id").agg(max("_ts_dl").as("_ts_dl"))
        val d = t.agg(
          coalesce(sum(when(col("_ts_dl") > 0, 1L).otherwise(0L)), lit(0L))
            .cast("long").as("td_n"),
          coalesce(sum("_ts_dl"), lit(0L)).cast("long").as("td_sdl"))
        base.crossJoin(broadcast(d))
          .select((col("n") - col("td_n")).as("n"),
            (col("sdl") - col("td_sdl")).as("sdl"), col("n_buckets"))
    }
    corrected.withColumn("avgdl",
      col("sdl").cast("double") / col("n").cast("double"))
  }

  /** Concurrency-safe append into `destDir` — shared staged-write idiom,
    * see [[graft.core.Fs.stagedAppend]]. Readers list the destination, so
    * each file becomes visible whole (per-file rename is atomic on
    * HDFS/local; on S3-family stores it is a copy, but the file only
    * lists at the destination once complete — the same visibility
    * contract either way).
    */
  private def stageInto(
      df: DataFrame, partCols: Seq[String], destDir: String): Unit =
    graft.core.Fs.stagedAppend(df, partCols, destDir)

  /** Append a document batch to an existing index — the 100 TB shape is
    * append-only ingestion, not nightly rebuilds. New postings land in
    * the same `tb=` partitions (same hash, same bucket count, read from
    * the ledger) via staged atomic moves, and the batch's corpus counts
    * land as a NEW delta row in the stats ledger — nothing is read,
    * modified and rewritten, so interleaved appends commute and none is
    * lost (spec-proven with genuinely concurrent appends in Bm25Spec).
    * Postings are moved before the delta row, so a reader never sees a
    * batch counted in the stats that has no postings on disk — at worst
    * it scores fresh postings against slightly stale corpus totals,
    * which the next listing heals. Document frequencies are NOT stored —
    * [[scorePostings]] derives df from the probed postings at query time
    * — so an appended index serves exactly like a rebuilt one with no
    * maintenance step. Small files accumulate per partition; fold them
    * periodically with [[compactIndex]].
    */
  def appendToIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBuckets = spark.read.parquet(s"$path/stats")
      .agg(max("n_buckets")).as[Long].head()
    // banned ids drop at INGEST (before postings and stats), so a
    // re-appended taken-down document neither serves nor skews the
    // corpus totals — takedowns are forever until a rebuild resets the
    // ledger, the deliberate inverse of the primary store's
    // point-in-time deletion vectors
    val admitted = Tombstones.mask(spark, path, docs, idCol)
    stageInto(
      postings(admitted, idCol, textCol)
        .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets))),
      Seq("tb"), s"$path/postings")
    stageInto(
      corpusStats(admitted, textCol).drop("avgdl")
        .withColumn("n_buckets", lit(nBuckets)).coalesce(1),
      Nil, s"$path/stats")
  }

  /** Physically dispose of tombstoned postings — a TERM-BUCKET-PRUNED
    * rewrite, never a rebuild ([[Tombstones.purgePartitions]]): only
    * the `tb=` partitions still holding a banned doc's postings are
    * rewritten. Row identity for crash convergence is (doc, term) —
    * [[postings]] emits one row per distinct document×term. The stats
    * ledger is untouched (its totals were corrected at takedown time,
    * and the correction stays valid when the masked rows go physical);
    * the forget ledger stays in force so later appends keep dropping
    * the ids. Returns partitions rewritten.
    */
  def purgeIndex(spark: SparkSession, path: String,
      idCol: String): Int = {
    // heal the stats FIRST (r13 advice): if a takedown's dl recovery
    // raced an append (ledger payload stuck at 0), the postings about
    // to be destroyed are the only remaining evidence of that doc's
    // length — reconcile while they still exist, or readStats
    // overcounts n/sdl/avgdl until a full rebuild
    reconcileStats(spark, path, idCol)
    Tombstones.purgePartitions(spark, path, s"$path/postings", "tb",
      idCol, Seq(idCol, "term"))
  }

  /** Per-term-bucket small-file compaction of an appended index —
    * delegates to [[LogCompactor]] over the `tb=` layout. Answers are
    * unchanged; file counts drop to ⌈bytes/target⌉ per bucket.
    */
  def compactIndex(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[LogCompactor.CompactionReport] = {
    // complete any crashed purge first — compacting a half-swapped
    // partition would adopt files a pending marker still governs
    Tombstones.healPurges(spark, s"$path/postings")
    // ride the same maintenance tick to fold the forget ledger's
    // accumulated takedown files into one deduped generation
    Tombstones.compact(spark, path)
    LogCompactor.compact(spark, s"$path/postings", targetFileBytes,
      partitionPrefix = "tb=")
  }

  /** Fold the stats delta ledger's accumulated small files (one per
    * append) via [[LogCompactor.compactFlat]]. Rows are preserved
    * EXACTLY — the ledger's delta rows are summed by [[readStats]], so
    * even coincidentally identical deltas must survive compaction.
    */
  def compactStats(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024)
      : Option[LogCompactor.CompactionReport] =
    LogCompactor.compactFlat(spark, s"$path/stats", targetFileBytes)

  /** Probe the materialized index. The bucket ids for the query terms are
    * computed up front (a |query|-sized local job — model state, not
    * data) and pushed as literal partition filters, so the postings scan
    * reads ~|query terms|/nBuckets of the store; the term filter then
    * drops same-bucket strangers map-side.
    */
  def probeIndex(
      spark: SparkSession,
      path: String,
      idCol: String,
      terms: Seq[String],
      k1: String = "1.2",
      b: String = "0.75",
      topK: Int = 20): DataFrame = {
    import spark.implicits._
    // an index built from zero documents (bootstrap / empty partition)
    // — or purged down to zero surviving postings in every bucket —
    // has a postings layout with no data files: schema inference would
    // throw, so serve the typed empty answer instead (one recursive
    // listing; bucket counts are small)
    val hasPostings = graft.core.Fs
      .listDataFiles(spark, s"$path/postings")
      .exists(_.contains("/tb="))
    if (!hasPostings) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField(idCol, LongType), StructField("n_terms", LongType),
          StructField("score_fp", LongType),
          StructField("score", DoubleType))))
    }
    val stats = readStats(spark, path)
    val nBuckets = stats.select(col("n_buckets")).as[Long].head()
    val buckets = spark.createDataset(terms)
      .select(pmod(xxhash64(col("value")), lit(nBuckets)))
      .as[Long].collect().distinct.toSeq
    // bucket prune first (partition filter), THEN the tombstone mask —
    // the anti-join runs over only the probed terms' postings. The scan
    // goes through the purge gate: identical plan when no purge marker
    // exists; a pinned exact snapshot while one does (mid-purge or
    // post-crash).
    val p = Tombstones.mask(spark, path,
      Tombstones.readStore(spark, s"$path/postings")
        .filter(col("tb").isin(buckets: _*))
        .drop("tb"),
      idCol)
    scorePostings(p, stats.drop("n_buckets"), idCol, terms, k1, b, topK)
  }
}
