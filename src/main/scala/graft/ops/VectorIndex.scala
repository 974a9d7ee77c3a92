package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialized IVF-Flat vector index — the ANN analog of
  * [[SignatureStore]]: bucket assignment is paid ONCE at build time and
  * the corpus is written as parquet PARTITIONED BY bucket, so probing
  * reads only the `nprobe` bucket directories per query batch instead of
  * scanning the corpus. The probe join broadcasts the (tiny) query×probe
  * frame, which lets Spark's dynamic partition pruning derive the bucket
  * list from the broadcast at runtime — the scan's PartitionFilters carry
  * a dynamicpruning subquery, asserted in VectorIndexSpec.
  *
  * At 100 TB: the index build is one map-only pass (centroids are
  * driver-side literals) plus a partitioned write; every later query
  * batch is I/O-proportional to nprobe/nlist of the corpus. Same
  * centroids + probes as the in-query IVF (`q_knn_ivf`), so
  * `q_knn_ivf_store` shares its DuckDB oracle: identical answers from the
  * partition-pruned plan.
  */
object VectorIndex {

  /** Coarse-quantizer model state: id + vector + squared norm. Bounded
    * (nlist rows) — a driver-side literal table, never a data collect.
    */
  final case class Centroid(id: Long, v: Seq[Double], nrm: Double)

  /** Deterministic centroid fetch: the `n` lowest vec_ids of the corpus
    * (the same rule as q_knn_ivf). For trained centroids, refine this
    * seed with [[KMeans.lloyd]] — the index machinery is identical either
    * way, and the trainer itself is oracle-verified (`q_kmeans`).
    */
  def centroidsFrom(corpus: DataFrame, n: Int): Seq[Centroid] =
    corpus.filter(col("vec_id") < n)
      // model state must be dense: a null vector can never be a centroid
      .filter(col("v").isNotNull && col("nrm").isNotNull)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .sortBy(_.getLong(0))
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq

  /** struct(cosine-to-centroid, -id) terms over the row's (vcol, ncol) —
    * array_max picks the nearest centroid with lowest-id tie-break;
    * sort_array + slice picks the top-nprobe probe set.
    */
  private def centroidTerms(
      cents: Seq[Centroid], vcol: String, ncol: String): Column =
    array(cents.map(c => struct(
      (call_function("dot_product", col(vcol), typedLit(c.v))
        / sqrt(lit(c.nrm) * col(ncol))).as("c"),
      lit(-c.id).as("nc"))): _*)

  /** struct(c = cosine, nc = -id) of the NEAREST centroid — argmax with
    * lowest-id tie-break, map-only. Callers read `.getField("nc")` for
    * the bucket and `.getField("c")` for the winning cosine (k-means
    * inertia, assignment quality). Requires a non-empty centroid set.
    */
  def bestCentroid(
      cents: Seq[Centroid], vcol: String = "v",
      ncol: String = "nrm"): Column =
    array_max(centroidTerms(cents, vcol, ncol))

  /** Map-only bucket assignment (int, the partition column). An empty
    * centroid set (bootstrap / empty model partition) assigns null — the
    * zero-row frames it occurs with stay analyzable instead of failing on
    * `array()` of no struct terms.
    */
  def assignBucket(
      cents: Seq[Centroid], vcol: String = "v",
      ncol: String = "nrm"): Column =
    if (cents.isEmpty) lit(null).cast("int")
    else (-bestCentroid(cents, vcol, ncol).getField("nc")).cast("int")

  /** Build the index: corpus (vec_id, v, nrm) → parquet partitioned by
    * nearest-centroid bucket.
    */
  def buildIvf(
      corpus: DataFrame, cents: Seq[Centroid], path: String): Unit = {
    corpus
      .withColumn("bucket", assignBucket(cents))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // a rebuild resets the forget ledger (the corpus it is built from
    // already honors the takedown). Cleared AFTER the write (r12
    // advice): a clear-first would wipe the ban list while a rebuild
    // that failed before its overwrite began deleting leaves the OLD
    // index serving — banned ids would resurface. (The overwrite
    // itself removes `path/_tombstones` with the rest of the dir, so
    // this trailing clear is usually a no-op — it exists for the
    // failure path and for explicitness.)
    Tombstones.clear(corpus.sparkSession, path)
  }

  /** Forget vectors in the SERVING index at takedown cost (r11
    * verdict: the primary store forgets a document, but its ANN
    * neighbors kept surfacing from this index until a rebuild). ONE
    * staged ledger write under `_tombstones/` — zero index files
    * touched; [[probe]] masks the ids out of every probed bucket
    * (answers identical to a complement-corpus rebuild, cross-engine
    * proven by `q_ann_after_takedown`), and [[appendToIvf]] drops them
    * at ingest so a re-appended banned vector never resurrects.
    * Physical disposal: [[purgeIvf]] (bucket-pruned rewrite) or the
    * next rebuild.
    */
  def takedownIvf(spark: SparkSession, path: String,
      ids: Seq[Long]): Unit =
    Tombstones.add(spark, path, ids)

  /** Frame-based [[takedownIvf]] — the [[Forget]] orchestrator's scale
    * path: the id frame rides [[Tombstones.addFrame]]'s distributed
    * anti-join, nothing materializes on the driver.
    */
  def takedownIvfFrame(spark: SparkSession, path: String,
      idsDf: DataFrame): Unit =
    Tombstones.addFrame(spark, path,
      idsDf.select(col(idsDf.columns.head).cast("long").as("_ts_id")))

  /** Physically dispose of tombstoned rows — a BUCKET-PRUNED rewrite,
    * never a rebuild ([[Tombstones.purgePartitions]]; vec_id is the
    * store's row identity, which makes a crashed purge converge on
    * re-run). The ledger stays in force afterwards; reads are already
    * exact either way — this reclaims bytes, not correctness.
    */
  def purgeIvf(spark: SparkSession, path: String): Int =
    Tombstones.purgePartitions(spark, path, path, "bucket", "vec_id",
      Seq("vec_id"))

  /** Incremental maintenance: a 100 TB corpus APPENDS — rebuilding the
    * index per arriving batch would rewrite everything. New vectors are
    * assigned to the EXISTING (frozen) centroid set map-side and appended
    * into the bucket partition directories, mirroring
    * [[SignatureStore]]'s incremental band-store pattern. Append ≡
    * rebuild exactly: bucket assignment depends only on the centroids and
    * the row itself, so the per-bucket row set is identical either way
    * (VectorIndexSpec proves equal probe answers), and dynamic partition
    * pruning keeps working — partition discovery sees the union layout.
    *
    * Each append lands one small file set per touched bucket; fold them
    * periodically with [[compactIvf]]. Re-clustering (new centroids) is a
    * [[buildIvf]] rebuild by design — that is the operation that moves
    * rows between buckets.
    */
  def appendToIvf(
      batch: DataFrame, cents: Seq[Centroid], path: String): Unit =
    // staged unique-dir append (Fs.stagedAppend): plain mode("append")
    // shares `path/_temporary` between concurrent appenders, which can
    // delete each other's in-flight task output. Tombstoned ids drop
    // at ingest — a re-appended taken-down vector never resurrects.
    graft.core.Fs.stagedAppend(
      Tombstones.mask(batch.sparkSession, path, batch, "vec_id")
        .withColumn("bucket", assignBucket(cents)),
      Seq("bucket"), path)

  /** Per-bucket small-file compaction of an appended index — delegates to
    * [[LogCompactor]] over the `bucket=` partition layout. Answers are
    * unchanged; file counts drop to ⌈bytes/target⌉ per bucket.
    */
  def compactIvf(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[LogCompactor.CompactionReport] = {
    // ride the same maintenance tick to fold the forget ledger's
    // accumulated takedown files into one deduped generation (the
    // compactor itself first completes any crashed purge)
    Tombstones.compact(spark, path)
    LogCompactor.compact(spark, path, targetFileBytes,
      partitionPrefix = "bucket=")
  }

  /** Exact top-k per query inside the probed buckets. `queries` must
    * carry (query_id, qv, qn). The probe frame (queries × nprobe rows) is
    * broadcast; dynamic partition pruning turns its bucket values into
    * the index scan's partition filter.
    */
  def probe(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      cents: Seq[Centroid],
      nProbe: Int,
      topK: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // no model (bootstrap) — or a store purged down to zero surviving
    // rows in every bucket, whose empty layout would fail schema
    // inference — serves the typed empty answer
    if (cents.isEmpty ||
        !graft.core.Fs.listDataFiles(spark, path)
          .exists(_.contains("/bucket="))) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", LongType), StructField("rnk", LongType),
          StructField("neighbor_id", LongType),
          StructField("cosine", DoubleType))))
    }
    // the purge gate: the plain partitioned scan (partition discovery,
    // DPP and all) when no purge marker exists — the always case — and
    // a pinned exact snapshot while one does (mid-purge or post-crash)
    val idx = graft.core.Commit.read(spark, path)
    val probes = queries.select(col("query_id"), col("qv"), col("qn"),
      explode(slice(
        sort_array(centroidTerms(cents, "qv", "qn"), asc = false),
        1, nProbe)).as("p"))
      .select(col("query_id"), col("qv"), col("qn"),
        (-col("p.nc")).cast("int").as("bucket"))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    // forget-ledger mask ABOVE the bucket join: banned ids never
    // surface (exactly as if the index were rebuilt from the
    // complement corpus), while the dynamic partition pruning the
    // bucket join feeds the scan stays intact — an anti-join under the
    // scan would sit between the join and the partitioned relation and
    // could defeat the pruning rule. Identity on stores that never saw
    // a takedown.
    Tombstones.mask(spark, path,
        idx.join(broadcast(probes), "bucket"), "vec_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        call_function("dot_product", col("qv"), col("v"))
          / sqrt(col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }
}
