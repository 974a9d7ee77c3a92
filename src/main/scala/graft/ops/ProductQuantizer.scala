package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import VectorIndex.Centroid

/** Product quantization for embedding columns — the memory-bounded ANN
  * leg next to IVF ([[VectorIndex]]) and sign-LSH: the vector is split
  * into `m` contiguous subspaces, each subspace gets its own small
  * codebook (trained by L2 Lloyd on the sub-vectors), and a stored row
  * is just `m` small code integers instead of `d` doubles — 128× less
  * index state at (d=64, m=4, k=8), which is what lets a 100 TB corpus's
  * index live in executor memory or a compact store. Search is the
  * standard asymmetric scheme: the QUERY keeps its exact vector, the
  * corpus side is reconstructed from codebook entries (m array lookups
  * per row, map-side), and the cosine uses the reconstruction's own
  * norm.
  *
  * Scale shape: training is `m × iters` bounded-model corpus scans
  * (codebooks are driver-side literals, exactly like the IVF centroids —
  * never a data collect); encoding and reconstruction are map-only
  * projections; scoring broadcasts the query batch. Nothing shuffles the
  * corpus until the final per-query top-k.
  *
  * Cross-engine determinism (so a DuckDB oracle can replay TRAINING +
  * encoding + search end-to-end): sub-assignment is an argmax of
  * `dot(sv, c) − ‖c‖²/2` (the L2 argmin, rewritten so the row term ‖sv‖²
  * cancels) with lowest-code tie-break; centroid recomputes use the same
  * exact fixed-point `floor(x·1e9)` integer sums as [[KMeans]]; the
  * reconstruction is pure concatenation, so its norm is the same
  * left-fold sum-of-squares both engines compute. Every floating op left
  * (dot folds, sqrt, divide) is IEEE-correctly-rounded and
  * order-pinned.
  */
object ProductQuantizer {

  /** One subspace's codebook: `sub` = subspace index, centroids carry
    * (code id, sub-vector, ‖c‖²).
    */
  final case class Codebook(sub: Int, ds: Int, cents: Seq[Centroid])

  /** slice of `vcol` for subspace `sub` (ds components, 0-based start). */
  def subVec(vcol: String, sub: Int, ds: Int): Column =
    expr(s"slice($vcol, ${sub * ds + 1}, $ds)")

  /** struct(score = dot − ‖c‖²/2, nc = −code, cv, cn) of the L2-nearest
    * codebook entry — argmax with lowest-code tie-break, map-only. The
    * winning entry's vector rides along so callers reconstruct without a
    * code→row lookup.
    */
  def bestEntry(cents: Seq[Centroid], svCol: Column): Column =
    array_max(array(cents.map(c => struct(
      (call_function("dot_product", svCol, typedLit(c.v))
        - lit(c.nrm / 2.0)).as("c"),
      lit(-c.id).as("nc"),
      typedLit(c.v).as("cv"),
      lit(c.nrm).as("cn"))): _*))

  /** Train all `m` codebooks: per subspace, seed from the k lowest
    * vec_ids' sub-vectors, refine with `iters` L2 Lloyd steps. Empty
    * corpus → empty result.
    *
    * All subspaces train TOGETHER: each iteration is ONE corpus scan
    * that assigns every subspace map-side and aggregates the exact
    * fixed-point partial sums keyed by (sub, code, pos) — m× fewer jobs
    * than training subspaces one at a time, with bit-identical sums
    * (the per-element arithmetic and grouping are unchanged, the groups
    * merely share a shuffle).
    *
    * Two r16-optimization-round experiments on this loop were measured
    * and REVERTED, kept as the exploded (sub, code, pos) shape below:
    *  - Narrow aggregate (ds sum columns + one count per
    *    (sub, code, size(sv)) group — 4 rows/vector instead of m·ds=64):
    *    interleaved A/Bs disagreed across box windows (one session
    *    −9%, a later 5-round sweep +9..18% on q_knn_pq, medians 1.41
    *    OLD vs 1.54 NEW), and the scale argument does not hold — the
    *    hash aggregate's map-side partial collapses each partition to
    *    model-sized (m·k·ds) groups in BOTH layouts, so shuffle volume
    *    is identical; the rewrite only trades per-row hash probes for
    *    wide Decimal(38) accumulator updates, the same trade that
    *    loses in [[KMeans.iterate]] (see its doc).
    *  - Respread of the iteration scans ([[Respread]]): added one
    *    shuffle stage to every Lloyd collect job and lost ~0.3 s per
    *    trainer query at sf0.1 — the assignment kernel is cheaper than
    *    the exchange. Differs from the shingle family, where the
    *    respread frame is persisted once and feeds several consumers.
    */
  def train(e: DataFrame, vecCol: String, d: Int, m: Int, k: Int,
      iters: Int): Seq[Codebook] = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val ds = d / m
    val nn = e.filter(col(vecCol).isNotNull)
    // one bounded model-state fetch seeds every subspace
    val seedRows = nn.filter(col("vec_id") < k)
      .select(col("vec_id"), col(vecCol)).collect().sortBy(_.getLong(0))
    if (seedRows.isEmpty) return Seq.empty
    var books: Seq[Seq[Centroid]] = (0 until m).map { s =>
      seedRows.map { r =>
        val v = r.getSeq[Double](1).slice(s * ds, (s + 1) * ds)
        Centroid(r.getLong(0), v, v.foldLeft(0.0)((a, x) => a + x * x))
      }.toSeq
    }
    var i = 0
    while (i < iters) {
      val terms = (0 until m).map { s =>
        struct(lit(s).as("sub"),
          (-bestEntry(books(s), subVec(vecCol, s, ds)).getField("nc"))
            .cast("int").as("code"),
          subVec(vecCol, s, ds).as("sv"))
      }
      val rows = nn.select(explode(array(terms: _*)).as("t"))
        .select(col("t.sub"), col("t.code"), posexplode(col("t.sv")))
        .groupBy("sub", "code", "pos")
        .agg(sum(floor(col("col") * lit(1e9)).cast(DecimalType(38, 0)))
          .as("s"), count(lit(1)).as("n"))
        .collect()
      books = (0 until m).map { s =>
        rows.filter(_.getInt(0) == s).groupBy(_.getInt(1))
          .map { case (code, dims) =>
            val comps = dims.sortBy(_.getInt(2)).map { r =>
              r.getDecimal(3).doubleValue() / 1.0e9 / r.getLong(4)
            }.toSeq
            // left-to-right fold, matching list_sum([x*x ...]) on the oracle
            Centroid(code.toLong, comps,
              comps.foldLeft(0.0)((a, x) => a + x * x))
          }.toSeq.sortBy(_.id)
      }
      i += 1
    }
    (0 until m).map(s => Codebook(s, ds, books(s)))
  }

  /** Map-only encode + reconstruct: adds `codes` (array of m ints — the
    * stored representation), `dv` (the reconstruction — concatenated
    * winning sub-centroids) and `dn` (its left-fold squared norm).
    */
  def encodeDecode(e: DataFrame, vecCol: String,
      books: Seq[Codebook]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val best = books.map(b =>
      bestEntry(b.cents, subVec(vecCol, b.sub, b.ds)))
    e.filter(col(vecCol).isNotNull)
      .withColumn("codes",
        array(best.map(b => (-b.getField("nc")).cast("int")): _*))
      .withColumn("dv", flatten(array(best.map(_.getField("cv")): _*)))
      .withColumn("dn", expr("dot_product(dv, dv)"))
  }

  /** Materialize the IVF-PQ index: each row stored as its coarse bucket
    * plus `m` code ints — the ONLY per-row state the serving side needs
    * (the full vectors stay in cold storage). Partitioned by bucket so
    * probes prune directories exactly like [[VectorIndex.buildIvf]];
    * at (d=64, m=4) the hot index is ~128× smaller than the IVF-Flat
    * store, which is what keeps a 100 TB corpus's ANN index resident.
    * Incremental appends follow [[VectorIndex.appendToIvf]]'s pattern:
    * bucket + codes depend only on the frozen models and the row itself.
    * `e` must carry (vec_id, `vecCol`, nrm) — the same corpus frame every
    * vector query builds.
    */
  def buildStore(e: DataFrame, vecCol: String, books: Seq[Codebook],
      cents: Seq[Centroid], path: String): Unit = {
    encodeDecode(e, vecCol, books)
      .withColumn("bucket", VectorIndex.assignBucket(cents, vecCol, "nrm"))
      .select(col("vec_id"), col("codes"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // rebuild resets the forget ledger, like VectorIndex.buildIvf —
    // cleared AFTER the write succeeds (r12 advice: a clear-first plus
    // a failed rebuild would leave the old store serving with the ban
    // list wiped)
    Tombstones.clear(e.sparkSession, path)
  }

  /** Forget vectors in the IVF-PQ serving store at takedown cost: one
    * staged ledger write; [[probeStore]] masks the ids, [[appendToStore]]
    * drops them at ingest (no resurrection). Same forget-ledger contract
    * as [[VectorIndex.takedownIvf]].
    */
  def takedownStore(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    Tombstones.add(spark, path, ids)

  /** Frame-based [[takedownStore]] — the [[Forget]] orchestrator's
    * scale path: the id frame rides [[Tombstones.addFrame]]'s
    * distributed anti-join, nothing materializes on the driver.
    */
  def takedownStoreFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, idsDf: org.apache.spark.sql.DataFrame): Unit =
    Tombstones.addFrame(spark, path,
      idsDf.select(org.apache.spark.sql.functions
        .col(idsDf.columns.head).cast("long").as("_ts_id")))

  /** Physical disposal of tombstoned codes — bucket-pruned rewrite,
    * same recipe (and same row identity) as [[VectorIndex.purgeIvf]].
    */
  def purgeStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    Tombstones.purgePartitions(spark, path, path, "bucket", "vec_id",
      Seq("vec_id"))

  /** Per-bucket small-file compaction of an appended IVF-PQ store —
    * the ONE maintenance entry point, and (r13 verdict item: every
    * store's maintenance tick must heal, so no store relies on a PROBE
    * to converge a crashed purge) it runs the same steps as
    * [[Bm25.compactIndex]] / [[VectorIndex.compactIvf]]: fold the forget
    * ledger's accumulated takedown files, then compact through
    * [[LogCompactor.compact]], which first completes or sweeps any
    * crashed purge (compacting a half-swapped partition would adopt
    * files a pending marker still governs).
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[LogCompactor.CompactionReport] = {
    Tombstones.compact(spark, path)
    LogCompactor.compact(spark, path, targetFileBytes,
      partitionPrefix = "bucket=")
  }

  /** Append a vector batch to a materialized IVF-PQ store — the 100 TB
    * shape is append-only ingestion, not nightly rebuilds. New rows are
    * bucket-assigned and encoded against the FROZEN models map-side
    * (bucket + codes depend only on the models and the row itself, so
    * append ≡ rebuild bit-exactly — spec-proven in
    * ProductQuantizerSpec), and land in the same `bucket=` partitions
    * via staged unique-dir writes ([[graft.core.Fs.stagedAppend]]), so
    * concurrent appenders cannot clobber each other's in-flight files
    * and the path works on `hdfs://`/`s3a://`. The codebooks are NOT
    * retrained — that is deliberate (retraining re-encodes the world);
    * watch [[driftReport]] to know when the frozen books have drifted
    * far enough from the arriving distribution to warrant a rebuild.
    */
  def appendToStore(e: DataFrame, vecCol: String, books: Seq[Codebook],
      cents: Seq[Centroid], path: String): Unit =
    graft.core.Fs.stagedAppend(
      encodeDecode(
          Tombstones.mask(e.sparkSession, path, e, "vec_id"),
          vecCol, books)
        .withColumn("bucket", VectorIndex.assignBucket(cents, vecCol, "nrm"))
        .select(col("vec_id"), col("codes"), col("bucket")),
      Seq("bucket"), path)

  /** Per-row quantization error of a reconstruction: `1 − cos(v, dv)` —
    * 0 when the codebooks represent the vector exactly, approaching 1
    * (or above, for anti-aligned reconstructions) as they stop being
    * able to. Input must carry (`vecCol`, nrm, dv, dn) — the shape
    * [[encodeDecode]] and [[decodeFromCodes]]-joined-with-corpus emit.
    */
  def qerr(vecCol: String = "v"): Column =
    lit(1.0) - call_function("dot_product", col(vecCol), col("dv")) /
      sqrt(col("nrm") * col("dn"))

  /** Codebook-drift report: exact fixed-point mean quantization error
    * per `legCol` group (e.g. 'train' vs 'append') — the metric that
    * tells an append-only index when its frozen codebooks no longer fit
    * the arriving distribution (the classic silent ANN decay: recall
    * sags with no error anywhere). Cross-engine exact: per-row errors
    * are floored at 1e-9 fixed point and summed as integers, so a
    * DuckDB oracle reproduces the mean bit-for-bit.
    */
  def driftReport(withDv: DataFrame, legCol: String,
      vecCol: String = "v"): DataFrame =
    withDv
      .withColumn("_qfp", floor(qerr(vecCol) * lit(1e9)).cast(DecimalType(38, 0)))
      .groupBy(col(legCol).as("leg"))
      .agg(count(lit(1)).as("n"), sum(col("_qfp")).as("_sfp"))
      .select(col("leg"), col("n"),
        round(col("_sfp").cast("double") / lit(1e9) /
          col("n").cast("double"), 6).as("mean_qerr"))

  /** Reconstruct `dv`/`dn` from STORED codes (no original vectors): per
    * subspace, a literal code→sub-centroid map lookup — map-only, the
    * codebooks are broadcast model state.
    */
  def decodeFromCodes(stored: DataFrame, books: Seq[Codebook]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(stored.sparkSession)
    val subs = books.map(b =>
      element_at(
        typedLit(b.cents.map(c => c.id.toInt -> c.v).toMap),
        col("codes").getItem(b.sub)))
    stored
      .withColumn("dv", flatten(array(subs: _*)))
      .withColumn("dn", expr("dot_product(dv, dv)"))
  }

  /** Broadcast probe frame: each query row fans out to its `nprobe`
    * nearest coarse buckets. `queries` must carry (query_id, qv, qn).
    */
  def probesOf(queries: DataFrame, cents: Seq[Centroid],
      nProbe: Int): DataFrame = {
    val terms = cents.map(c => struct(
      (call_function("dot_product", col("qv"), typedLit(c.v))
        / sqrt(lit(c.nrm) * col("qn"))).as("c"),
      lit(-c.id).as("nc")))
    queries.select(col("query_id"), col("qv"), col("qn"),
      explode(slice(sort_array(array(terms: _*), asc = false),
        1, nProbe)).as("p"))
      .select(col("query_id"), col("qv"), col("qn"),
        (-col("p.nc")).cast("int").as("bucket"))
  }

  /** Scored in-bucket candidates of one decoded index frame: the probe
    * join broadcasts, so a bucket-partitioned scan underneath gets its
    * partition list from dynamic partition pruning.
    */
  def candidates(idx: DataFrame, probes: DataFrame): DataFrame =
    idx.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx_cos",
        call_function("dot_product", col("qv"), col("dv"))
          / sqrt(col("qn") * col("dn")))
      .select(col("query_id"), col("vec_id"), col("approx_cos"))

  /** Per-query top-k over (possibly unioned) candidate frames. */
  def rankTopK(cand: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("approx_cos").desc, col("vec_id"))
    cand.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("approx_cos"))
  }

  /** Serving probe over a materialized store: read codes from the
    * `nprobe` nearest bucket partitions (dynamic partition pruning via
    * the broadcast probe frame, like [[VectorIndex.probe]]), reconstruct
    * map-side, score asymmetric, rank top-k. `queries` must carry
    * (query_id, qv, qn).
    */
  def probeStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      books: Seq[Codebook],
      cents: Seq[Centroid],
      nProbe: Int,
      topK: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // a store purged down to zero surviving codes in every bucket has
    // an empty layout whose schema inference would throw — serve the
    // typed empty answer instead
    if (!graft.core.Fs.listDataFiles(spark, path)
        .exists(_.contains("/bucket="))) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", LongType),
          StructField("rnk", IntegerType),
          StructField("neighbor_id", LongType),
          StructField("approx_cos", DoubleType))))
    }
    // purge gate: plain partitioned scan when no purge marker exists
    // (the always case); pinned exact snapshot while one does
    val idx = decodeFromCodes(graft.core.Commit.read(spark, path), books)
    // forget-ledger mask above the bucket join (same placement rationale
    // as VectorIndex.probe: answers = complement rebuild, pruning kept)
    rankTopK(
      Tombstones.mask(spark, path,
        candidates(idx, probesOf(queries, cents, nProbe)), "vec_id"),
      topK)
  }
}
