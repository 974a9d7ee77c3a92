package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Fs

import VectorIndex.Centroid

/** Distributed Lloyd k-means over an embedding column — the trainer that
  * produces the coarse-quantizer model [[VectorIndex]] and
  * [[SemanticDedup]] consume (their docs say "swap for k-means output in
  * production"; this is that trainer).
  *
  * Scale shape per iteration: the centroid set is MODEL STATE (k rows,
  * driver-side literals folded into a map-only projection, exactly like
  * [[VectorIndex.assignBucket]]), so assignment never shuffles the
  * corpus; the recompute aggregates per-(cluster, dimension) partial
  * sums — shuffle volume is numPartitions × k × d tiny rows, constant in
  * corpus size. That is the canonical Spark k-means shape: O(scan) per
  * iteration, model state on the driver.
  *
  * Cross-engine determinism (the property that lets a DuckDB oracle
  * replay TRAINING, not just inference): per-dimension member sums are
  * EXACT — each component is fixed-point-quantized by `floor(x · 1e9)`
  * (IEEE multiply + floor, bit-identical in any engine; a decimal CAST
  * here would hang the result on the engine's rounding mode at the last
  * scale digit) and summed as exact integers — and the new centroid
  * component is that exact sum cast to double, divided by 1e9 and the
  * member count in IEEE doubles. Both engines therefore compute
  * bit-identical centroids at every iteration, so assignments (cosine
  * argmax, lowest-id tie-break) match exactly. Summing raw doubles
  * instead would make centroids depend on partition order — the classic
  * nondeterminism this library's exact-arithmetic convention exists to
  * kill.
  *
  * Empty clusters drop (their id simply stops existing; both engines
  * derive membership identically so they drop in lockstep). Cluster ids
  * stay stable across iterations: a centroid keeps the id of the
  * centroid it refined.
  */
object KMeans {

  /** One Lloyd step: assign map-side to the frozen `cents`, recompute
    * exact per-dimension means. Returns refined centroids (sorted by id,
    * empty clusters dropped).
    *
    * Measured and deliberately KEPT as posexplode + (bucket, pos)
    * aggregation (r16 optimization pass): rewriting the recompute as one
    * d-wide sum-column aggregate per bucket — also tried (and likewise
    * reverted) for [[ProductQuantizer.train]]'s struct-exploded
    * sub-vectors — was tried twice here and lost both times at
    * d=64/sf0.1: a per-pos
    * (sum, count) pair layout (129 agg fields) falls past
    * spark.sql.codegen.maxFields (100) into interpreted aggregation (2×
    * slower), and a (bucket, size(v))-grouped layout with one count (67
    * fields, codegen on) still lost ~0.3 s per q_kmeans run — 64
    * Decimal(38) accumulator updates per input row cost more than the
    * flat exploded stream of one-add rows this shape feeds codegen.
    */
  def iterate(corpus: DataFrame, cents: Seq[Centroid]): Seq[Centroid] = {
    val rows = corpus
      .withColumn("bucket", VectorIndex.assignBucket(cents))
      .select(col("bucket"), posexplode(col("v")))
      .groupBy("bucket", "pos")
      .agg(sum(floor(col("col") * lit(1e9)).cast(DecimalType(38, 0)))
        .as("s"), count(lit(1)).as("n"))
      .collect()
    rows.groupBy(_.getInt(0))
      .map { case (bucket, dims) =>
        val comps = dims.sortBy(_.getInt(1)).map { r =>
          r.getDecimal(2).doubleValue() / 1.0e9 / r.getLong(3)
        }.toSeq
        // left-to-right fold, matching list_sum([x*x ...]) on the oracle
        val nrm = comps.foldLeft(0.0)((a, x) => a + x * x)
        Centroid(bucket.toLong, comps, nrm)
      }
      .toSeq.sortBy(_.id)
  }

  /** Persist a trained centroid set as parquet (id, v, nrm) — model
    * registry for the serving side: [[VectorIndex.buildIvf]] /
    * [[VectorIndex.appendToIvf]] / [[SemanticDedup]] consume the loaded
    * model without retraining. k×d doubles — KBs, one file.
    */
  def save(
      spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Centroid], path: String): Unit = {
    import spark.implicits._
    cents.map(c => (c.id, c.v, c.nrm)).toDF("id", "v", "nrm")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a saved model, sorted by centroid id (the order assignment
    * tie-breaks depend on).
    */
  def load(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Centroid] =
    Fs.readParquet(spark, path)
      .select("id", "v", "nrm").collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_.id).toSeq

  /** `iters` Lloyd refinements from the deterministic seed
    * ([[VectorIndex.centroidsFrom]]: the k lowest vec_ids).
    */
  def lloyd(corpus: DataFrame, k: Int, iters: Int): Seq[Centroid] = {
    var cents = VectorIndex.centroidsFrom(corpus, k)
    var i = 0
    while (i < iters && cents.nonEmpty) {
      cents = iterate(corpus, cents)
      i += 1
    }
    cents
  }
}
