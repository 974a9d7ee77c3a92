package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Fs
import graft.ops.{ProductQuantizer, VectorIndex}
import graft.ops.ProductQuantizer.Codebook
import graft.ops.VectorIndex.Centroid

/** Streaming ANN index maintenance — the missing piece between the
  * batch-built IVF-PQ store and a corpus that never stops arriving:
  * new embedding rows stream in, are bucket-assigned and PQ-encoded
  * MAP-SIDE against the frozen models (stream-static, stateless — the
  * models are literals, so there is no state store, no watermark, no
  * shuffle in the streaming plan), and land as an exactly-once code
  * TAIL through [[IdempotentSink]] — a crashed/replayed micro-batch can
  * never double a vector.
  *
  * Serving unions two physical layouts, mirroring every log-structured
  * index (the LSM shape): the MAIN store ([[ProductQuantizer.buildStore]],
  * bucket-partitioned, probes prune directories via dynamic partition
  * pruning) plus the TAIL (recent exactly-once batch dirs, scanned fully
  * but bounded by fold cadence). Folding the committed tail into the
  * main store is a batch rebuild/append over `readCommitted` rows — the
  * same frozen-model assignment, so fold ≡ having built from the full
  * corpus (spec-proven).
  */
object StreamIndex {

  /** Stored-tail schema — keeps an empty (not-yet-committed) tail
    * queryable and unionable with the main store.
    */
  val tailSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType, containsNull = false)),
    StructField("bucket", IntegerType)))

  /** Stateless stream-static encode: (vec_id, v, nrm) rows → (vec_id,
    * codes, bucket) against the frozen codebooks + coarse centroids.
    * Pure projection — safe on streaming frames.
    */
  def encode(stream: DataFrame, books: Seq[Codebook],
      cents: Seq[Centroid]): DataFrame =
    ProductQuantizer.encodeDecode(stream, "v", books)
      .withColumn("bucket", VectorIndex.assignBucket(cents, "v", "nrm"))
      .select(col("vec_id"), col("codes"), col("bucket"))

  /** Exactly-once tail maintenance: encoded stream → committed batch
    * dirs under `tailPath`.
    */
  def start(stream: DataFrame, books: Seq[Codebook], cents: Seq[Centroid],
      tailPath: String, checkpoint: String): StreamingQuery =
    IdempotentSink.start(encode(stream, books, cents), tailPath, checkpoint)

  /** Serving probe over main store ∪ committed tail. The two sides are
    * probed SEPARATELY and their candidates unioned before the one
    * top-k rank, so the main store's bucket-partitioned scan keeps its
    * dynamic partition pruning (a union below the probe join would
    * defeat DPP); the tail side is a bounded full scan by design.
    */
  def probeWithTail(
      spark: SparkSession,
      mainPath: String,
      tailPath: String,
      queries: DataFrame,
      books: Seq[Codebook],
      cents: Seq[Centroid],
      nProbe: Int,
      topK: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val probes = ProductQuantizer.probesOf(queries, cents, nProbe)
    val main = ProductQuantizer.candidates(
      ProductQuantizer.decodeFromCodes(
        Fs.readParquet(spark, mainPath), books), probes)
    val tail = ProductQuantizer.candidates(
      ProductQuantizer.decodeFromCodes(
        IdempotentSink.readCommitted(spark, tailPath, Some(tailSchema))
          .select(col("vec_id"), col("codes"), col("bucket")), books),
      probes)
    ProductQuantizer.rankTopK(main.unionByName(tail), topK)
  }
}
