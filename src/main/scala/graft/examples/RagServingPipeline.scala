package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Fs
import graft.ops.{Bm25, KMeans, ProductQuantizer}

/** Retrieval serving pipeline over the curated corpus — the query-side
  * complement of [[TrainingDataPipeline]]: materialize both retrieval
  * indexes offline, then serve a hybrid query entirely from them.
  *
  *   1. BM25 inverted index: postings partitioned by term bucket
  *      (probe prunes to the query's own terms' partitions), appended
  *      incrementally as the corpus grows
  *   2. dense index: k-means coarse quantizer + PQ codes — the
  *      memory-bounded billion-vector shape (m ints per stored row)
  *   3. query time: lexical top-k from the postings store, dense top-k
  *      from the probed PQ buckets, reciprocal-rank fusion, MMR
  *      diversity re-rank of the fused head
  *
  * Run: sbt "runMain graft.examples.RagServingPipeline [sfDir]"
  */
object RagServingPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val base = java.nio.file.Files
      .createTempDirectory("rag_serving").toString

    // ---- offline: build the two indexes --------------------------------
    val docs = Fs.readParquet(spark, s"$sfDir/documents.parquet")
    Bm25.buildIndex(docs, "doc_id", "text", s"$base/bm25", nBuckets = 16)
    println(s"bm25 index built over ${docs.count()} docs")

    val emb = Fs.readParquet(spark, s"$sfDir/embeddings.parquet")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("dot_product(v, v)"))
    val cents = KMeans.lloyd(emb, k = 16, iters = 2)
    val codebooks = ProductQuantizer.train(
      emb, "v", d = 64, m = 4, k = 8, iters = 2)
    ProductQuantizer.buildStore(emb, "v", codebooks, cents, s"$base/pq")
    println("pq code store built (4 ints per stored vector)")

    // ---- online: one hybrid query --------------------------------------
    val terms = Seq("spark", "vector", "stream", "hash")
    val lex = Bm25.probeIndex(spark, s"$base/bm25", "doc_id", terms,
        topK = 20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_fp").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))

    val q = emb.filter(col("vec_id") === 3)
      .select(lit(0L).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val dense = ProductQuantizer.probeStore(
        spark, s"$base/pq", q, codebooks, cents, nProbe = 4, topK = 20)
      .select(col("neighbor_id").as("doc_id"),
        col("rnk").cast("long").as("vec_rank"))

    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")),
          lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("vec_rank").cast("double")),
            lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(15)
    println("fused head:")
    fused.show(15, truncate = false)

    // diversity re-rank of the fused head: re-attach vectors, one
    // bounded MMR pass map-side
    val head = fused.join(emb.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      .withColumn("rel", col("rrf"))
    val reranked = head
      .agg(collect_list(struct(col("doc_id").as("id"), col("v"),
        col("rel"))).as("cands"))
      .select(posexplode(expr("mmr_select(cands, 0.7, 8)")))
      .select((col("pos") + 1).as("final_rank"), col("col.id").as("doc_id"),
        round(col("col.score"), 6).as("mmr_score"))
    println("final diversified ranking:")
    reranked.show(8, truncate = false)
    assert(reranked.count() == 8, "serving pipeline must return 8 results")

    spark.stop()
  }
}
