package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Fs
import graft.ops.Decontaminate
import graft.streaming.IdempotentSink

/** Streaming curation: the inline (ingest-time) half of
  * [[TrainingDataPipeline]] — documents arrive as files, each micro-batch
  * is quality-gated, classifier-scored, and decontaminated against a
  * static eval set, and the survivors land through the exactly-once sink.
  * Every stage is stateless (map-only or stream-static broadcast join),
  * so there is no state store to size and a replayed micro-batch cannot
  * double-write (commit markers).
  *
  * Run: sbt "runMain graft.examples.StreamingCurationPipeline [sfDir] [workRoot]"
  *
  * `workRoot` hosts the incoming files, the exactly-once output store
  * AND the streaming checkpoint, and may be any Hadoop FileSystem URI —
  * ExamplePipelinesFsSpec drives it over graftfs: with outputs equal to
  * the local-FS run.
  */
object StreamingCurationPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workRoot = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("stream_curation").toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, workRoot)
    spark.stop()
  }

  /** Pipeline body; returns (curated count, arrived count) and asserts
    * stream ≡ batch, so a harness can compare runs across filesystems.
    */
  def run(spark: SparkSession, sfDir: String,
      work: String): (Long, Long) = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._

    val inDir = s"$work/incoming"
    val outDir = s"$work/curated"

    // simulate arrival: the corpus lands as two file generations
    val docs = Fs.readParquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(inDir)

    // static eval set (stand-in: every 7th doc) — broadcast once
    val evalSet = docs.filter(col("doc_id") % 7 === 0)

    val weights = Array.tabulate(1024)(f =>
      ((f.toLong * 2654435761L) % 2001 - 1000) / 1000.0)

    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(inDir)

    // stage 1+2 (map-only): length gate + hashed-bigram classifier gate
    val gated = incoming
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .withColumn("logit",
        call_function("bigram_logit", col("w"), typedLit(weights)))
      .filter(col("logit") > 0)

    // stage 3 (stateless stream-static broadcast, same plan
    // Decontaminate.streamGramFlags builds) + stage 4: drop any doc
    // sharing an exact 5-gram with the eval set, then land survivors
    // exactly-once — the contamination probe and the anti-join both run
    // inside the micro-batch, so a replay recomputes identical output
    // and the commit marker makes the rewrite a no-op
    val q = gated.select("doc_id", "text", "lang")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val dirty = Decontaminate.exactGramHits(
          batch, evalSet, "doc_id", "text", n = 5).select("doc_id")
        val curated = batch.join(broadcast(dirty), Seq("doc_id"), "left_anti")
        IdempotentSink.writeBatch(curated, outDir, id)
        ()
      }
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    q.processAllAvailable()

    // second generation arrives; only the new files are processed
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(inDir)
    q.processAllAvailable()
    q.stop()

    val curated = IdempotentSink.readCommitted(spark, outDir, Some(schema))
    val nCurated = curated.count()
    val nArrived = docs.count()
    println(s"curated corpus: $nCurated docs (of $nArrived arrived)")
    curated.groupBy("lang").count().orderBy("lang").show()

    // cross-check against the batch pipeline semantics
    val batchGated = docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .withColumn("logit",
        call_function("bigram_logit", col("w"), typedLit(weights)))
      .filter(col("logit") > 0)
      .select("doc_id", "text", "lang")
    val batchCurated = batchGated.join(
      broadcast(Decontaminate.exactGramHits(
        batchGated, evalSet, "doc_id", "text", n = 5).select("doc_id")),
      Seq("doc_id"), "left_anti")
    val streamIds = curated.select("doc_id").as[Long].collect().toSet
    val batchIds = batchCurated.select("doc_id").as[Long].collect().toSet
    println(s"stream ≡ batch: ${streamIds == batchIds}")
    require(streamIds == batchIds,
      "streaming curation must match the batch pipeline")

    (nCurated, nArrived)
  }
}
