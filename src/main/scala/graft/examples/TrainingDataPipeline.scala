package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Fs
import graft.ops.SignatureStore

/** Training-data curation pipeline over the `documents` corpus — the
  * shape a 100 TB pre-training data job takes, end to end:
  *
  *   0. cross-run suppression (Bloom sketch ledger of prior runs'
  *      fingerprints — map-side probe, exact verify)
  *   1. quality gate (codegen'd text heuristics, scan-level filter)
  *   2. exact dedup (hash groupBy — shuffle carries hashes, not text)
  *      + exact long-span self-dedup (keep-first over 6-word spans)
  *   3. near-dup dedup via the materialized MinHash signature store,
  *      eval decontamination (near-dup + exact-gram), semantic dedup,
  *      classifier gate, LM perplexity gate, DSIR importance selection
  *   4. deterministic stratified downsampling of the dominant language
  *   5. token accounting for the surviving corpus
  *   7b. shipped layout: z-ordered files + min/max stats ledger so every
  *      downstream reader data-skips
  *
  * Run: sbt "runMain graft.examples.TrainingDataPipeline [sfDir] [storeRoot]"
  *
  * `storeRoot` hosts every persistent artifact the pipeline creates
  * (suppression ledger, signature store, shard export, shipped layout,
  * PQ index) and may be ANY Hadoop FileSystem URI — the graftfs: run in
  * ExamplePipelinesFsSpec proves the whole pipeline is object-store
  * clean, with outputs equal to the local-FS run.
  */
object TrainingDataPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val storeRoot = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("training_pipeline").toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, storeRoot)
    spark.stop()
  }

  /** The pipeline body; returns the per-stage survivor counts (the
    * numbers the printed log shows) so a harness can compare runs across
    * filesystems.
    */
  def run(spark: SparkSession, sfDir: String,
      storeRoot: String): Seq[(String, Long)] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def rec(name: String, v: Long): Long = { counts += name -> v; v }

    val raw = Fs.readParquet(spark, s"$sfDir/documents.parquet")
    println(s"corpus: ${rec("corpus", raw.count())} docs")

    // 0. cross-run suppression: drop every document whose content
    //    fingerprint is already in the PREVIOUS training runs'
    //    suppression ledger (stand-in: every 9th doc's fingerprint,
    //    appended as one "run shard"). The Bloom probe passes misses
    //    map-side; only hits pay the exact verify join — at 100 TB the
    //    ledger sketch broadcasts where the exact key set cannot.
    val ledgerDir = s"$storeRoot/suppress_ledger/sketches"
    // null-safe fingerprint (BloomSuppress scaladoc): a bare md5num(text)
    // would drop null-text docs from BOTH probe branches, silently
    // misattributing their removal to suppression in the printed counts
    val prevRun = raw.filter(col("doc_id") % 9 === 0)
      .select(expr("md5num(coalesce(text, ''))").as("fp"))
    graft.ops.BloomSuppress.appendShard(
      prevRun, "fp", ledgerDir, "run_0", capacityKeys = 100000L)
    // localCheckpoint: truncate the plan here (DedupClusters idiom) — the
    // pipeline chains a dozen stages on one lineage and the suppression
    // union would otherwise ride inside every downstream plan string
    val docs = graft.ops.BloomSuppress.antiJoinSketch(
        raw.withColumn("fp", expr("md5num(coalesce(text, ''))")), prevRun, "fp",
        graft.ops.BloomSuppress.ledgerSketch(spark, ledgerDir))
      .drop("fp").localCheckpoint()
    println(s"after cross-run suppression: ${rec("suppressed", docs.count())}")

    // 1. quality gate: length + stopword-density heuristics, one scan
    val quality = docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens") >= 5)
    println(s"after quality gate: ${rec("quality", quality.count())}")

    // 2. exact dedup: keep the lowest doc_id per content hash
    val exactKept = quality
      .withColumn("h", md5(col("text")))
      .withColumn("keep", col("doc_id") === min("doc_id")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("keep")).drop("h", "keep")
    println(s"after exact dedup: ${rec("exact", exactKept.count())}")

    // 2b. exact long-span self-dedup: drop docs repeating a 6-word span
    //     already seen in an earlier doc (verbatim reuse that
    //     document-level near-dup misses)
    val spanKept = graft.ops.SelfDedup
      .markSpans(exactKept, "doc_id", "text", n = 6)
      .filter(col("kept")).select("doc_id")
    val spanDeduped = exactKept.join(spanKept, Seq("doc_id"), "left_semi")
    println(s"after span self-dedup: ${rec("span", spanDeduped.count())}")

    // 3. near-dup dedup: build the signature store once, drop the higher
    //    doc_id of every pair with jaccard >= 0.5
    val storeDir = s"$storeRoot/sigstore"
    SignatureStore.build(spanDeduped.select("doc_id", "text"), storeDir)
    val store = SignatureStore.load(spark, storeDir)
    val nearDupLosers = SignatureStore
      .incrementalNearDups(store.limit(0), spanDeduped.select("doc_id", "text"))
      .select(col("bi").as("doc_id")).distinct()
    val deduped = spanDeduped.join(nearDupLosers, Seq("doc_id"), "left_anti")
    println(s"after near-dup dedup: ${rec("neardup", deduped.count())}")

    // 3b. eval decontamination: scrub near-matches to the held-out eval
    //     slice (stand-in: every 7th doc) — eval side broadcast, corpus
    //     never shuffles
    val evalSet = docs.filter(col("doc_id") % 7 === 0)
    val decontaminated = graft.ops.Decontaminate.clean(
      deduped.filter(col("doc_id") % 7 =!= 0), evalSet, "doc_id", "text")
    println(s"after decontamination: " +
      s"${rec("decontaminated", decontaminated.count())}")

    // 3c. exact-snippet decontamination: the n-gram collision rule
    //     catches verbatim eval quotes that document-level Jaccard
    //     misses — eval gram set broadcast, corpus probed map-side
    val gramHits = graft.ops.Decontaminate.exactGramHits(
      decontaminated, evalSet, "doc_id", "text", n = 5)
    val exactClean = decontaminated.join(
      broadcast(gramHits.select("doc_id")), Seq("doc_id"), "left_anti")
    println(s"after exact-gram decontamination: " +
      s"${rec("exact_gram", exactClean.count())}")

    // 3d. semantic dedup on the embedding view of the corpus (SemDeDup):
    //     coarse clusters from frozen centroids, drop near-identical
    //     vectors within each cluster
    val emb = Fs.readParquet(spark, s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("dot_product(v, v)"))
    val cents = graft.ops.VectorIndex.centroidsFrom(emb, 16)
    val semMarked = graft.ops.SemanticDedup.mark(
      emb.withColumn("bucket", graft.ops.VectorIndex.assignBucket(cents)),
      "vec_id", threshold = 0.4)
    println(s"semantic dedup over embeddings: " +
      s"${rec("sem_kept", semMarked.filter(col("kept")).count())} kept of " +
      s"${rec("sem_total", semMarked.count())}")

    // 3e. model-based quality gate: hashed-bigram linear classifier
    //     (deterministic stand-in weights; swap for trained ones) —
    //     map-only scoring, gate on the logit sign
    val scored = exactClean
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .withColumn("fs", expr(
        """transform(sequence(1, size(w) - 1),
             i -> md5num(concat_ws(' ', w[i-1], w[i])) % 1024)"""))
      .withColumn("logit", expr(
        """aggregate(fs, cast(0.0 as double),
             (acc, f) -> acc + ((f * 2654435761L) % 2001 - 1000) / 1000.0)""")
        / size(col("fs")))
      .filter(col("logit") > 0).drop("w", "fs", "logit")
    println(s"after classifier gate: ${rec("classifier", scored.count())}")

    // 3f. LM-based selection: quantized bigram perplexity gate (CCNet
    //     shape) and DSIR importance weighting against the eval-shaped
    //     target slice — both models broadcast, scoring map-side
    val lm = graft.ops.NgramLm.train(scored, "doc_id", "text")
    val lmGated = scored.join(
      graft.ops.NgramLm.score(scored, "doc_id", "text", lm)
        .filter(col("bits_per_token") <= 5.5).select("doc_id"),
      Seq("doc_id"), "left_semi")
    println(s"after LM perplexity gate: ${rec("lm_gated", lmGated.count())}")
    val dsirTop = graft.ops.NgramLm
      .importanceWeights(lmGated, evalSet, "doc_id", "text")
      .orderBy(col("w").desc, col("doc_id")).limit(50).select("doc_id")
    println(s"DSIR top-50 by importance weight: " +
      s"${rec("dsir_top", dsirTop.count())}")

    // 4. stratified downsample: keep 20% of dominant 'en', 60% of tail —
    //    hash-gated, reproducible on any cluster
    val sampled = scored.filter(expr(
      """md5num(cast(doc_id as string)) % 10 <
         case when lang = 'en' then 2 else 6 end"""))
    println("sampled per lang:")
    sampled.groupBy("lang").count().orderBy("lang").show()

    // 5. exact per-language cap (deterministic hash order, planned as
    //    WindowGroupLimit — each partition ships at most K rows per lang)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(expr("md5num(cast(doc_id as string))"), col("doc_id"))
    val capped = sampled
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 40)
      .drop("rn")
    println(s"after per-lang cap: ${rec("capped", capped.count())}")

    // 6. token accounting for what survived, with data-quality counters
    //    riding the SAME action (observe() — no extra scan)
    val (instrumented, gates) = graft.ops.QualityGates.instrument(
      capped, "pipeline_out", nullCols = Seq("text", "lang"))
    instrumented
      .select(col("lang"), size(split(col("text"), " ")).as("tokens"))
      .groupBy("lang")
      .agg(sum("tokens").as("total_tokens"), count(lit(1)).as("docs"))
      .orderBy("lang").show()
    val violations = graft.ops.QualityGates.violations(gates)
    println(s"quality gate: rows=${gates.get("rows")} " +
      (if (violations.isEmpty) "clean" else s"VIOLATIONS: $violations"))

    // 6b. REAL token accounting: train a subword vocabulary on the
    //     surviving corpus (one bounded aggregate) and count encoded
    //     subwords — the number the training run actually consumes
    val vocab = graft.ops.SubwordTokenizer.trainVocab(capped, "text", 48)
    graft.ops.SubwordTokenizer.tokenize(capped, "text", vocab)
      .select(col("lang"), size(col("toks")).cast("long").as("subwords"))
      .groupBy("lang")
      .agg(sum("subwords").as("total_subwords"), count(lit(1)).as("docs"))
      .orderBy("lang").show()

    // 7. training layout: curriculum phases (easy→hard by length, exact
    //    NTILE without a single-partition window) and token-balanced
    //    shard assignment (global rank, round-robin deal)
    val toks = capped.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tokens"))
    graft.ops.GlobalRank.ntile(
        toks, Seq(col("tokens"), col("doc_id")), 4, "phase")
      .groupBy("phase").agg(count(lit(1)).as("docs"),
        sum("tokens").as("tokens"))
      .orderBy("phase").show()
    val shardDir = s"$storeRoot/shards"
    val stats = graft.ops.ShardExporter.export(
      toks, "tokens", Seq(col("doc_id")), 4, shardDir)
    stats.foreach(s => println(
      f"shard=${s.shard} docs=${s.nDocs} tokens=${s.weight} " +
        f"balance=${s.balanceRatio}%.4f"))

    // 7b. shipped layout: the final corpus as an incrementally-
    //     maintained CLUSTERED STORE (Hilbert layout + versioned
    //     manifest) on its two hot filter keys — downstream readers
    //     skip to their slice from the manifest instead of opening
    //     footers, the NEXT run's additions absorb via bounded-scope
    //     appends instead of a full re-layout, and every shipped
    //     version stays readable until vacuum
    val layoutDir = s"$storeRoot/layout"
    val shipped = capped.withColumn("n_chars", col("n_chars").cast("long"))
    graft.ops.ClusteredStore.init(
      shipped, Seq("doc_id", "n_chars"), 8, layoutDir)
    val slice = graft.ops.ClusteredStore.readPruned(spark, layoutDir,
      Seq(graft.ops.StatsLedger.Box.between("n_chars", 0L, 200L)))
    println(s"short-doc slice via manifest-pruned read: " +
      s"${rec("ledger_slice", slice.count())} docs")

    // 8. serving-side index over the corpus embeddings: trained coarse
    //    quantizer (k-means) + trained PQ codebooks → a materialized
    //    IVF-PQ code store (m ints per row, bucket-partitioned — probes
    //    read nprobe directories of an index ~128× smaller than the
    //    vectors). This is the retrieval index a curated corpus ships
    //    with; StreamIndex appends later arrivals exactly-once.
    val evec = Fs.readParquet(spark, s"$sfDir/embeddings.parquet")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("dot_product(v, v)"))
    val cents2 = graft.ops.KMeans.lloyd(evec, 8, 2)
    val books = graft.ops.ProductQuantizer.train(evec, "v", 64, 4, 8, 2)
    val idxDir = s"$storeRoot/pq_index"
    graft.ops.ProductQuantizer.buildStore(evec, "v", books, cents2, idxDir)
    val q8 = evec.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val probed = graft.ops.ProductQuantizer.probeStore(
      spark, idxDir, q8, books, cents2, nProbe = 2, topK = 3)
      .orderBy("query_id", "rnk")
    probed.show()
    rec("probe_rows", probed.count())

    counts.toSeq
  }
}
