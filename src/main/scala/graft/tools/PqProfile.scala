package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Fs
import graft.queries.Registry

/** Phase-level profile of the PQ bench pair (`q_knn_pq`,
  * `q_knn_ivfpq`) — the r12/r13/r14 watch item. Both queries train
  * their quantizers IN-QUERY (deliberately: the oracle replays the
  * training cross-engine), so a bench creep could hide in (a) the
  * corpus scan, (b) the coarse k-means, (c) the m-subspace codebook
  * Lloyd, or (d) the serving join — this main times each phase
  * separately, several reps, and prints per-rep JSON lines plus a
  * min-composite so the NOTES entry can carry receipts instead of
  * another "load" explanation.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.PqProfile [reps]
  */
object PqProfile {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime
      val a = f
      ((System.nanoTime - t0) / 1e9, a)
    }
    val full = Registry.all.filter(q =>
      q.name == "q_knn_pq" || q.name == "q_knn_ivfpq")

    // untimed warmup (codegen, fs cache), mirroring Bench
    full.foreach(q => q.spark(spark, sfDir).write.format("noop")
      .mode("overwrite").save())

    val mins = scala.collection.mutable.Map[String, Double]()
      .withDefaultValue(Double.MaxValue)
    (1 to reps).foreach { rep =>
      spark.catalog.clearCache()
      val e = Fs.readParquet(spark, s"$sfDir/embeddings.parquet")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("nrm", expr("dot_product(v, v)"))
      val (tScan, _) = t(e.write.format("noop").mode("overwrite").save())
      // kmK=8 / kmIters=2: CurationQueries' documented constants
      val (tLloyd, cents) = t(graft.ops.KMeans.lloyd(e, 8, 2))
      val (tTrain, books) = t(graft.ops.ProductQuantizer.train(
        e, "v", 64, 4, 8, 2))
      val (tEncode, _) = t(
        graft.ops.ProductQuantizer.encodeDecode(e, "v", books)
          .withColumn("bucket", graft.ops.VectorIndex.assignBucket(cents))
          .write.format("noop").mode("overwrite").save())
      val phases = Map("corpus_scan" -> tScan, "kmeans" -> tLloyd,
        "pq_train" -> tTrain, "encode_bucket" -> tEncode)
      val fulls = full.map { q =>
        val (tq, _) = t(q.spark(spark, sfDir).write.format("noop")
          .mode("overwrite").save())
        q.name -> tq
      }.toMap
      (phases ++ fulls).foreach { case (k, v) =>
        mins(k) = math.min(mins(k), v) }
      val line = (phases ++ fulls).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString(",")
      println(s"""{"rep":$rep,$line}""")
    }
    val line = mins.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
    println(s"""{"min_composite":{$line}}""")
    spark.stop()
  }
}
