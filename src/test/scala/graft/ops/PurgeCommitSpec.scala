package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Fs

/** The marker-committed physical purge (r12 verdict item 1: the r12
  * purge staged survivors INTO the live partition before deleting the
  * old files, so a concurrent probe double-counted every surviving row,
  * a crash left that state — plus a phantom `bucket=<p>.purge`
  * partition — PERSISTENTLY until a manual re-run, and rows landed by a
  * concurrent append were silently duplicated into the survivors).
  *
  * Contract under test: a purge commits per partition via an atomic
  * `_PURGE.<token>.<part>` marker; the [[Tombstones.readStore]] gate
  * serves exactly-once rows at EVERY protocol step — staged-not-moved,
  * the old r12 double-count window (staged moved in, old files still
  * present), partial old-file deletion — and after a crash at any of
  * them, with NO manual re-run; concurrent appends commute; healing
  * converges the directory to a clean state with no phantom partitions.
  */
class PurgeCommitSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Range) =
    ids.toDF("id").select(col("id").cast("long").as("vec_id"))
      .withColumn("v", expr(
        "transform(sequence(0, 15), j -> cos(vec_id * 13 + j))"))
      .withColumn("nrm", expr("dot_product(v, v)"))

  private def probeKey(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._2)).toSeq

  /** Drive the purge protocol BY HAND up to its commit point for one
    * hit partition and stop — the exact on-disk state a crash leaves:
    * survivors staged under the dot-prefixed dir, marker present, old
    * files untouched. Returns (partition value, old file names, token).
    */
  private def stageAndCommitOnly(path: String, ledgerPath: String,
      banned: Seq[Long]): (Int, Seq[String], String) = {
    val hit = spark.read.parquet(path)
      .filter(col("vec_id").isin(banned: _*))
      .select("bucket").distinct().collect().map(_.getInt(0)).head
    val pDir = s"$path/bucket=$hit"
    val old = Fs.list(spark, pDir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath)
    val token = java.util.UUID.randomUUID.toString
    Tombstones.mask(spark, ledgerPath,
        spark.read.parquet(old.map(_.toString): _*)
          .dropDuplicates("vec_id"),
        "vec_id")
      .write.mode("overwrite").parquet(s"$path/.purge.$token/bucket=$hit")
    val fs = Fs(spark, path)
    val marker = new Path(path, s"_PURGE.$token.bucket=$hit")
    val out = fs.create(marker, false)
    try out.write(old.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    (hit, old.map(_.getName), token)
  }

  test("a reader at EVERY purge step — committed-not-moved, the old " +
    "double-count window (survivors moved in, old files still there), " +
    "partial old deletion — sees exactly-once rows with no re-run") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = vecs(0 until 400)
    val cents = VectorIndex.centroidsFrom(e, 8)
    val path = java.nio.file.Files.createTempDirectory("pc1").toString
    VectorIndex.buildIvf(e, cents, path)
    val banned = Seq(101L, 154L, 207L, 313L)
    VectorIndex.takedownIvf(spark, path, banned)
    val q = e.filter(col("vec_id") >= 396)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val expected = probeKey(VectorIndex.probe(spark, path, q, cents, 3, 10))
    val totalAlive = 400L - banned.size

    val (hit, oldNames, token) = stageAndCommitOnly(path, path, banned)
    val hitAlive = Tombstones.readStore(spark, path)
      .filter(col("bucket") === hit).count()

    // STEP 1: committed, survivors still staged. The gate must count
    // each surviving row once and the probe must answer exactly.
    assert(Tombstones.readStore(spark, path)
      .filter(!col("vec_id").isin(banned: _*)).count() === totalAlive)
    assert(Tombstones.readStore(spark, path)
      .filter(col("bucket") === hit)
      .filter(col("vec_id").isin(banned: _*)).count() === 0L,
      "the committed partition's staged generation has already shed " +
        "its banned rows (other partitions keep theirs, masked)")
    assert(probeKey(VectorIndex.probe(spark, path, q, cents, 3, 10)) ===
      expected, "probe mid-purge (staged, committed, nothing moved)")

    // STEP 2: survivors moved into the live partition, old files NOT
    // yet deleted — the exact window where the r12 purge double-counted
    // every surviving row in the partition.
    Fs.moveDataFiles(spark, s"$path/.purge.$token/bucket=$hit",
      s"$path/bucket=$hit")
    assert(Tombstones.readStore(spark, path)
      .filter(col("bucket") === hit).count() === hitAlive,
      "survivors visible TWICE on disk must still read exactly once")
    assert(probeKey(VectorIndex.probe(spark, path, q, cents, 3, 10)) ===
      expected, "probe inside the old double-count window")

    // STEP 3: some old files deleted, marker still present.
    Fs.delete(spark, s"$path/bucket=$hit/${oldNames.head}")
    assert(probeKey(VectorIndex.probe(spark, path, q, cents, 3, 10)) ===
      expected, "probe during partial old-file deletion")

    // Healing converges the directory; answers unchanged; no marker,
    // no staging debris, no phantom partition, banned rows gone.
    assert(Tombstones.healPurges(spark, path) === 1)
    assert(probeKey(VectorIndex.probe(spark, path, q, cents, 3, 10)) ===
      expected)
    val names = Fs.list(spark, path).map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("_PURGE.") ||
      n.startsWith(".purge.")))
    assert(names.filter(_.startsWith("bucket=")).forall(
      _.matches("bucket=\\d+")), "no phantom partition values")
    assert(spark.read.parquet(path)
      .filter(col("vec_id").isin(banned: _*))
      .filter(col("bucket") === hit).count() === 0L)
    // and a plain directory read now agrees with the gate
    assert(spark.read.parquet(path).count() ===
      Tombstones.readStore(spark, path).count())
  }

  test("a crashed purge self-heals at the next maintenance call — no " +
    "operator re-run — and a concurrent append during the purge " +
    "commutes (its rows are neither lost nor duplicated)") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = vecs(0 until 300)
    val cents = VectorIndex.centroidsFrom(e, 6)
    val path = java.nio.file.Files.createTempDirectory("pc2").toString
    VectorIndex.buildIvf(e, cents, path)
    // ban three non-centroid ids from ONE bucket, so the whole takedown
    // rides the single partition whose purge this test crashes
    val hitBucket = spark.read.parquet(path).filter(col("vec_id") >= 6L)
      .groupBy("bucket").count()
      .orderBy(col("count").desc, col("bucket"))
      .head().getInt(0)
    val banned = spark.read.parquet(path)
      .filter(col("bucket") === hitBucket && col("vec_id") >= 6L)
      .orderBy("vec_id").limit(3)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    VectorIndex.takedownIvf(spark, path, banned)
    val (hit, _, _) = stageAndCommitOnly(path, path, banned)

    // an append lands in the SAME partition while the purge is pending
    // (crashed after its commit): pick fresh vectors that route to the
    // hit bucket so the append genuinely collides with the rewrite
    val fresh = vecs(1000 until 1100)
      .withColumn("b", VectorIndex.assignBucket(cents))
      .filter(col("b") === hit).drop("b")
    val nFresh = fresh.count()
    assert(nFresh > 0, "precondition: some fresh vectors hit the bucket")
    VectorIndex.appendToIvf(fresh, cents, path)

    // gate: appended rows exactly once, survivors exactly once
    val gated = Tombstones.readStore(spark, path)
    assert(gated.filter(col("vec_id") >= 1000L).count() === nFresh)
    assert(gated.filter(!col("vec_id").isin(banned: _*)).count() ===
      300L - banned.size + nFresh)

    // compaction is a maintenance entry point: it heals first, then
    // folds — afterwards the store is clean and still exact
    VectorIndex.compactIvf(spark, path)
    assert(!Fs.list(spark, path).map(_.getPath.getName)
      .exists(_.startsWith("_PURGE.")))
    val healed = spark.read.parquet(path)
    assert(healed.filter(col("vec_id") >= 1000L).count() === nFresh,
      "append rows survive the healed purge")
    assert(healed.filter(col("vec_id").isin(banned: _*)).count() === 0L,
      "banned rows are physically gone after healing")
    assert(healed.count() === 300L - banned.size + nFresh)
  }

  test("purgePartitions end-to-end leaves no marker, staging dir, or " +
    "phantom partition; a LEGACY r12-style crashed purge (duplicate " +
    "files, visible .purge sibling) converges on the next run") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = vecs(0 until 200)
    val cents = VectorIndex.centroidsFrom(e, 4)
    val path = java.nio.file.Files.createTempDirectory("pc3").toString
    VectorIndex.buildIvf(e, cents, path)
    val banned = Seq(50L, 61L)
    VectorIndex.takedownIvf(spark, path, banned)

    // fabricate the r12 crash state on one partition: survivors copied
    // in NEXT TO the old files (duplicates on disk) plus the visible
    // `bucket=<p>.purge` sibling dir partition discovery used to choke on
    val hit = spark.read.parquet(path)
      .filter(col("vec_id").isin(banned: _*))
      .select("bucket").distinct().collect().map(_.getInt(0)).head
    val pDir = s"$path/bucket=$hit"
    val legacy = s"$pDir.purge"
    Tombstones.mask(spark, path,
        spark.read.parquet(pDir).dropDuplicates("vec_id"), "vec_id")
      .write.mode("overwrite").parquet(legacy)
    Fs.stagedAppend(spark.read.parquet(legacy), Nil, pDir)

    // the new purge converges it: dedup on the row identity folds the
    // duplicate survivor files; the run completes clean
    assert(VectorIndex.purgeIvf(spark, path) > 0)
    Fs.delete(spark, legacy) // legacy sibling removed with r12 tooling
    val names = Fs.list(spark, path).map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("_PURGE.") ||
      n.startsWith(".purge.")))
    val rows = spark.read.parquet(path)
    assert(rows.filter(col("vec_id").isin(banned: _*)).count() === 0L)
    assert(rows.count() === 200L - banned.size,
      "duplicate legacy survivor files fold back to exactly-once rows")
    assert(rows.select("vec_id").distinct().count() === rows.count())
  }

  test("a TOTAL takedown (every row banned) purges every bucket empty " +
    "and probes serve typed-empty answers, not inference crashes") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = vecs(0 until 60)
    val cents = VectorIndex.centroidsFrom(e, 4)
    val ivf = java.nio.file.Files.createTempDirectory("pc5").toString
    VectorIndex.buildIvf(e, cents, ivf)
    VectorIndex.takedownIvf(spark, ivf, (0L until 60L).toSeq)
    assert(VectorIndex.purgeIvf(spark, ivf) > 0)
    val q = vecs(500 until 502)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val knn = VectorIndex.probe(spark, ivf, q, cents, 2, 5)
    assert(knn.count() === 0L)
    assert(knn.columns.toSeq ===
      Seq("query_id", "rnk", "neighbor_id", "cosine"))

    val d = (0 until 40).toDF("id")
      .select(col("id").cast("long").as("doc_id"))
      .withColumn("text", concat_ws(" ", lit("alpha"),
        concat(lit("x"), col("doc_id"))))
    val bm = java.nio.file.Files.createTempDirectory("pc6").toString
    Bm25.buildIndex(d, "doc_id", "text", bm)
    Bm25.takedownIndex(spark, bm, "doc_id", (0L until 40L).toSeq)
    assert(Bm25.purgeIndex(spark, bm, "doc_id") > 0)
    assert(Bm25.probeIndex(spark, bm, "doc_id", Seq("alpha"),
      topK = 10).count() === 0L)

    val books = ProductQuantizer.train(e, "v", d = 16, m = 4, k = 4,
      iters = 1)
    val pq = java.nio.file.Files.createTempDirectory("pc7").toString
    ProductQuantizer.buildStore(e, "v", books, cents, pq)
    ProductQuantizer.takedownStore(spark, pq, (0L until 60L).toSeq)
    assert(ProductQuantizer.purgeStore(spark, pq) > 0)
    assert(ProductQuantizer.probeStore(spark, pq, q, books, cents,
      nProbe = 2, topK = 5).count() === 0L)
  }

  test("flat signature store: marker-committed purge (store root as " +
    "the single partition) — load exact mid-crash, heal converges, " +
    "ledger stays in force, total purge serves typed-empty") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val base = (0 until 60).toDF("id")
      .select(col("id").cast("long").as("doc_id"))
      .withColumn("text", concat_ws(" ", lit("the quick brown fox"),
        concat(lit("tail"), col("doc_id"))))
    val path = java.nio.file.Files.createTempDirectory("pcf1").toString
    SignatureStore.build(base, path)
    val banned = Seq(4L, 5L)
    SignatureStore.takedown(spark, path, banned)
    def key() = SignatureStore.load(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val expected = key()
    assert(expected.size === 58 && !expected.contains(4L))

    // crash a purge after its commit point: survivors staged, marker
    // written with an EMPTY partDirName (the flat layout), olds intact
    val old = Fs.list(spark, path)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath)
    val token = java.util.UUID.randomUUID.toString
    Tombstones.mask(spark, path,
        spark.read.parquet(old.map(_.toString): _*)
          .dropDuplicates("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$path/.purge.$token")
    val fs = Fs(spark, path)
    val out = fs.create(new Path(path, s"_PURGE.$token."), false)
    try out.write(old.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()

    assert(key() === expected,
      "load over the crashed flat purge — exactly-once, no re-run")
    assert(Tombstones.healPurges(spark, path) === 1)
    assert(key() === expected)
    assert(spark.read.parquet(path)
      .filter(col("doc_id").isin(banned: _*)).count() === 0L,
      "banned signatures physically gone after healing")
    // ledger in force: a re-append is still dropped
    SignatureStore.appendSignatures(
      base.filter(col("doc_id").isin(banned: _*)), path)
    assert(key() === expected)

    // end-to-end purge on a fresh store, then a TOTAL takedown
    val p2 = java.nio.file.Files.createTempDirectory("pcf2").toString
    SignatureStore.build(base, p2)
    SignatureStore.takedown(spark, p2, Seq(7L))
    assert(SignatureStore.purge(spark, p2) === 1)
    assert(spark.read.parquet(p2).filter(col("doc_id") === 7L)
      .count() === 0L)
    assert(SignatureStore.purge(spark, p2) === 0,
      "nothing left to purge — the probe finds no banned rows")
    SignatureStore.takedown(spark, p2, (0L until 60L).toSeq)
    assert(SignatureStore.purge(spark, p2) === 1)
    val emptied = SignatureStore.load(spark, p2)
    assert(emptied.count() === 0L)
    assert(emptied.columns.toSeq === Seq("doc_id", "s", "sig"),
      "a fully-purged store serves the typed empty signature frame")
  }

  test("BM25 probe and stats stay exact over a crashed postings purge " +
    "and heal on the next compactIndex") {
    val d = (0 until 240).toDF("id")
      .select(col("id").cast("long").as("doc_id"))
      .withColumn("text", concat_ws(" ", lit("alpha beta"),
        concat(lit("w"), col("doc_id") % 7),
        concat(lit("x"), col("doc_id"))))
    val path = java.nio.file.Files.createTempDirectory("pc4").toString
    Bm25.buildIndex(d, "doc_id", "text", path)
    val banned = Seq(21L, 84L, 203L)
    Bm25.takedownIndex(spark, path, "doc_id", banned)
    val expected = Bm25.probeIndex(spark, path, "doc_id",
      Seq("alpha", "w3"), topK = 240).collect().toSeq
    val statsKey = Bm25.readStats(spark, path).select("n", "sdl").head()

    // crash a purge after its commit point on one term bucket
    val postings = s"$path/postings"
    val hit = spark.read.parquet(postings)
      .filter(col("doc_id").isin(banned: _*))
      .select("tb").distinct().collect().map(_.get(0).toString).head
    val pDir = s"$postings/tb=$hit"
    val old = Fs.list(spark, pDir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath)
    val token = java.util.UUID.randomUUID.toString
    Tombstones.mask(spark, path,
        spark.read.parquet(old.map(_.toString): _*)
          .dropDuplicates("doc_id", "term"),
        "doc_id")
      .write.mode("overwrite").parquet(s"$postings/.purge.$token/tb=$hit")
    val fs = Fs(spark, postings)
    val out = fs.create(new Path(postings, s"_PURGE.$token.tb=$hit"), false)
    try out.write(old.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()

    assert(Bm25.probeIndex(spark, path, "doc_id",
      Seq("alpha", "w3"), topK = 240).collect().toSeq === expected,
      "probe over the crashed purge — no re-run, no operator step")
    assert(Bm25.readStats(spark, path).select("n", "sdl").head() ===
      statsKey)

    Bm25.compactIndex(spark, path)
    assert(!Fs.list(spark, postings).map(_.getPath.getName)
      .exists(_.startsWith("_PURGE.")))
    assert(Bm25.probeIndex(spark, path, "doc_id",
      Seq("alpha", "w3"), topK = 240).collect().toSeq === expected)
  }
}
