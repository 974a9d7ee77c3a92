package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Fs

/** The forget ledger's scale contract, lifecycle, and stats races (r12
  * verdict items 3 & 6, advice items 1 & 4):
  *
  *  - `add` dedupes via a DISTRIBUTED anti-join — never a full-ledger
  *    driver collect — and `mask` drops its broadcast hint past the
  *    byte bound (the `LiteralKeyMax`/`DvBroadcastMaxKeys` discipline
  *    one layer up), with answers identical on both paths;
  *  - `compact` folds a decade of takedown files into one deduped
  *    generation, land-before-delete so a reader (or a crash) between
  *    the steps sees duplicates that every consumer dedupes — never an
  *    empty ledger (which would transiently un-ban everything);
  *  - duplicate ledger rows from concurrent takedowns of one id
  *    subtract ONCE from the BM25 corpus stats;
  *  - an append that raced its takedown (postings committed after the
  *    dl-recovery scan) is healed by `reconcileStats` — corpus totals
  *    return to the exact complement recompute.
  */
class TombstoneLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("mask past the byte bound plans a SHUFFLE anti-join (no forced " +
    "broadcast), under it a broadcast — answers identical; add " +
    "dedupes against a large ledger without collecting it") {
    val store = java.nio.file.Files.createTempDirectory("tl1").toString
    // a ledger that outgrew takedown scale: 200k accumulated ids,
    // written the way years of adds would leave it
    spark.range(0, 200000, 2)
      .select(col("id").as("_ts_id"), lit(0L).as("_ts_n"))
      .write.mode("overwrite").parquet(s"$store/_tombstones")
    val data = spark.range(0, 300000)
      .select(col("id").as("doc_id"), (col("id") % 7).as("x"))

    def bhjAnti(df: org.apache.spark.sql.DataFrame) = {
      df.collect() // materialize so AQE settles the final plan
      df.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
    }
    // the contract is about the FORCED hint — kill the planner's own
    // size-based broadcast so the hint is the only broadcast source
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
      val broadcasted = Tombstones.mask(spark, store, data, "doc_id",
        broadcastMaxBytes = Long.MaxValue)
      val shuffled = Tombstones.mask(spark, store, data, "doc_id",
        broadcastMaxBytes = 0L)
      assert(bhjAnti(broadcasted),
        "under the bound the mask keeps its broadcast shape")
      assert(!bhjAnti(shuffled),
        "past the bound the mask must not force a megabroadcast")
      assert(shuffled.count() === broadcasted.count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val shuffled = Tombstones.mask(spark, store, data, "doc_id",
      broadcastMaxBytes = 0L)
    assert(shuffled.count() === 300000L - 100000L)
    assert(shuffled.filter(col("doc_id") % 2 === 0 &&
      col("doc_id") < 200000).count() === 0L)

    // add against the large ledger: already-banned ids drop in the
    // anti-join (no payload double-record), fresh ids land once
    Tombstones.add(spark, store, Seq(0L, 2L, 4L, 999999L, 999999L),
      payload = Map(999999L -> 42L))
    val led = spark.read.parquet(s"$store/_tombstones")
    assert(led.filter(col("_ts_id") === 999999L).count() === 1L)
    assert(led.filter(col("_ts_id") === 999999L)
      .select("_ts_n").head().getLong(0) === 42L)
    assert(led.filter(col("_ts_id").isin(0L, 2L, 4L)).count() === 3L,
      "already-banned ids must not gain duplicate rows from a replay")
  }

  test("compact folds N takedown files into one deduped generation — " +
    "ids identical, max payload wins (a corrective row supersedes its " +
    "stale shadow), a later add still works") {
    val store = java.nio.file.Files.createTempDirectory("tl2").toString
    Tombstones.add(spark, store, Seq(1L, 2L), Map(1L -> 10L, 2L -> 20L))
    Tombstones.add(spark, store, Seq(3L), Map(3L -> 30L))
    Tombstones.add(spark, store, Seq(4L, 5L))
    // duplicate rows for id 2 (a concurrent takedown + a corrective
    // payload), exactly what the dedup rule must fold to max
    Tombstones.appendLedgerRows(spark, store,
      Seq((2L, 0L), (2L, 25L)).toDF("_ts_id", "_ts_n"))
    val beforeIds = Tombstones.ids(spark, store).get
      .collect().map(_.getLong(0)).sorted.toSeq
    val nFiles = (d: String) => Fs.list(spark, d)
      .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    assert(nFiles(s"$store/_tombstones") >= 4)

    assert(Tombstones.compact(spark, store))
    assert(nFiles(s"$store/_tombstones") === 1,
      "a decade of takedowns folds to one file")
    val led = spark.read.parquet(s"$store/_tombstones")
    assert(led.count() === 5L, "one row per id after the fold")
    assert(Tombstones.ids(spark, store).get
      .collect().map(_.getLong(0)).sorted.toSeq === beforeIds)
    assert(led.filter(col("_ts_id") === 2L)
      .select("_ts_n").head().getLong(0) === 25L,
      "max payload survives the fold")
    assert(!Tombstones.compact(spark, store),
      "an already-folded ledger is a no-op")
    Tombstones.add(spark, store, Seq(9L))
    assert(Tombstones.ids(spark, store).get.count() === 6L)
  }

  test("a FAILED rebuild leaves the forget ledger in force — the old " +
    "index keeps masking banned ids (clear-after-write ordering)") {
    val d = (0 until 80).toDF("id")
      .select(col("id").cast("long").as("doc_id"))
      .withColumn("text", concat_ws(" ", lit("alpha beta"),
        concat(lit("x"), col("doc_id"))))
    val path = java.nio.file.Files.createTempDirectory("tl5").toString
    Bm25.buildIndex(d, "doc_id", "text", path)
    Bm25.takedownIndex(spark, path, "doc_id", Seq(13L))

    // (a) a rebuild that fails BEFORE its write starts (bad corpus
    // schema, caught at analysis): the clear-first ordering wiped the
    // ban list here while the OLD index kept serving whole — the exact
    // compliance hole of the r12 advice
    intercept[Exception] {
      Bm25.buildIndex(d.drop("text"), "doc_id", "text", path)
    }
    assert(Tombstones.exists(spark, path),
      "the ban list must survive a failed-before-write rebuild")
    val served = Bm25.probeIndex(spark, path, "doc_id", Seq("alpha"),
      topK = 80)
    assert(served.filter(col("doc_id") === 13L).count() === 0L,
      "the old index keeps masking the banned id")
    assert(served.count() === 79L,
      "every surviving doc still serves from the intact old index")

    // (b) a rebuild whose WRITE fails mid-execution (every task
    // throws): the store may be left partial — a documented rebuild
    // gap — but the ban list still survives, so banned ids can never
    // surface from whatever remains or gets appended later
    val poison = d.withColumn("text",
      when(col("doc_id") >= 0, expr("raise_error('rebuild write failed')"))
        .otherwise(col("text")))
    intercept[Exception] {
      Bm25.buildIndex(poison, "doc_id", "text", path)
    }
    assert(Tombstones.exists(spark, path),
      "the ban list must survive a failed-mid-write rebuild")
    assert(Bm25.probeIndex(spark, path, "doc_id", Seq("alpha"),
      topK = 80).filter(col("doc_id") === 13L).count() === 0L)
  }

  test("duplicate ledger rows for one banned doc subtract ONCE from " +
    "the BM25 corpus stats (concurrent takedowns commute)") {
    val d = (0 until 120).toDF("id")
      .select(col("id").cast("long").as("doc_id"))
      .withColumn("text", concat_ws(" ", lit("alpha beta gamma"),
        concat(lit("x"), col("doc_id"))))
    val path = java.nio.file.Files.createTempDirectory("tl3").toString
    Bm25.buildIndex(d, "doc_id", "text", path)
    Bm25.takedownIndex(spark, path, "doc_id", Seq(7L))
    val dl7 = spark.read.parquet(s"$path/_tombstones")
      .filter(col("_ts_id") === 7L).select("_ts_dl").head().getLong(0)
    assert(dl7 === 4L)
    // the second concurrent takedown's row: add's anti-join is
    // check-then-append, so an interleaving can land this duplicate
    Tombstones.appendLedgerRows(spark, path,
      Seq((7L, dl7)).toDF("_ts_id", "_ts_dl"))
    val st = Bm25.readStats(spark, path).select("n", "sdl").head()
    val complement = Bm25.corpusStats(
      d.filter(col("doc_id") =!= 7L), "text")
      .select("n", "sdl").head()
    assert(st === complement,
      "duplicate (id, dl) rows must not double-subtract n or sdl")
  }

  test("an append that raced its takedown (postings + stats delta " +
    "committed after the recovery scan) is healed by reconcileStats") {
    val d = (0 until 100).toDF("id")
      .select(col("id").cast("long").as("doc_id"))
      .withColumn("text", concat_ws(" ", lit("alpha beta"),
        concat(lit("x"), col("doc_id"))))
    val racer = d.filter(col("doc_id") === 55L)
    val path = java.nio.file.Files.createTempDirectory("tl4").toString
    // index built WITHOUT doc 55; the takedown records dl = 0 for it
    Bm25.buildIndex(d.filter(col("doc_id") =!= 55L), "doc_id", "text",
      path)
    Bm25.takedownIndex(spark, path, "doc_id", Seq(55L))
    // the racy append's footprint: it read the ledger BEFORE the ban
    // landed, so its postings and stats delta commit unmasked — write
    // exactly what Fs.stagedAppend would have left
    import spark.implicits._
    val nBuckets = spark.read.parquet(s"$path/stats")
      .agg(max("n_buckets")).as[Long].head()
    Fs.stagedAppend(
      Bm25.postings(racer, "doc_id", "text")
        .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets))),
      Seq("tb"), s"$path/postings")
    Fs.stagedAppend(
      Bm25.corpusStats(racer, "text").drop("avgdl")
        .withColumn("n_buckets", lit(nBuckets)).coalesce(1),
      Nil, s"$path/stats")

    // probe-time masking already hides the id, but the corpus totals
    // now count a doc the ledger thinks has no postings
    assert(Bm25.probeIndex(spark, path, "doc_id", Seq("alpha"),
      topK = 100).filter(col("doc_id") === 55L).count() === 0L)
    val complement = Bm25.corpusStats(
      d.filter(col("doc_id") =!= 55L), "text").select("n", "sdl").head()
    assert(Bm25.readStats(spark, path).select("n", "sdl").head() !==
      complement, "precondition: the race skews the totals")

    assert(Bm25.reconcileStats(spark, path, "doc_id") === 1)
    assert(Bm25.readStats(spark, path).select("n", "sdl").head() ===
      complement, "corrected totals equal the complement recompute")
    assert(Bm25.reconcileStats(spark, path, "doc_id") === 0,
      "reconcile is idempotent")
  }
}
