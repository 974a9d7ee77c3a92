package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A local-disk-backed Hadoop FileSystem registered under its OWN scheme
  * (`graftfs:`): every operation routes through the Hadoop FileSystem
  * API exactly as on `hdfs://`/`s3a://`, while bytes land on local disk
  * so tests need no cluster. The point: a `java.io.File` probe of a
  * `graftfs:/...` path string is meaningless (no such local file), so
  * any operator that regresses from [[graft.core.Fs]] back to
  * `java.io.File` path handling FAILS these tests instead of silently
  * passing on local paths. Must be a top-level class — Hadoop
  * instantiates it reflectively via `fs.graftfs.impl`.
  */
class TestSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}

  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")

  /** RawLocal's lazy permission loader does `new java.io.File(uri)` on
    * the status path — which throws for any non-`file:` scheme. Return
    * statuses with permissions materialized so nothing downstream
    * (e.g. LocatedFileStatus in listFiles) trips the lazy path.
    */
  private def eager(st: FileStatus): FileStatus = new FileStatus(
    st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
    st.getModificationTime, st.getAccessTime,
    org.apache.hadoop.fs.permission.FsPermission.getFileDefault,
    "graft", "graft", st.getPath)

  override def getFileStatus(f: Path): FileStatus =
    eager(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(eager)
}

/** The object-store-deployment contract from the round-6 verdict: the
  * persistent-store operators (span-scrub tile ledger, retrieval
  * checkpoint store, flat-ledger compaction) driven end-to-end through a
  * NON-`file:` Hadoop FileSystem URI.
  */
class SchemeFsSpec extends SparkSpec {

  private def schemePath(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[TestSchemeFs].getName)
    "graftfs:" + java.nio.file.Files
      .createTempDirectory("graftfs_").toString
  }

  test("span-scrub ledger: probe, staged append, and compaction on a graftfs: URI") {
    val docs = graft.queries.tbl(spark, sf(), "documents")
      .select("doc_id", "text").filter(col("doc_id") < 300)
    val ledger = schemePath() + "/ledger"
    // first batch CREATES the ledger through the scheme FS (the probe
    // must say "missing" via Hadoop, not java.io.File)
    val b1 = docs.filter(col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150)
    graft.ops.SpanScrub.scrubIncremental(b1, "doc_id", "text", 12, ledger)
    assert(Fs.nonEmptyDir(spark, ledger))
    graft.ops.SpanScrub.scrubIncremental(b2, "doc_id", "text", 12, ledger)

    // replay scrubs to zero — both appends really landed behind the scheme
    val replay = graft.ops.SpanScrub
      .scrubIncremental(docs, "doc_id", "text", 12, ledger)
    assert(replay.agg(sum(length(col("scrubbed_text"))))
      .head().getLong(0) === 0L)

    // set-semantic compaction works through the scheme too
    val report = graft.ops.SpanScrub.compactLedger(spark, ledger).get
    assert(report.filesBefore >= report.filesAfter)
    val replay2 = graft.ops.SpanScrub
      .scrubIncremental(docs, "doc_id", "text", 12, ledger)
    assert(replay2.agg(sum(length(col("scrubbed_text"))))
      .head().getLong(0) === 0L)
  }

  test("retrieval checkpoint store: load/append/compact/summary on a graftfs: URI") {
    val path = schemePath() + "/checkpoint"
    val store = new graft.retrieve.CheckpointStore(spark, path)
    // empty-store load degrades to a typed empty frame via the Hadoop probe
    assert(store.load().count() === 0)
    store.append(Seq(("a", true, ""), ("b", false, "timeout")))
    store.append(Seq(("b", true, ""))) // later batch supersedes
    assert(store.load().count() === 3)
    store.compact()
    val rows = store.load().orderBy("response_id").collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    assert(rows.toSeq === Seq(("a", true), ("b", true)))
    val sm = store.summary().collect()
      .map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(sm === Map(true -> 2L))
  }

  test("flat-ledger compaction preserves rows exactly on a graftfs: URI") {
    import spark.implicits._
    val dir = schemePath() + "/delta"
    (1 to 3).foreach { b =>
      Fs.stagedAppend(Seq((b.toLong, 1L)).toDF("k", "n"), Nil, dir)
    }
    val pre = spark.read.parquet(dir).orderBy("k").collect()
    val report = graft.ops.LogCompactor.compactFlat(spark, dir, 1L << 30).get
    assert(report.filesBefore === 3 && report.filesAfter === 1)
    val post = spark.read.parquet(dir).orderBy("k").collect()
    assert(post.toSeq === pre.toSeq)
  }

  test("bloom suppression ledger: shard append, union, and probe on a " +
    "graftfs: URI") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val dir = schemePath() + "/sketches"
    val keys = (1L to 500L).toDF("fp")
    graft.ops.BloomSuppress.appendShard(
      keys.filter(col("fp") <= 250L), "fp", dir, "s0", 1000L)
    graft.ops.BloomSuppress.appendShard(
      keys.filter(col("fp") > 250L), "fp", dir, "s1", 1000L)
    val bf = graft.ops.BloomSuppress.ledgerSketch(spark, dir)
    val corpus = (1L to 1000L).toDF("fp")
    val kept = graft.ops.BloomSuppress
      .antiJoinSketch(corpus, keys, "fp", bf)
      .collect().map(_.getLong(0)).toSet
    assert(kept === (501L to 1000L).toSet)
  }

  test("stats ledger: build, incremental append, prune, and aggFast on a " +
    "graftfs: URI") {
    val base = schemePath()
    val ev = graft.queries.tbl(spark, sf(), "events")
      .select("event_id", "user_id")
    ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("user_id"))
      .write.mode("overwrite").parquet(s"$base/b0")
    graft.ops.StatsLedger.build(spark, s"$base/b0", s"$base/ledger",
      Seq("user_id"))
    ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(4, col("user_id"))
      .write.mode("overwrite").parquet(s"$base/b1")
    graft.ops.StatsLedger.appendBatch(spark, s"$base/b1", s"$base/ledger",
      Seq("user_id"))
    val box = graft.ops.StatsLedger.Box.between("user_id", 4L, 9L)
    val files = graft.ops.StatsLedger.pruneFiles(spark, s"$base/ledger",
      Seq(box))
    assert(files.nonEmpty && files.forall(_.startsWith("graftfs:")))
    val got = files.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .filter(col("user_id").between(4L, 9L)).count()
    assert(got === ev.filter(col("user_id").between(4L, 9L)).count())
    val fast = graft.ops.StatsLedger.aggFast(spark, s"$base/b0",
      s"$base/ledger", box).collect().head
    // ledger spans b0+b1 but aggFast's boundary scan only needs files it
    // selects from the ledger — still correct on the union
    assert(fast.getLong(0) ===
      ev.filter(col("user_id").between(4L, 9L)).count())
  }
}
