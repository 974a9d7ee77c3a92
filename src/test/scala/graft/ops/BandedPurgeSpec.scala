package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical disposal for the banded bucketed signature store (r13
  * verdict missing #3): after [[SignatureStore.purgeBanded]] the banned
  * ids are PHYSICALLY absent from the table's files, the candidate join
  * stays shuffle-free on the store side (the rebuild preserves the
  * bucket spec), and answers equal the complement-corpus rebuild.
  */
class BandedPurgeSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame =
    (0 until 30).map { i =>
      val body =
        if (i % 5 == 0) "alpha beta gamma delta epsilon zeta"
        else s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"
      (i.toLong, body)
    }.toDF("doc_id", "text")

  test("purgeBanded: banned ids physically absent from the table " +
    "files, bucket spec (and the shuffle-free store-side join) " +
    "preserved, answers equal the complement rebuild, ledger reset") {
    val table = "banded_purge_t"
    SignatureStore.buildBanded(docs, table, numBuckets = 4)
    SignatureStore.takedownBanded(spark, table, Seq(10L, 20L))

    val removed = SignatureStore.purgeBanded(spark, table)
    assert(removed > 0L)

    // physical absence: read the table's files RAW, not through a mask
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).toString
    val raw = spark.read.parquet(loc)
    assert(raw.filter(col("doc_id").isin(10L, 20L)).count() === 0L)
    assert(!graft.core.Fs.exists(spark, s"$loc/_tombstones"),
      "the rebuild must reset the ledger")

    // bucket spec preserved → store side still joins without its own
    // shuffle (the BucketingSpec discipline)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the purge cleared the ledger (rebuild semantics), so the fresh
      // side is no longer masked — a post-purge dedup run probes with
      // the surviving corpus, same as any rebuilt store
      val joined = SignatureStore.bucketedNearDups(spark, table,
        docs.filter(!col("doc_id").isin(10L, 20L)))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        "store scan lost its bucketing after the purge:\n" +
          plan.take(3000))

      // answers == a from-scratch banded build over the complement
      val twin = "banded_purge_twin"
      SignatureStore.buildBanded(
        docs.filter(!col("doc_id").isin(10L, 20L)), twin, numBuckets = 4)
      val key = (df: DataFrame) => df.select("ai", "bi").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val purged = key(joined)
      val complement = key(SignatureStore.bucketedNearDups(spark, twin,
        docs.filter(!col("doc_id").isin(10L, 20L))))
      assert(purged === complement)
      assert(purged.nonEmpty, "fixture has no near-dups — weak test")
      assert(!purged.exists(p => Set(10L, 20L)(p._1) ||
        Set(10L, 20L)(p._2)))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("purgeBanded with no ledger is a no-op") {
    val table = "banded_purge_noop"
    SignatureStore.buildBanded(docs, table, numBuckets = 4)
    assert(SignatureStore.purgeBanded(spark, table) === 0L)
  }

  test("purgeBandedPruned: only the bucket files holding banned rows " +
    "are rewritten (unaffected files byte-untouched), survivor files " +
    "keep their source's bucket-id suffix so the shuffle-free join " +
    "survives, answers equal the complement, ledger stays in force") {
    val table = "banded_purge_pruned"
    SignatureStore.buildBanded(docs, table, numBuckets = 4)
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).toString
    val before = graft.core.Fs.list(spark, loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toSet
    // the banned doc's band rows live in a SUBSET of the bucket files
    val hitFiles = spark.table(table)
      .withColumn("_f", input_file_name())
      .filter(col("doc_id") === 7L)
      .select("_f").distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(
        new java.net.URI(r.getString(0))).getName).toSet
    assert(hitFiles.nonEmpty && hitFiles.size < before.size,
      "fixture must leave at least one unaffected bucket file")

    SignatureStore.takedownBanded(spark, table, Seq(7L))
    val removed = SignatureStore.purgeBandedPruned(spark, table)
    assert(removed > 0L)

    val after = graft.core.Fs.list(spark, loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toSet
    // unaffected files: identical name+len+mtime (never rewritten)
    assert(before.filterNot(f => hitFiles(f._1)).subsetOf(after),
      "an unaffected bucket file was rewritten — work must stay ∝ hits")
    // hit files replaced by survivor files carrying the same suffix
    assert(after.forall(f => !hitFiles(f._1)),
      "source hit files must be deleted after the swap")
    val bucketOf = (n: String) => n.substring(n.lastIndexOf("_"))
    assert(hitFiles.map(bucketOf)
        .subsetOf(after.map(f => bucketOf(f._1)) ++
          // an all-banned source file legitimately leaves no survivor
          before.map(f => bucketOf(f._1))),
      "survivor files must carry their source's bucket-id suffix")
    assert(spark.read.parquet(loc).filter(col("doc_id") === 7L)
      .count() === 0L, "banned rows must be PHYSICALLY gone")
    assert(graft.core.Fs.exists(spark, s"$loc/_tombstones"),
      "the pruned purge keeps the ledger in force (purgeFlat contract)")

    // the bucketed join still plans no store-side shuffle, and answers
    // equal a complement rebuild (fresh side: the surviving corpus)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fresh = docs.filter(col("doc_id") =!= 7L)
      val joined = SignatureStore.bucketedNearDups(spark, table, fresh)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        "store scan lost its bucketing after the pruned purge:\n" +
          plan.take(3000))
      val twin = "banded_purge_pruned_twin"
      SignatureStore.buildBanded(fresh, twin, numBuckets = 4)
      val key = (df: DataFrame) => df.select("ai", "bi").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val a = key(joined)
      assert(a === key(SignatureStore.bucketedNearDups(spark, twin,
        fresh)))
      assert(a.nonEmpty)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // idempotent: banned rows already gone → no hit files → no work
    assert(SignatureStore.purgeBandedPruned(spark, table) === 0L)
  }

  test("a crashed pruned purge (marker committed, swap unfinished) " +
    "heals forward on the next read: the plan replays idempotently, " +
    "including delete-only lines for all-banned source files") {
    val table = "banded_purge_heal"
    SignatureStore.buildBanded(docs, table, numBuckets = 4)
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).toString
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // fabricate the exact crash footprint BY HAND: pick one real
    // bucket file, stage its survivors (doc 5 banned), commit the
    // marker — and crash before any rename/delete ran
    val victim = graft.core.Fs.list(spark, loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath)
      .find(p => spark.read.parquet(p.toString)
        .filter(col("doc_id") === 5L).count() > 0).get
    val expect = spark.read.parquet(victim.toString)
      .filter(col("doc_id") =!= 5L).count()
    val victimBanned = spark.read.parquet(victim.toString)
      .filter(col("doc_id") === 5L).count()
    val totalBanned = spark.read.parquet(loc)
      .filter(col("doc_id") === 5L).count()
    // the one commit's names: survivors renamed to their final name
    // inside `.purge.<token>`, the `_PURGE.<token>.` marker listing the
    // old files (paths relative to the table location)
    val token = java.util.UUID.randomUUID.toString
    val stage = s"$loc/.purge.$token"
    spark.read.parquet(victim.toString).filter(col("doc_id") =!= 5L)
      .coalesce(1).write.parquet(s"$stage/.w0")
    val suffix = victim.getName.substring(victim.getName.lastIndexOf("_"))
    val finalName = s"part-purged-$token-0$suffix"
    graft.core.Commit.renameStaged(spark,
      graft.core.Fs.listDataFiles(spark, s"$stage/.w0").head,
      s"$stage/$finalName")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$loc/_PURGE.$token."), false)
    // a second old file that no longer exists (an all-banned source
    // file whose deletion already ran) must replay as a no-op
    out.write(s"${victim.getName}\nalready-gone-file.parquet"
      .getBytes("UTF-8"))
    out.close()

    // the read path heals first: banned rows gone, survivors exact,
    // marker and stage retired, bucketing intact
    SignatureStore.takedownBanded(spark, table, Seq(5L))
    val pairs = SignatureStore.bucketedNearDups(spark, table,
      docs.filter(col("doc_id") =!= 5L))
    pairs.collect()
    assert(!graft.core.Fs.list(spark, loc)
      .exists(f => f.getPath.getName.startsWith("_PURGE.") ||
        f.getPath.getName.startsWith(".purge.")),
      "heal must retire the marker and the stage dir")
    assert(!graft.core.Fs.exists(spark, victim.toString),
      "heal must finish deleting the source file")
    assert(graft.core.Fs.exists(spark, s"$loc/$finalName"))
    assert(spark.read.parquet(s"$loc/$finalName").count() === expect)
    // exactly the crashed commit's scope was disposed: the victim file's
    // banned rows are gone, other files' banned rows remain (masked by
    // the still-in-force ledger) until their own purge runs
    assert(spark.read.parquet(loc).filter(col("doc_id") === 5L)
      .count() === totalBanned - victimBanned)
    assert(victimBanned > 0)
    // healing is idempotent under a second call
    assert(graft.core.Commit.heal(spark, loc) === 0)
    assert(spark.read.parquet(s"$loc/$finalName").count() === expect)
  }

  test("a survivor rename that returns false fails the pruned purge " +
    "before any delete and keeps its marker; the next heal lands " +
    "exactly the post-purge rows") {
    // a database located on the refusing filesystem puts the managed
    // table's files there
    val db = "banded_rn_db"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '${FalseRenameFs.dir("brn")}'")
    val prevDb = spark.catalog.currentDatabase
    spark.catalog.setCurrentDatabase(db)
    try {
      val table = "banded_rn"
      SignatureStore.buildBanded(docs, table, numBuckets = 4)
      val loc = spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).toString
      def raw() = spark.read.parquet(loc)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val want = rows(raw().filter(col("doc_id") =!= 7L))
      SignatureStore.takedownBanded(spark, table, Seq(7L))

      // refuse the move of a survivor into the table location (the
      // roll-forward), not its rename inside the stage
      FalseRenameFs.refuse = p => p.getName.startsWith("part-purged-") &&
        !p.getParent.getName.startsWith(".purge.")
      try intercept[java.io.IOException](
        SignatureStore.purgeBandedPruned(spark, table))
      finally FalseRenameFs.refuse = _ => false
      val names = graft.core.Fs.list(spark, loc).map(_.getPath.getName)
      assert(names.exists(_.startsWith("_PURGE.")),
        "the committed marker must stay for the heal")
      assert(raw().filter(col("doc_id") === 7L).count() > 0L,
        "no old file may be deleted before every survivor landed")

      assert(graft.core.Commit.heal(spark, loc) === 1)
      assert(rows(raw()) === want)
      assert(!graft.core.Fs.list(spark, loc).exists { f =>
        val n = f.getPath.getName
        n.startsWith("_PURGE.") || n.startsWith(".purge.")
      })
    } finally spark.catalog.setCurrentDatabase(prevDb)
  }

  test("a reader never sweeps: a marker-less stage survives " +
    "bucketedNearDups") {
    val db = "banded_stage_db"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '${FalseRenameFs.dir("bst")}'")
    val prevDb = spark.catalog.currentDatabase
    spark.catalog.setCurrentDatabase(db)
    try {
      val table = "banded_stage"
      SignatureStore.buildBanded(docs, table, numBuckets = 4)
      val loc = spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).toString
      SignatureStore.takedownBanded(spark, table, Seq(7L))
      // a purge stopped before its marker — the state a live purge is
      // in while it stages: survivors written, no commit yet
      FalseRenameFs.refuse = _.getName.startsWith("_PURGE")
      try intercept[java.io.IOException](
        SignatureStore.purgeBandedPruned(spark, table))
      finally FalseRenameFs.refuse = _ => false
      def staged() = graft.core.Fs.list(spark, loc)
        .filter(f => f.isDirectory && f.getPath.getName.startsWith("."))
        .flatMap(d => graft.core.Fs.listDataFiles(spark, d.getPath.toString))
      val before = staged()
      assert(before.nonEmpty, "fixture: the purge staged nothing")
      SignatureStore.bucketedNearDups(spark, table, docs).collect()
      assert(staged() === before,
        "a reader deleted a live purge's staged survivors")
    } finally spark.catalog.setCurrentDatabase(prevDb)
  }
}
