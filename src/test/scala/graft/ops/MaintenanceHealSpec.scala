package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Commit, Fs}

/** r13 verdict item 6 (uniform heal-on-maintenance) and wrong #2
  * (gate retry against concurrent healers): every store's maintenance
  * entry point must converge a crashed marker-committed purge — no
  * store may rely on a PROBE to heal — and the [[graft.core.Commit.read]]
  * gate must absorb a healer finishing mid-gate with a bounded retry
  * instead of surfacing a spurious FileNotFound.
  */
class MaintenanceHealSpec extends SparkSpec {
  import spark.implicits._

  /** Crash state = masked survivors staged, marker present, old files
    * untouched (shared recipe in [[PurgeFixtures]]).
    */
  private def fabricateCrashedPurge(dataDir: String, ledgerPath: String,
      partDirName: String, uniqueKey: String, idCol: String): Unit =
    PurgeFixtures.fabricateCrashedRewrite(spark, dataDir, partDirName,
      old => Tombstones.mask(spark, ledgerPath,
        old.dropDuplicates(uniqueKey), idCol))

  private def sigDocs: DataFrame =
    (0 until 40).map(i => (i.toLong,
      s"tok${i % 7} alpha beta gamma tok${i % 5} delta epsilon"))
      .toDF("doc_id", "text")

  test("flat signature store: compactStore heals a fabricated crashed " +
    "purge (no marker left, banned rows physically gone, survivors " +
    "exact) and folds ledger + data files") {
    val path = java.nio.file.Files.createTempDirectory("mh_sig").toString
    SignatureStore.build(sigDocs, path)
    // several takedowns → several ledger files to fold
    SignatureStore.takedown(spark, path, Seq(3L, 13L))
    SignatureStore.takedown(spark, path, Seq(23L))
    fabricateCrashedPurge(path, path, "", "doc_id", "doc_id")
    assert(Fs.list(spark, path)
      .exists(_.getPath.getName.startsWith("_PURGE.")))

    // mid-crash, the gate already serves exactly-once rows
    assert(SignatureStore.load(spark, path).count() === 37L)

    // extra append files so the data fold has something to fold (the
    // append commutes with the crashed purge: its file is in neither
    // the staged survivors nor the marker's old list)
    SignatureStore.appendSignatures(
      (100 until 105).map(i => (i.toLong,
        s"x${i}a x${i}b x${i}c x${i}d")).toDF("doc_id", "text"), path)
    assert(SignatureStore.compactStore(spark, path,
      targetFileBytes = 1L << 30))
    val names = Fs.list(spark, path).map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("_PURGE.") ||
      n.startsWith(".purge.")), s"crash debris survived: $names")
    // banned ids are gone from the RAW files, not just masked
    val raw = spark.read.parquet(path)
    assert(raw.filter(col("doc_id").isin(3L, 13L, 23L)).count() === 0L)
    assert(raw.count() === 42L)
    assert(Fs.list(spark, path)
      .count(_.getPath.getName.endsWith(".parquet")) === 1,
      "the data fold must leave one file")
    assert(Fs.list(spark, s"$path/_tombstones")
      .count(_.getPath.getName.endsWith(".parquet")) === 1,
      "the ledger's takedown files must fold to one generation")
    assert(SignatureStore.load(spark, path).count() === 42L)
  }

  test("IVF-PQ store: compactStore heals a fabricated crashed purge " +
    "in a bucket partition (same preamble pair as compactIvf/" +
    "compactIndex)") {
    val path = java.nio.file.Files.createTempDirectory("mh_pq").toString
    (0 until 60).map(i => (i.toLong, i % 4))
      .toDF("vec_id", "bucket")
      .withColumn("codes", array(lit(1), lit(2)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    ProductQuantizer.takedownStore(spark, path, Seq(8L, 12L))
    fabricateCrashedPurge(path, path, "bucket=0", "vec_id", "vec_id")
    assert(Fs.list(spark, path)
      .exists(_.getPath.getName.startsWith("_PURGE.")))

    ProductQuantizer.compactStore(spark, path)
    val names = Fs.list(spark, path).map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("_PURGE.") ||
      n.startsWith(".purge.")), s"crash debris survived: $names")
    val healed = spark.read.parquet(path)
    assert(healed.filter(col("vec_id").isin(8L, 12L)).count() === 0L,
      "bucket=0's banned rows are physically gone after healing")
    assert(healed.count() === 58L)
  }

  test("readStore gate is RETRY-CLEAN against a concurrent healer " +
    "(r13 wrong #2): a heal finishing between the gate's staged-file " +
    "listing and its opens produces exact answers, no exception") {
    val path = java.nio.file.Files.createTempDirectory("mh_race").toString
    SignatureStore.build(sigDocs, path)
    SignatureStore.takedown(spark, path, Seq(5L, 15L))
    fabricateCrashedPurge(path, path, "", "doc_id", "doc_id")

    var healed = 0
    Commit.onGateList = () => { healed += Commit.heal(
      spark, path) }
    try {
      // first attempt lists the staged files, the "concurrent" healer
      // then moves them; the gate must retry, relist (no marker left),
      // and serve the plain post-heal scan — exactly once each row
      val served = Commit.read(spark, path)
      assert(served.count() === 38L)
      assert(served.filter(col("doc_id").isin(5L, 15L)).count() === 0L)
      assert(healed === 1, "the injected healer must have run once")
    } finally Commit.onGateList = () => ()
    assert(!Fs.list(spark, path).map(_.getPath.getName)
      .exists(_.startsWith("_PURGE.")))
  }
}
