package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.StatsLedger.Box

/** Data-skipping contract: the ledger-pruned read answers exactly like
  * the full scan; pruning actually skips files on a range layout; z-order
  * layout prunes on BOTH box dimensions where single-key range layout
  * prunes on one; incremental ledger appends cover new batches without
  * rebuilding.
  */
class StatsLedgerSpec extends SparkSpec {
  import graft.queries.tbl

  private lazy val base = {
    val dir = java.nio.file.Files.createTempDirectory("statsledger").toString
    val ev = tbl(spark, sf(), "events")
      .select("event_id", "user_id", "value", "event_type")
    ev.repartitionByRange(8, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(s"$dir/range")
    StatsLedger.build(spark, s"$dir/range", s"$dir/range_ledger",
      Seq("user_id"))
    dir
  }

  // sf0.001 user_id spans 0–14; a ~3-value band is "narrow" there
  test("pruned read equals the full-scan filter") {
    val boxes = Seq(Box.between("user_id", 4L, 6L))
    val pruned = StatsLedger
      .readPruned(spark, s"$base/range", s"$base/range_ledger", boxes)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val full = spark.read.parquet(s"$base/range")
      .filter(col("user_id").between(4L, 6L))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(pruned === full)
    assert(full.nonEmpty, "fixture band empty — weak test")
  }

  test("a narrow band survives in few files; a miss band in none") {
    val all = StatsLedger.pruneFiles(spark, s"$base/range_ledger", Nil)
    val band = StatsLedger.pruneFiles(spark, s"$base/range_ledger",
      Seq(Box.between("user_id", 4L, 6L)))
    assert(all.size >= 6, s"expected ~8 files, got ${all.size}")
    assert(band.size < all.size / 2,
      s"range layout should confine the band: ${band.size}/${all.size}")
    val miss = StatsLedger.pruneFiles(spark, s"$base/range_ledger",
      Seq(Box.between("user_id", 10_000_000L, 20_000_000L)))
    assert(miss.isEmpty)
    // empty selection still answers, with the data schema
    val none = StatsLedger.readPruned(spark, s"$base/range",
      s"$base/range_ledger",
      Seq(Box.between("user_id", 10_000_000L, 20_000_000L)))
    assert(none.count() === 0)
    assert(none.columns.contains("event_type"))
  }

  test("z-order prunes on both dimensions; single-key layout only on its " +
    "key") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val li = tbl(spark, sf(), "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val nFiles = 16
    ZOrder.write(li, Seq("l_partkey", "l_suppkey"), nFiles, s"$dir/z")
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$dir/linear")
    for (layout <- Seq("z", "linear"))
      StatsLedger.build(spark, s"$dir/$layout", s"$dir/${layout}_ledger",
        Seq("l_partkey", "l_suppkey"))

    // correctness first: both layouts answer the box identically
    val boxes = Seq(Box.between("l_partkey", 20L, 80L),
      Box.between("l_suppkey", 2L, 5L))
    def answer(layout: String) = StatsLedger
      .readPruned(spark, s"$dir/$layout", s"$dir/${layout}_ledger", boxes)
      .agg(count(lit(1)), sum("l_quantity")).collect().head
    assert(answer("z") === answer("linear"))

    def survivors(layout: String, bs: Seq[Box]) =
      StatsLedger.pruneFiles(spark, s"$dir/${layout}_ledger", bs).size
    val zTotal = survivors("z", Nil)
    val linTotal = survivors("linear", Nil)
    // secondary-dimension-only predicate: linear layout cannot prune at
    // all (every file spans all suppkeys); z layout must
    val sk = Seq(Box.between("l_suppkey", 2L, 5L))
    val zSk = survivors("z", sk)
    val linSk = survivors("linear", sk)
    info(s"suppkey-only box: z keeps $zSk/$zTotal, linear $linSk/$linTotal")
    assert(linSk === linTotal, "linear layout unexpectedly pruned on suppkey")
    assert(zSk < zTotal, "z-order layout failed to prune on the second dim")
    // 2-D box: z layout strictly better than its own total too
    assert(survivors("z", boxes) < zTotal)
  }

  test("aggFast answers count/min/max exactly, serving interior files " +
    "from ledger stats alone") {
    val box = Box.between("user_id", 3L, 9L)
    val got = StatsLedger
      .aggFast(spark, s"$base/range", s"$base/range_ledger", box)
      .collect().head
    val want = spark.read.parquet(s"$base/range")
      .filter(col("user_id").between(3L, 9L))
      .agg(count(col("user_id")), min("user_id"), max("user_id"))
      .collect().head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(2) === want.getLong(2))
    assert(got.getLong(0) > 0, "band empty — weak test")
    // the band must contain at least one INTERIOR file (metadata-served):
    // files fully inside [3, 9] on an 8-file range layout of 0..14
    val interior = spark.read.parquet(s"$base/range_ledger")
      .filter(col("min_user_id") >= 3L && col("max_user_id") <= 9L)
      .count()
    assert(interior > 0,
      "no interior file — the metadata path was never exercised")
    // a box past the domain answers (0, null, null)
    val none = StatsLedger.aggFast(spark, s"$base/range",
      s"$base/range_ledger", Box.between("user_id", 1000000L, 2000000L))
      .collect().head
    assert(none.getLong(0) === 0L && none.isNullAt(1) && none.isNullAt(2))
  }

  test("per-file bloom column prunes point lookups on a hash layout " +
    "where range stats keep everything") {
    val dir = java.nio.file.Files.createTempDirectory("bloomidx").toString
    val docs = tbl(spark, sf(), "documents")
      .select("doc_id", "lang", "n_chars")
    docs.repartition(16, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/d")
    StatsLedger.buildWithBloom(spark, s"$dir/d", s"$dir/l",
      cols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val keys = Seq(3L, 250L, 499L)

    val total = StatsLedger.pruneFiles(spark, s"$dir/l", Nil).size
    // hash layout: every file spans ~the whole id range, so the RANGE
    // box over the keys' span keeps everything...
    val ranged = StatsLedger.pruneFiles(spark, s"$dir/l",
      Seq(Box.between("doc_id", keys.min, keys.max))).size
    assert(ranged === total, "range stats unexpectedly pruned a hash layout")
    // ...while the bloom probe keeps only may-contain files
    val pointed = StatsLedger.pruneFilesPoint(spark, s"$dir/l",
      "doc_id", keys)
    info(s"bloom point-prune keeps ${pointed.size}/$total files")
    assert(pointed.size * 2 < total,
      s"bloom index failed to prune: ${pointed.size}/$total")

    // exactness: no false negatives (bloom) + no false positives (IN)
    val got = StatsLedger.readPoint(spark, s"$dir/d", s"$dir/l",
      "doc_id", keys).select("doc_id").collect().map(_.getLong(0)).toSet
    val want = spark.read.parquet(s"$dir/d")
      .filter(col("doc_id").isin(keys: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    assert(want.nonEmpty, "lookup keys missing from fixture — weak test")

    // the same exactness at 10 000 keys (every 7th id over a span 140×
    // the fixture's): one probe shape at any key count
    val bulk = (0L until 70000L by 7L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val bulkWant = rows(graft.core.Fs.readParquet(spark, s"$dir/d")
      .filter(col("doc_id").isin(bulk: _*)))
    assert(rows(StatsLedger.readPoint(spark, s"$dir/d", s"$dir/l",
      "doc_id", bulk)) === bulkWant)
    assert(bulk.size === 10000 && bulkWant.nonEmpty)

    // a key outside the domain probes to zero files on this small index
    val miss = StatsLedger.pruneFilesPoint(spark, s"$dir/l",
      "doc_id", Seq(987654321L))
    assert(miss.size <= 1, s"fpp too high for 3 keys/16 files: $miss")
  }

  test("appendBatch extends the ledger to new files without a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("ledger_inc").toString
    val ev = tbl(spark, sf(), "events")
      .select("event_id", "user_id", "event_type")
    ev.filter(col("event_id") % 2 === 0).repartitionByRange(4, col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/batch0")
    StatsLedger.build(spark, s"$dir/batch0", s"$dir/ledger", Seq("user_id"))
    // second ingest lands beside the first; only ITS stats are computed
    ev.filter(col("event_id") % 2 === 1).repartitionByRange(4, col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/batch1")
    StatsLedger.appendBatch(spark, s"$dir/batch1", s"$dir/ledger",
      Seq("user_id"))
    val files = StatsLedger.pruneFiles(spark, s"$dir/ledger", Nil)
    assert(files.exists(_.contains("batch0")) &&
      files.exists(_.contains("batch1")))
    // a pruned read over the union answers like the original table
    val got = files.map(f => spark.read.parquet(f))
      .reduce(_ unionByName _)
      .filter(col("user_id").between(40L, 90L)).count()
    val want = ev.filter(col("user_id").between(40L, 90L)).count()
    assert(got === want)

    // crash replay: the same batch appended AGAIN (staged appends are
    // at-least-once) must not double-read or double-count — the ledger
    // dedupes by file
    StatsLedger.appendBatch(spark, s"$dir/batch1", s"$dir/ledger",
      Seq("user_id"))
    val filesReplayed = StatsLedger.pruneFiles(spark, s"$dir/ledger", Nil)
    assert(filesReplayed.size === filesReplayed.distinct.size)
    assert(filesReplayed.sorted === files.sorted)
    val box = Box.between("user_id", 4L, 9L)
    val fast = StatsLedger.aggFast(spark, s"$dir/batch0", s"$dir/ledger",
      box).collect().head
    assert(fast.getLong(0) ===
      ev.filter(col("user_id").between(4L, 9L)).count())
  }

  test("appendBatchWithBloom extends a bloom ledger; plain appendBatch " +
    "into it fails loudly instead of poisoning point pruning") {
    val dir = java.nio.file.Files.createTempDirectory("ledger_bloominc")
      .toString
    val docs = tbl(spark, sf(), "documents").select("doc_id", "n_chars")
    docs.filter(col("doc_id") % 2 === 0).repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/batch0")
    docs.filter(col("doc_id") % 2 === 1).repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/batch1")
    StatsLedger.buildWithBloom(spark, s"$dir/batch0", s"$dir/ledger",
      cols = Seq("doc_id"), bloomCols = Seq("doc_id"))

    // a stats-only append would read back null sketches for the new
    // files — pruneFilesPoint would silently skip them (false NEGATIVE)
    val e = intercept[IllegalArgumentException] {
      StatsLedger.appendBatch(spark, s"$dir/batch1", s"$dir/ledger",
        Seq("doc_id"))
    }
    assert(e.getMessage.contains("appendBatchWithBloom"))

    StatsLedger.appendBatchWithBloom(spark, s"$dir/batch1", s"$dir/ledger",
      cols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    // keys living ONLY in the appended batch must still be found — the
    // no-false-negative contract across the append
    val oddKeys = Seq(3L, 251L, 499L)
    val files = StatsLedger.pruneFilesPoint(spark, s"$dir/ledger",
      "doc_id", oddKeys)
    assert(files.exists(_.contains("batch1")))
    val got = files.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .filter(col("doc_id").isin(oddKeys: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = docs.filter(col("doc_id").isin(oddKeys: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    assert(want.nonEmpty, "lookup keys missing from fixture — weak test")

    // and the mirror-image mismatch also refuses: bloom append into a
    // ledger built without sketches
    val plainDir = s"$dir/plain_ledger"
    StatsLedger.build(spark, s"$dir/batch0", plainDir, Seq("doc_id"))
    intercept[IllegalArgumentException] {
      StatsLedger.appendBatchWithBloom(spark, s"$dir/batch1", plainDir,
        cols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    }
  }

  test("ledger build writes in parallel (no single-task funnel) and " +
    "reads are unchanged") {
    // the r7 build coalesced the whole per-file stats agg through ONE
    // task — at the ~800k-file scale the operator documents, a serial
    // point. The build now writes with the agg's own parallelism: no
    // Coalesce funnel in the plan (AQE may still coalesce tiny test-scale
    // shuffles — that's adaptive, not structural).
    val statsDf = StatsLedger.stats(spark, s"$base/range", Seq("user_id"))
    assert(!statsDf.queryExecution.executedPlan.toString.contains("Coalesce"),
      "stats plan re-grew a coalesce funnel")
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val parts = StatsLedger.stats(spark, s"$base/range", Seq("user_id"))
        .rdd.getNumPartitions
      assert(parts > 1, "stats agg should keep shuffle parallelism")
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
    // read path unaffected: every data file has exactly one ledger row
    val rows = spark.read.parquet(s"$base/range_ledger")
    assert(rows.select("file").distinct().count() === rows.count())
    assert(rows.count() ===
      graft.core.Fs.list(spark, s"$base/range")
        .count(_.getPath.getName.endsWith(".parquet")))
  }
}
