package graft.ops

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.core.LogEntry
import graft.sink.ParquetDirSink

class LogCompactorSpec extends SparkSpec {

  test("many flush files collapse to the target count with data intact") {
    val dir = Files.createTempDirectory("compact").toString
    val sink = new ParquetDirSink(spark, dir)
    // 10 separate flushes → 10 files in one date partition
    (1 to 10).foreach { b =>
      sink.write((1 to 20).map(i => LogEntry(
        new Timestamp(1700000000000L), s"r$b-$i", "", "", "llm_end",
        "{}", s"""{"b":$b,"i":$i}""")))
    }
    val part = new java.io.File(s"$dir/date=2023-11-14")
    // each flush writes one file per date partition → 10 small files
    val before = part.listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 10)
    val pre = spark.read.parquet(dir).orderBy("run_id").collect()

    val reports = LogCompactor.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(reports.map(_.filesBefore).sum === 10)
    val after = part.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    val post = spark.read.parquet(dir).orderBy("run_id").collect()
    assert(post.toSeq === pre.toSeq) // byte-for-byte same rows
  }

  test("compactFlat folds an unpartitioned ledger, rows preserved EXACTLY") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compactflat").toString + "/ledger"
    // several staged appends → several small file sets; include a
    // DUPLICATE row — a delta ledger sums rows, so compaction must keep it
    (1 to 4).foreach { b =>
      graft.core.Fs.stagedAppend(
        Seq((b.toLong, 10L), (b.toLong, 10L)).toDF("k", "n"), Nil, dir)
    }
    val pre = spark.read.parquet(dir).orderBy("k", "n").collect()
    assert(pre.length === 8)

    val report = LogCompactor.compactFlat(spark, dir, 1L << 30).get
    assert(report.filesBefore > 1 && report.filesAfter === 1)
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === 1)
    val post = spark.read.parquet(dir).orderBy("k", "n").collect()
    assert(post.toSeq === pre.toSeq) // duplicates intact — no silent dedupe

    // missing dir → None
    assert(LogCompactor.compactFlat(spark, dir + "_nope", 1L << 30).isEmpty)
  }

  test("clusterBy sorts rows within the compacted partition, data intact") {
    val dir = Files.createTempDirectory("compact_c").toString
    val sink = new ParquetDirSink(spark, dir)
    (1 to 5).foreach { b =>
      sink.write((1 to 20).map(i => LogEntry(
        new Timestamp(1700000000000L), s"r${(b * 7 + i) % 9}-$b-$i", "", "",
        "llm_end", "{}", "{}")))
    }
    val pre = spark.read.parquet(dir).orderBy("run_id").collect()
    LogCompactor.compact(spark, dir, targetFileBytes = 1L << 30,
      clusterBy = Seq("run_id"))
    val rows = spark.read.parquet(dir).select("run_id").collect()
      .map(_.getString(0))
    assert(rows.toSeq === rows.sorted.toSeq, "partition not clustered")
    val post = spark.read.parquet(dir).orderBy("run_id").collect()
    assert(post.toSeq === pre.toSeq)
  }

  test("expire drops only partitions strictly older than the cutoff") {
    val dir = Files.createTempDirectory("expire").toString
    val sink = new ParquetDirSink(spark, dir)
    val day = 86400000L
    Seq(0, 1, 2).foreach { d =>
      sink.write(Seq(LogEntry(
        new Timestamp(1700000000000L + d * day), s"r$d", "", "",
        "llm_end", "{}", "{}")))
    }
    // stray non-date dir must be ignored, not deleted
    new java.io.File(s"$dir/date=not-a-date").mkdirs()
    val deleted = LogCompactor.expire(spark, dir, cutoff = "2023-11-15")
    assert(deleted === Seq("date=2023-11-14"))
    val left = spark.read.parquet(dir).select("run_id")
      .collect().map(_.getString(0)).sorted
    assert(left.toSeq === Seq("r1", "r2"))
    assert(new java.io.File(s"$dir/date=not-a-date").exists())
  }
}
