package graft.ops

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** Small-file compaction for buffered log directories.
  *
  * A count-triggered sink (reference flush behavior) produces one parquet
  * file per flush — at scale, millions of small files destroy scan
  * performance (per-file open cost dominates). Compaction rewrites each
  * date partition into ⌈bytes / targetFileBytes⌉ files while preserving
  * the data exactly. Runs per-partition so it can be applied
  * incrementally to closed (past-date) partitions only.
  *
  * All directory listing/deletion goes through [[graft.core.Fs]] (Hadoop
  * FileSystem API), so the same compactor runs against `s3a://`/`hdfs://`
  * log directories — which is where a 100 TB log lives.
  */
object LogCompactor {

  final case class CompactionReport(
      partition: String, filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Compact the given partitions (default: all with `partitionPrefix`).
    *
    * `clusterBy`: optionally sort each partition's rows by these columns
    * while rewriting — compaction is the one moment the data is being
    * rewritten anyway, so clustering is free, and a partition sorted by
    * its hot filter key lets parquet row-group stats skip whole groups
    * on read (measured in LayoutSkippingSpec). The canonical choice for
    * the log table is `run_id` or `event_type`.
    *
    * `partitionPrefix`: the hive key the layout partitions by — `date=`
    * for log dirs, `bucket=` for the IVF index (see
    * [[VectorIndex.compactIvf]]).
    */
  def compact(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitions: Option[Seq[String]] = None,
      clusterBy: Seq[String] = Nil,
      partitionPrefix: String = "date="): Seq[CompactionReport] = {
    val parts = Fs.list(spark, dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionPrefix))
      .filter(s => partitions.forall(_.contains(s.getPath.getName)))
      .sortBy(_.getPath.getName)

    parts.map { p =>
      val pPath = p.getPath.toString
      val files = Fs.list(spark, pPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val report = CompactionReport(p.getPath.getName, files.length, target, bytes)
      if (files.length > target || clusterBy.nonEmpty) {
        val df0 = Fs.readParquet(spark, pPath).coalesce(target)
        val df =
          if (clusterBy.isEmpty) df0
          else df0.sortWithinPartitions(clusterBy.map(col): _*)
        val tmp = pPath + ".compact"
        df.write.mode(SaveMode.Overwrite)
          .option("compression", "snappy").parquet(tmp)
        // atomic-ish swap: rewrite into place from the compacted copy
        val compacted = Fs.readParquet(spark, tmp)
        compacted.coalesce(target).write.mode(SaveMode.Overwrite)
          .option("compression", "snappy").parquet(pPath)
        Fs.delete(spark, tmp)
      }
      report
    }
  }

  /** Compact a FLAT (unpartitioned) parquet directory — the shape of the
    * staged-append delta ledgers (span-scrub tile hashes, BM25 corpus
    * stats), which grow one small file set per append
    * ([[graft.core.Fs.stagedAppend]]). Same rewrite recipe as
    * [[compact]] applied to the directory itself; rows are preserved
    * exactly (duplicate rows included — the BM25 stats ledger SUMS its
    * delta rows, so a compactor must never dedupe; set-semantic stores
    * dedupe in their own wrapper, [[SpanScrub.compactLedger]]). Not
    * concurrency-safe against in-flight appenders — run it from the
    * same maintenance window as partition compaction. `None` when the
    * directory is missing or empty.
    */
  def compactFlat(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Option[CompactionReport] = {
    val files = Fs.list(spark, dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) None else {
      val bytes = files.map(_.getLen).sum
      val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val report = CompactionReport(
        new org.apache.hadoop.fs.Path(dir).getName,
        files.length, target, bytes)
      if (files.length > target) {
        val tmp = dir + ".compact"
        Fs.readParquet(spark, dir).coalesce(target)
          .write.mode(SaveMode.Overwrite)
          .option("compression", "snappy").parquet(tmp)
        Fs.readParquet(spark, tmp).coalesce(target)
          .write.mode(SaveMode.Overwrite)
          .option("compression", "snappy").parquet(dir)
        Fs.delete(spark, tmp)
      }
      Some(report)
    }
  }

  /** Retention: delete `date=` partitions strictly older than `cutoff`
    * (an ISO `yyyy-MM-dd` date). Lexicographic comparison IS date order
    * for this format, so no parsing — and a malformed directory name is
    * left alone rather than guessed at. Returns the deleted partition
    * names. At 100 TB, retention by dropping whole partition directories
    * is the only delete that does not rewrite data.
    */
  def expire(spark: SparkSession, dir: String, cutoff: String): Seq[String] = {
    // The cutoff must be well-formed too: a garbage cutoff like "20231115"
    // still compares lexicographically against valid names ('-' < '1') and
    // would mass-delete every partition. Fail loudly instead.
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"expire cutoff must be yyyy-MM-dd, got '$cutoff'")
    val victims = Fs.list(spark, dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .filter { s =>
        val d = s.getPath.getName.stripPrefix("date=")
        d.matches("\\d{4}-\\d{2}-\\d{2}") && d < cutoff
      }
    victims.foreach(s => Fs.delete(spark, s.getPath.toString))
    victims.map(_.getPath.getName)
  }
}
