package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Commit, Fs}

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
  *
  * Each rewrite is one [[graft.core.Commit]]: the partition's files are
  * pinned when listed, the compacted copy is staged once and committed
  * by one marker, and only the pinned files are deleted — so a file an
  * appender lands after the listing survives, and a crash at any step
  * leaves the pre- or the post-compaction files, which the next
  * compaction rolls forward or sweeps. Every call first completes or
  * sweeps a crashed earlier rewrite under `dir`.
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
    Commit.healAndSweep(spark, dir)
    val parts = Fs.list(spark, dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionPrefix))
      .filter(s => partitions.forall(_.contains(s.getPath.getName)))
      .sortBy(_.getPath.getName)

    parts.map { p =>
      rewrite(spark, dir, p.getPath.getName, targetFileBytes,
          force = clusterBy.nonEmpty) { df =>
        if (clusterBy.isEmpty) df
        else df.sortWithinPartitions(clusterBy.map(col): _*)
      }
    }
  }

  /** Rewrite the files directly inside `root/sub` ("" = `root` itself),
    * pinned as listed, into ⌈bytes / targetFileBytes⌉ files behind one
    * commit, when they are more files than that or `force` holds;
    * `shape` sees the coalesced read.
    */
  private def rewrite(spark: SparkSession, root: String, sub: String,
      targetFileBytes: Long, force: Boolean)(
      shape: DataFrame => DataFrame): CompactionReport = {
    val dir = if (sub.isEmpty) root else s"$root/$sub"
    val files = Commit.dataFilesIn(spark, dir)
    val bytes = files.map(_.getLen).sum
    val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (files.nonEmpty && (files.length > target || force)) {
      val rel = (f: FileStatus) =>
        if (sub.isEmpty) f.getPath.getName else s"$sub/${f.getPath.getName}"
      Commit.rewrite(spark, root, files.map(rel)) { stage =>
        shape(Fs.readParquet(spark, files.map(_.getPath.toString): _*)
            .coalesce(target))
          .write.option("compression", "snappy")
          .parquet(if (sub.isEmpty) stage else s"$stage/$sub")
      }
    }
    CompactionReport(new Path(dir).getName, files.length, target, bytes)
  }

  /** Compact a FLAT (unpartitioned) parquet directory — the shape of the
    * staged-append delta ledgers (span-scrub tile hashes, BM25 corpus
    * stats), which grow one small file set per append
    * ([[graft.core.Fs.stagedAppend]]). Same committed rewrite as
    * [[compact]] applied to the directory itself; rows are preserved
    * exactly (duplicate rows included — the BM25 stats ledger SUMS its
    * delta rows, so a compactor must never dedupe; set-semantic stores
    * dedupe in their own wrapper, [[SpanScrub.compactLedger]]). Safe
    * against in-flight appenders: their files are not in the pinned
    * list, so they survive the swap. Readers must open the directory
    * through [[graft.core.Commit.read]]. `None` when the directory is
    * missing or empty.
    */
  def compactFlat(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Option[CompactionReport] = {
    Commit.healAndSweep(spark, dir)
    Some(rewrite(spark, dir, "", targetFileBytes, force = false)(identity))
      .filter(_.filesBefore > 0)
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
