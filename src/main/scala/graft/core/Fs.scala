package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.types.StructType

/** Filesystem access for persistent-store operators, routed through the
  * Hadoop FileSystem API so every path-keyed store (span-dedup ledgers,
  * retrieval checkpoints, log directories, index partitions) behaves
  * identically on local disk, HDFS, and object stores (`s3a://`,
  * `gs://`, `abfs://`). A bare `java.io.File` probe of an `s3a://` URI
  * silently answers "doesn't exist", which flips append-mode writers
  * into overwrite mode and discards state — so operator code must never
  * touch `java.io.File` for data paths. Rewrites that replace a store's
  * files in place commit through [[Commit]], which is built on this
  * object.
  *
  * Rename caveat: `FileSystem.rename` is atomic on HDFS and local disk
  * but a copy-then-delete on S3-family stores; stage-then-rename callers
  * therefore get all-or-nothing visibility PER FILE (readers list the
  * destination, and part-file names are unique), not atomic directory
  * swaps — the same contract Spark's own FileOutputCommitter lives with.
  */
object Fs {

  def apply(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    apply(spark, path).exists(new Path(path))

  /** Directory exists and has at least one child — the "was this store
    * ever written" probe (a bare exists() is true for the empty dir a
    * failed first write can leave behind).
    */
  def nonEmptyDir(spark: SparkSession, path: String): Boolean = {
    val fs = apply(spark, path)
    val p = new Path(path)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Immediate children of `path`; empty when the path is missing. */
  def list(spark: SparkSession, path: String): Seq[FileStatus] = {
    val fs = apply(spark, path)
    val p = new Path(path)
    if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
  }

  /** Recursive delete; quiet no-op when the path is missing. */
  def delete(spark: SparkSession, path: String): Unit = {
    apply(spark, path).delete(new Path(path), true)
    ()
  }

  /** Concurrency-safe append of `df` into `destDir`: stage-write to a
    * unique directory, then move the data files into `destDir`
    * (preserving `c=v` partition subdirs for `partCols`) with per-file
    * renames. Two concurrent `df.write.mode("append")` calls on one
    * directory share `destDir/_temporary` and can delete each other's
    * in-flight task output; unique staging dirs remove the shared mutable
    * path entirely, and Spark's UUID part-file names guarantee no rename
    * collision — so interleaved appenders commute and none is lost.
    * First write creates the destination. Extracted
    * from the BM25 index append path so every append-mode store (tile
    * ledgers, posting deltas) shares the one proven idiom.
    *
    * The stage is a hidden `.staging-<uuid>` sibling of `destDir`, so a
    * first append leaves `destDir` absent until its files move in, which
    * stores that probe [[nonEmptyDir]] for "ever written" rely on. With
    * `stageInside` it is a hidden subdirectory of `destDir` instead: the
    * caller then needs no access to `destDir`'s parent, and `destDir` may
    * be a filesystem or bucket root. Readers, [[listDataFiles]] and
    * [[moveDataFiles]] skip it. A call that throws leaves no file in
    * `destDir` (see [[moveDataFiles]]) and removes its stage when it can.
    *
    * Returns the qualified destination paths of the files THIS CALL
    * moved — the caller's explicit commit lineage. A manifest-keeping
    * store ([[graft.ops.ClusteredStore]]) must register exactly these
    * paths, never "whatever is in the directory that nothing references
    * yet": a crashed earlier attempt can leave orphan data files that an
    * infer-by-difference commit would adopt alongside its own staged
    * copies, silently doubling the rewritten rows.
    */
  def stagedAppend(
      df: org.apache.spark.sql.DataFrame,
      partCols: Seq[String],
      destDir: String,
      compression: String = "snappy",
      stageInside: Boolean = false): Seq[String] = {
    val spark = df.sparkSession
    val dest = new Path(destDir)
    val staging = new Path(if (stageInside) dest else dest.getParent,
      s".staging-${java.util.UUID.randomUUID}").toString
    val moved =
      try {
        df.write.mode("overwrite").option("compression", compression)
          .partitionBy(partCols: _*).parquet(staging)
        moveDataFiles(spark, staging, destDir)
      } catch {
        case t: Throwable =>
          try delete(spark, staging) catch { case u: Throwable => t.addSuppressed(u) }
          throw t
      }
    // the rows have landed, so a failed cleanup must not report the append
    // as failed: a stage left behind is hidden, empty debris
    try delete(spark, staging) catch { case NonFatal(_) => () }
    moved
  }

  /** Every DATA file under `dir`, recursively, skipping `_`/`.`-prefixed
    * files and anything inside a `_`/`.`-prefixed directory — the same
    * visibility rule Spark's own file listing applies, so this is "what
    * a directory-scan reader would read". A live sink's
    * `.staging-<uuid>` directory is therefore never listed. Qualified
    * paths; empty when the directory is missing.
    */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val fs = apply(spark, dir)
    val root = fs.makeQualified(new Path(dir))
    if (!fs.exists(root)) Seq.empty
    else dataFiles(fs, root).map(_.getPath.toString)
  }

  /** The walk behind [[listDataFiles]] and [[moveDataFiles]]: one
    * `listStatus` call per visible directory. `listFiles` builds a
    * `LocatedFileStatus` per entry, and on the local filesystem without
    * Hadoop's native library each one forks a shell to read permissions
    * (320 files on a 4-core VM: 1.8–2.0 s, against 12–17 ms for this
    * walk).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }.flatMap(st => if (st.isDirectory) dataFiles(fs, st.getPath) else Seq(st))

  /** `fs.rename`, throwing where Hadoop reports a failed rename by
    * returning false — a commit step must never read that as success.
    */
  def renameOrThrow(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from to $to failed")

  /** Move every DATA file under `srcDir` into `destDir`, preserving
    * relative subpaths (hive `c=v` partition dirs); `_SUCCESS`,
    * `_temporary` and dot-files are skipped. Each file lands via one
    * `rename`, so a reader listing `destDir` sees whole files only.
    * Returns the qualified destination path of every moved file.
    *
    * All or nothing: when a rename fails, the files this call already
    * moved are renamed back into `srcDir` before the error is rethrown,
    * so a caller that retries the move does not land them twice. (If
    * renaming back fails too, that error is attached as suppressed and
    * those files stay in `destDir`.)
    */
  def moveDataFiles(
      spark: SparkSession, srcDir: String, destDir: String): Seq[String] = {
    val fs = apply(spark, srcDir)
    val src = fs.makeQualified(new Path(srcDir))
    val dest = fs.makeQualified(new Path(destDir))
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    try dataFiles(fs, src).foreach { st =>
      val rel = src.toUri.relativize(st.getPath.toUri).getPath
      val target = new Path(dest, rel)
      fs.mkdirs(target.getParent)
      renameOrThrow(fs, st.getPath, target)
      moved += st.getPath -> target
    } catch {
      case t: Throwable =>
        moved.foreach { case (from, to) =>
          try renameOrThrow(fs, to, from)
          catch { case u: Throwable => t.addSuppressed(u) }
        }
        throw t
    }
    moved.map(_._2.toString).toSeq
  }

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    * Without a schema, Spark infers one through
    * `SchemaMergeUtils.mergeSchemasInParallel`, which runs a one-task
    * Spark job to read a single footer even with `mergeSchema` off. This
    * reads that same footer on the driver (see [[parquetSchema]]) and
    * opens the paths under the result, so opening a source runs no job.
    * Rows, column order and types are those of the plain read; partition
    * columns are still discovered from `k=v` directories. Where no footer
    * applies (a missing path, a directory without data files, a glob, a
    * merged schema) this is the plain read, so errors stay Spark's own.
    */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    openParquet(spark, Map.empty, paths)

  /** [[readParquet]] with Spark's `basePath` option: partition columns
    * are discovered from the directories below `basePath`, also when
    * `paths` name single partitions or files.
    */
  def readParquetUnder(
      spark: SparkSession, basePath: String, paths: String*): DataFrame =
    openParquet(spark, Map("basePath" -> basePath), paths)

  /** The data schema `spark.read.parquet(paths: _*)` infers, read from
    * one footer on the driver: no Spark job and no DataFrame. For an
    * unpartitioned source it equals that read's `.schema`; partition
    * columns are not part of it. Where no footer applies (see
    * [[readParquet]]) it is that read's `.schema`, or Spark's error.
    *
    * The footer is the one inference would pick: a root's
    * `_common_metadata`, then its `_metadata`, then the first visible
    * data file in path order. The walk lists only the directories on
    * the way to that file. Spark also honours summary files nested below
    * a root; those are only written when `parquet.summary.metadata.level`
    * asks for them, and then at the output root, so only a root's are
    * looked for.
    */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    footerSchema(spark, Map.empty, paths)
      .getOrElse(spark.read.parquet(paths: _*).schema)

  private def openParquet(spark: SparkSession,
      options: Map[String, String], paths: Seq[String]): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, options, paths).fold(reader)(reader.schema)
      .parquet(paths: _*)
  }

  /** None where inference must decide: a merged schema, a glob, a
    * streaming sink's output (read through its `_spark_metadata` log),
    * no file to read, a footer that does not parse (Spark raises the
    * error), or a data column that is also a partition directory's
    * name (partition inference types it).
    */
  private def footerSchema(spark: SparkSession,
      options: Map[String, String], paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || GraftFooterSchema.mergeRequested(spark, options)
        || paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try schemaSource(spark, paths).flatMap { file =>
      val schema = GraftFooterSchema.read(spark, file, options)
      val partDirs = Iterator.iterate(file.getPath.getParent)(_.getParent)
        .takeWhile(_ != null).map(_.getName).filter(_.contains("="))
        .map(_.takeWhile(_ != '=')).toSeq
      if (schema.fieldNames.exists(f => partDirs.exists(_.equalsIgnoreCase(f))))
        None
      else Some(schema)
    } catch { case NonFatal(_) => None }

  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"

  /** Spark's file-source listing filter (`InMemoryFileIndex`): hidden
    * `_`/`.` names are skipped, except `k=v` directories and the summary
    * files Parquet reads schemas from.
    */
  private def sparkVisible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) ||
      name.startsWith(CommonMetadata) || name.startsWith(Metadata)

  private def isSummary(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    name == CommonMetadata || name == Metadata
  }

  /** The file Parquet inference reads its schema from (mergeSchema off):
    * a summary file, else the data file whose path sorts first.
    */
  private def schemaSource(
      spark: SparkSession, paths: Seq[String]): Option[FileStatus] = {
    val roots = paths.map { p =>
      val fs = apply(spark, p)
      val st = fs.getFileStatus(fs.makeQualified(new Path(p)))
      (fs, st, if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Nil)
    }
    // Spark's own rules apply to a hidden or summary root file and to a
    // streaming sink's output directory
    val opaque = roots.exists { case (_, st, _) =>
        st.isFile && (!sparkVisible(st.getPath.getName) || isSummary(st))
      } || (roots.size == 1 &&
        roots.head._3.exists(_.getPath.getName == "_spark_metadata"))
    def first(sts: Seq[FileStatus]) = sts.minByOption(_.getPath.toString)
    def summaries(name: String) =
      first(roots.flatMap(_._3).filter(c => c.isFile && c.getPath.getName == name))
    if (opaque) None
    else summaries(CommonMetadata).orElse(summaries(Metadata)).orElse(
      first(roots.flatMap { case (fs, st, children) =>
        if (st.isFile) Some(st) else firstDataFile(fs, children)
      }))
  }

  /** Depth-first in full-path order: a directory sorts as its name plus
    * "/", so siblings are visited in the order their paths sort, and the
    * walk ends at the first data file.
    */
  private def firstDataFile(
      fs: FileSystem, children: Seq[FileStatus]): Option[FileStatus] =
    children.filter(c => sparkVisible(c.getPath.getName))
      .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
      .iterator.flatMap { c =>
        if (c.isDirectory) firstDataFile(fs, fs.listStatus(c.getPath).toSeq)
        else if (isSummary(c)) None
        else Some(c)
      }.nextOption()
}
