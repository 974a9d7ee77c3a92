package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one marker commit behind every in-place rewrite of a store
  * directory: purges, compactions, keyed merges. A store root is a raw
  * (often hive-partitioned) parquet dir with no manifest, so replacing
  * some of its files needs its own commit point:
  *
  *   1. the caller pins the old files (paths relative to the root,
  *      listed once, so a file an appender lands later is neither read
  *      nor replaced) and writes their replacement under the hidden
  *      stage `<root>/.purge.<token>/`, laid out like the root itself;
  *   2. the marker `_PURGE.<token>.<prefix>` (lines = the old paths,
  *      relative to `<root>/<prefix>`) appears via write-tmp-then-rename
  *      — the ATOMIC COMMIT. [[rewrite]] writes an empty prefix and
  *      root-relative lines; a prefixed marker with bare names (one
  *      partition's rewrite, the format older versions wrote) resolves
  *      through the same code;
  *   3. roll-forward: staged files move in, old files are deleted, the
  *      stage goes, the marker is deleted LAST.
  *
  * Before the marker, the stage is invisible debris, swept by the next
  * maintenance call ([[healAndSweep]]). After it, [[read]] — the gate
  * every reader of a rewritten store goes through — serves a PINNED
  * snapshot (staged files plus the visible files minus the marker's
  * old list), so a reader between any two steps, or after a crash at
  * any step, sees each row exactly once; any caller may also finish the
  * commit outright via [[heal]] (every step is idempotent). When no
  * marker exists — the always case outside an active or crashed
  * rewrite — the gate is the plain `Fs.readParquet`: same plan, one
  * extra listing.
  *
  * Residual window: a plain directory-scan read (one that does not go
  * through the gate) whose listing races a roll-forward can still see a
  * half-swapped directory, the exposure every directory reader has
  * against any compaction. Single-MAINTAINER contract: one rewrite of a
  * root at a time, since the sweep deletes every unmarked stage.
  */
object Commit {

  private[graft] val MarkerPrefix = "_PURGE."
  private val StagePrefix = ".purge."
  private val TmpPrefix = ".purgetmp."
  private val TokenLen = 36 // UUID string length

  private final case class Pending(
      token: String, prefix: String, old: Seq[String])

  private def stageOf(root: String, token: String) =
    s"$root/$StagePrefix$token"

  private def oldPath(root: String, p: Pending, rel: String) =
    if (p.prefix.isEmpty) s"$root/$rel" else s"$root/${p.prefix}/$rel"

  /** The visible data files directly inside `dir`: the pinned old-file
    * list of a rewrite. Underscore- and dot-prefixed files (`_FOLDED`
    * fold markers, stages) are never old, so they survive the swap.
    */
  def dataFilesIn(spark: SparkSession, dir: String): Seq[FileStatus] =
    Fs.list(spark, dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Replace the files `old` (paths relative to `root`; they may span
    * several partitions, or be none) with what `write` lands under the
    * stage dir it is given, laid out as under `root`. `write` reads the
    * pinned old files itself. Throws when a step fails: before the
    * marker nothing changed, after it the store reads and heals as the
    * committed post-state.
    */
  def rewrite(spark: SparkSession, root: String, old: Seq[String])(
      write: String => Unit): Unit = {
    val token = java.util.UUID.randomUUID.toString
    write(stageOf(root, token))
    writeMarker(spark, root, token, old)
    complete(spark, root, Pending(token, "", old))
  }

  /** Rename one staged file inside its stage, before the commit — for a
    * store whose file names carry meaning (a bucketed table reads each
    * file's bucket from its name). Throws when the rename fails.
    */
  def renameStaged(spark: SparkSession, from: String, to: String): Unit =
    Fs.renameOrThrow(Fs(spark, from), new Path(from), new Path(to))

  private def listMarkers(spark: SparkSession, root: String): Seq[Pending] =
    Fs.list(spark, root)
      .filter(f => f.isFile && f.getPath.getName.startsWith(MarkerPrefix))
      .flatMap { m =>
        val rest = m.getPath.getName.stripPrefix(MarkerPrefix)
        // format: <36-char uuid> '.' <prefix>
        if (rest.length < TokenLen + 1) None
        else readMarker(spark, m.getPath).map(
          Pending(rest.take(TokenLen), rest.drop(TokenLen + 1), _))
      }

  private def readMarker(
      spark: SparkSession, marker: Path): Option[Seq[String]] =
    try {
      val fs = Fs(spark, marker.toString)
      val in = fs.open(marker)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, "UTF-8").split("\n").toSeq
          .filter(_.nonEmpty))
      } finally in.close()
    } catch {
      // a concurrent healer finished and removed the marker between our
      // listing and this read — the visible files are already the truth
      case _: java.io.FileNotFoundException => None
    }

  /** Atomic marker publication: content lands under a dot-name, then
    * one rename makes the commit visible. A failed rename throws before
    * anything is deleted, leaving only pre-commit debris.
    */
  private def writeMarker(spark: SparkSession, root: String,
      token: String, old: Seq[String]): Unit = {
    val fs = Fs(spark, root)
    val tmp = new Path(root, s"$TmpPrefix$token")
    val out = fs.create(tmp, true)
    try out.write(old.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    Fs.renameOrThrow(fs, tmp, new Path(root, s"$MarkerPrefix$token."))
  }

  /** Finish one committed rewrite: staged files in, old files out, the
    * marker removed LAST (so the gate keeps serving the pinned snapshot
    * until the directory is clean). Idempotent.
    */
  private def complete(spark: SparkSession, root: String, p: Pending): Unit = {
    val stage = stageOf(root, p.token)
    if (Fs.exists(spark, stage)) Fs.moveDataFiles(spark, stage, root)
    p.old.foreach(rel => Fs.delete(spark, oldPath(root, p, rel)))
    Fs.delete(spark, stage)
    Fs.delete(spark, s"$root/$MarkerPrefix${p.token}.${p.prefix}")
  }

  /** Roll every committed-but-unfinished rewrite under `root` forward.
    * Any reader may call this: it never touches an unmarked stage.
    * Returns markers processed.
    */
  def heal(spark: SparkSession, root: String): Int = {
    val pending = listMarkers(spark, root)
    pending.foreach(complete(spark, root, _))
    pending.size
  }

  /** The maintainer's preamble: [[heal]], then delete pre-commit debris
    * (stages and temp markers with no marker — a rewrite that crashed
    * before its commit point). Never call it from a read path: a reader
    * that sweeps would race a live maintainer's staging. Returns markers
    * processed.
    */
  def healAndSweep(spark: SparkSession, root: String): Int = {
    val healed = heal(spark, root)
    val entries = Fs.list(spark, root)
    val marked = entries.map(_.getPath.getName)
      .filter(_.startsWith(MarkerPrefix))
      .map(_.stripPrefix(MarkerPrefix).take(TokenLen)).toSet
    entries.foreach { s =>
      val n = s.getPath.getName
      val stale = Seq(StagePrefix, TmpPrefix).exists(pre =>
        n.startsWith(pre) && !marked(n.stripPrefix(pre)))
      if (stale) Fs.delete(spark, s.getPath.toString)
    }
    healed
  }

  /** Test hook: invoked after [[read]]'s marker listing and before it
    * opens the listed files — the window a concurrent healer's
    * roll-forward can move a staged file out from under the gate.
    */
  private[graft] var onGateList: () => Unit = () => ()

  /** True when `t`'s cause chain is a vanished-file failure — the
    * footprint of a concurrent healer finishing between the gate's
    * listing and its file opens, never of a data error.
    */
  private def isVanishedFile(t: Throwable): Boolean = t != null && (
    t.isInstanceOf[java.io.FileNotFoundException] ||
    (t.getMessage != null &&
      (t.getMessage.contains("PATH_NOT_FOUND") ||
        t.getMessage.contains("does not exist"))) ||
    isVanishedFile(t.getCause))

  /** The GATE: every reader of a rewritten store opens it here. No
    * marker: `Fs.readParquet(root)`, partition discovery and all.
    * Markers present: a PINNED exact snapshot — each marker's staged
    * files (listed FIRST, so a concurrent roll-forward turns into a loud
    * FileNotFound on the moved path rather than a silently missed row)
    * unioned with the visible data files minus the markers' old lists.
    * A heal finishing between the listing and the file opens is
    * absorbed by a bounded retry that relists (after a completed heal,
    * the plain scan).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    var last: Throwable = null
    (0 until 3).foreach { _ =>
      try return readOnce(spark, root)
      catch { case t: Throwable if isVanishedFile(t) => last = t }
    }
    throw last
  }

  private def readOnce(spark: SparkSession, root: String): DataFrame = {
    val pending = listMarkers(spark, root)
    if (pending.isEmpty) return Fs.readParquet(spark, root)
    val fs = Fs(spark, root)
    val stagedFiles = pending.map { p =>
      val stage = stageOf(root, p.token)
      (stage, Fs.listDataFiles(spark, stage))
    }
    onGateList()
    val stagedLegs = stagedFiles.collect { case (stage, files)
        if files.nonEmpty => Fs.readParquetUnder(spark, stage, files: _*) }
    val excluded: Set[String] = pending.flatMap(p => p.old.map(rel =>
      fs.makeQualified(new Path(oldPath(root, p, rel))).toString)).toSet
    val visible = Fs.listDataFiles(spark, root).filterNot(excluded)
    val mainLeg =
      if (visible.isEmpty) None
      else Some(Fs.readParquetUnder(spark, root, visible: _*))
    (stagedLegs ++ mainLeg).reduceOption(_.unionByName(_))
      .getOrElse(Fs.readParquet(spark, root))
  }
}
