package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** Takedown propagation for the DERIVED serving stores — the forget
  * ledger behind [[Bm25]] postings, [[VectorIndex]] / [[ProductQuantizer]]
  * bucket stores and [[SignatureStore]] signature tables (r11 verdict:
  * `ClusteredStore.deleteKeysDV` forgets a document in the PRIMARY
  * store, but the indexes built FROM the corpus kept serving its id and
  * its neighbors until a full rebuild — a compliance pipeline needs the
  * same forget at takedown cost, not rebuild cost).
  *
  * Design: one append-only ledger of banned ids under the store's
  * `_tombstones/` dir (underscore-prefixed, so the store's own parquet
  * reads never pick it up as data). A takedown is ONE staged write of
  * the new ids — O(takedown), no store file touched. Every read path
  * masks through an anti-join against the ledger, and every APPEND path
  * drops banned ids at ingest — so a re-appended banned document can
  * never resurrect, which is the deliberate semantic difference from
  * the primary store's point-in-time deletion vectors: an index
  * tombstone is "forget this id" until the ledger is explicitly cleared
  * by a rebuild. Physical disposal rides [[purgePartitions]]; the mask
  * keeps answers exact in the meantime.
  *
  * Scale contract (r12 verdict item 3 — the `LiteralKeyMax` /
  * `DvBroadcastMaxKeys` discipline one layer up): nothing here ever
  * materializes the ledger on the driver. [[add]] dedupes new ids via a
  * distributed anti-join against the existing ledger (the r12 version
  * collected the WHOLE ledger per takedown — a production OOM once the
  * ledger outgrows takedown scale), and [[mask]] broadcasts the id
  * frame only while the ledger's on-disk footprint is under
  * [[MaskBroadcastMaxBytes]] — past it the join plans a shuffle, which
  * is the right 100 TB shape for a ledger that has grown into a table.
  *
  * The ledger tolerates duplicate id rows — [[add]]'s anti-join is
  * check-then-append, so two concurrent takedowns of one id can both
  * land a row. Every consumer dedupes: [[ids]] serves DISTINCT,
  * [[Bm25.readStats]] takes max-per-id, [[compact]] folds the
  * duplicates away — so concurrent takedowns commute.
  */
object Tombstones {

  /** Ledger footprint (parquet bytes) above which [[mask]] stops
    * hinting a broadcast join. ~16 MiB of encoded ids is well past
    * takedown scale; a ledger that big is a table, and shuffling it is
    * cheaper than shipping it to every executor on every read.
    */
  val MaskBroadcastMaxBytes: Long = 16L * 1024 * 1024

  private def dir(path: String) = s"$path/_tombstones"

  /** True when the store carries at least one tombstone file. */
  def exists(spark: SparkSession, path: String): Boolean =
    Fs.list(spark, dir(path)).nonEmpty

  /** On-disk ledger bytes — the broadcast-vs-shuffle decision input. */
  private def ledgerBytes(spark: SparkSession, path: String): Long =
    Fs.list(spark, dir(path)).filter(_.isFile).map(_.getLen).sum

  /** The banned-id frame (`_ts_id` bigint, distinct); None when the
    * store has no ledger — so unmasked stores keep their exact plans
    * (no join is ever added for a store that never saw a takedown).
    */
  def ids(spark: SparkSession, path: String): Option[DataFrame] =
    if (!exists(spark, path)) None
    else Some(Fs.readParquet(spark, dir(path)).select("_ts_id").distinct())

  /** The banned-id frame with the broadcast hint applied only while the
    * ledger is under the byte bound — shared by [[mask]] and the purge
    * probe so both honor the one scale contract.
    */
  private def boundedIds(spark: SparkSession, path: String,
      broadcastMaxBytes: Long): Option[DataFrame] =
    ids(spark, path).map { t =>
      if (ledgerBytes(spark, path) <= broadcastMaxBytes) broadcast(t) else t
    }

  /** Ban `newIds`: one staged parquet append of the ids (plus an
    * optional payload column the store needs at read time — [[Bm25]]
    * records each banned doc's length so corpus stats stay exact
    * without rescanning postings). Ids already banned are dropped by a
    * DISTRIBUTED anti-join against the existing ledger — never a driver
    * collect, so the call stays O(takedown batch) no matter how large
    * the accumulated ledger is — which keeps a replayed takedown from
    * double-recording a payload.
    */
  def add(spark: SparkSession, path: String, newIds: Seq[Long],
      payload: Map[Long, Long] = Map.empty,
      payloadCol: String = "_ts_n"): Unit =
    if (newIds.nonEmpty) {
      import spark.implicits._
      addFrame(spark, path,
        newIds.distinct.map(i => (i, payload.getOrElse(i, 0L)))
          .toDF("_ts_id", payloadCol),
        payloadCol)
    }

  /** Frame-based [[add]] — the takedown entry point for id sets that
    * never materialize on the driver (the [[Forget]] orchestrator's
    * scale path: a court-ordered 10M-id takedown arrives as a staged
    * parquet frame, not a Seq). `rows` carries `_ts_id` (bigint) plus
    * optionally `payloadCol`; duplicates fold to max-payload per id,
    * already-banned ids drop via the same DISTRIBUTED anti-join as the
    * Seq path, and the write is one staged append. Everything stays a
    * join — no collect anywhere, so the call is O(takedown batch) in
    * cluster work and O(1) on the driver regardless of id volume.
    */
  def addFrame(spark: SparkSession, path: String, rows: DataFrame,
      payloadCol: String = "_ts_n"): Unit = {
    val shaped =
      (if (rows.columns.contains(payloadCol)) rows
       else rows.withColumn(payloadCol, lit(0L)))
        .select(col("_ts_id").cast("long").as("_ts_id"),
          col(payloadCol).cast("long").as(payloadCol))
        .groupBy("_ts_id").agg(max(payloadCol).as(payloadCol))
    val toWrite = boundedIds(spark, path, MaskBroadcastMaxBytes) match {
      case None => shaped
      case Some(existing) =>
        shaped.join(existing, Seq("_ts_id"), "left_anti")
    }
    Fs.stagedAppend(toWrite.coalesce(1), Nil, dir(path))
    ()
  }

  /** Append pre-shaped ledger rows verbatim (no anti-join) — the
    * CORRECTIVE path: [[Bm25.reconcileStats]] re-records a banned id's
    * payload after an append raced the takedown's recovery scan. Safe
    * only because every ledger consumer dedupes per id (max payload
    * wins), so a corrective row supersedes the stale one it shadows.
    */
  private[ops] def appendLedgerRows(
      spark: SparkSession, path: String, rows: DataFrame): Unit = {
    Fs.stagedAppend(rows.coalesce(1), Nil, dir(path))
    ()
  }

  /** The full ledger rows (id + payload columns) for stores that read
    * the payload back ([[Bm25.readStats]]); empty-typed when absent.
    * May contain duplicate id rows — consumers must dedupe per id.
    */
  def ledger(spark: SparkSession, path: String): Option[DataFrame] =
    if (!exists(spark, path)) None
    else Some(Fs.readParquet(spark, dir(path)))

  /** `df` with banned ids masked out: an anti-join on `idCol` (cast to
    * bigint — int-keyed stores mask the same ids), broadcast only while
    * the ledger is under `broadcastMaxBytes` (spec hook; production
    * callers take the default). Identity when the store has no ledger.
    */
  def mask(spark: SparkSession, path: String, df: DataFrame,
      idCol: String,
      broadcastMaxBytes: Long = MaskBroadcastMaxBytes): DataFrame =
    boundedIds(spark, path, broadcastMaxBytes) match {
      case None => df
      case Some(t) =>
        df.join(t, df(idCol).cast("long") === t("_ts_id"), "left_anti")
    }

  /** Drop the ledger — the rebuild path's reset (a store rebuilt from a
    * corpus that already honored the takedown has nothing to mask).
    * Callers must clear AFTER the rebuild's writes succeed: masking ids
    * absent from the new index is an identity, so clear-last is
    * strictly safer than clear-first (a crash between a clear-FIRST and
    * the completed rebuild would leave the old index serving with the
    * ban list wiped — r12 advice).
    */
  def clear(spark: SparkSession, path: String): Unit =
    Fs.delete(spark, dir(path))

  /** Fold the append-only ledger's accumulated files (one per takedown)
    * into ONE deduped generation — a decade of takedowns stays one
    * small file. Dedup rule is the consumers' own: one row per id, max
    * per payload column (so a corrective payload row survives its stale
    * shadow). Crash-safe WITHOUT a marker, unlike every other fold in
    * this repo, because the ledger is a set with max-payload-wins
    * semantics: the folded generation lands BEFORE the source files are
    * deleted, and the duplicate rows a crash (or a concurrent reader)
    * sees in between dedupe back to the identical answer everywhere —
    * whereas any delete-first order would transiently serve an EMPTY
    * ledger, i.e. un-ban every document. A concurrent [[add]] commutes:
    * its file is not in the listed fold set either way. Returns true
    * when a fold happened.
    */
  def compact(spark: SparkSession, path: String): Boolean = {
    val d = dir(path)
    val srcs = Fs.list(spark, d)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
    if (srcs.size <= 1) return false
    val led = Fs.readParquet(spark, srcs: _*)
    val payloadCols = led.columns.filter(_ != "_ts_id").toSeq
    val folded = payloadCols match {
      case Nil => led.distinct()
      case p +: rest =>
        led.groupBy("_ts_id")
          .agg(max(p).as(p), rest.map(c => max(c).as(c)): _*)
    }
    Fs.stagedAppend(folded.coalesce(1), Nil, d)
    srcs.foreach(f => Fs.delete(spark, f))
    true
  }

  // --------------------------------------------------------------------
  // Marker-committed physical purge (r12 verdict item 1)
  //
  // The derived serving stores are raw hive-partitioned parquet dirs
  // with no manifest, so a purge that rewrites a partition in place
  // needs its own commit point. The r12 purge staged survivors INTO the
  // live partition before deleting the old files — a concurrent probe
  // double-counted every surviving row for the whole rewrite, a crash
  // left that state (plus a phantom `bucket=<p>.purge` partition)
  // PERSISTENTLY until a manual re-run, and rows appended during the
  // purge's lazy directory read were captured into the survivors AND
  // kept their own files (a silent duplicate even without a crash).
  //
  // The committed protocol, per hit partition:
  //   1. survivors = mask(dedup(read of the PINNED old files)) staged
  //      under `$dataDir/.purge.<token>/<part>=<p>/` — dot-prefixed, so
  //      directory-discovery readers never see it, and pinned to the
  //      listed files, so rows landed by a concurrent append are
  //      neither copied nor lost;
  //   2. the marker `_PURGE.<token>.<part>=<p>` (content = the old file
  //      names) appears via write-tmp-then-rename — the ATOMIC COMMIT;
  //   3. roll-forward: staged files move in, old files are deleted,
  //      the marker is deleted LAST.
  // Before the marker, the staged dir is invisible debris (swept by the
  // next purge). After it, [[readStore]] — the gate every probing read
  // goes through — serves a PINNED snapshot (staged survivors plus the
  // visible files minus the marker's old list), so a reader between any
  // two steps, or after a crash at any step, sees exactly-once rows
  // with NO operator intervention; any reader can also heal the store
  // outright via [[healPurges]] (all steps are idempotent and
  // concurrent healers' per-file renames/deletes commute). When no
  // marker exists — the always case outside an active or crashed purge
  // — readStore returns the plain directory scan: byte-identical plans,
  // no listing beyond the one gate probe.
  //
  // Residual window (documented, not hidden): a plain directory-scan
  // read whose FILE LISTING races an in-flight roll-forward can still
  // observe a partially-swapped partition — the same exposure every
  // directory-discovery reader in this repo (and Spark's own
  // FileOutputCommitter consumers) has against any concurrent
  // compaction. The gate turns the r12 failure modes — an unbounded
  // double-count window and a PERSISTENT wrong state after a crash —
  // into that one pre-existing transient.
  // --------------------------------------------------------------------

  private[graft] val MarkerPrefix = "_PURGE."
  private val StagePrefix = ".purge."
  private val TokenLen = 36 // UUID string length

  private final case class PendingPurge(
      token: String, partDirName: String, oldNames: Seq[String])

  private def listMarkers(
      spark: SparkSession, dataDir: String): Seq[PendingPurge] =
    Fs.list(spark, dataDir)
      .filter(f => f.isFile && f.getPath.getName.startsWith(MarkerPrefix))
      .flatMap { m =>
        val rest = m.getPath.getName.stripPrefix(MarkerPrefix)
        // format: <36-char uuid> '.' <partDirName>; the partDirName is
        // EMPTY for a flat (unpartitioned) store's purge — the "one
        // partition" is the store root itself
        if (rest.length < TokenLen + 1) None
        else {
          val token = rest.substring(0, TokenLen)
          val part = rest.substring(TokenLen + 1)
          readMarker(spark, m.getPath).map(PendingPurge(token, part, _))
        }
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
    * the caller deletes anything, leaving only pre-commit debris.
    */
  private def writeMarker(spark: SparkSession, dataDir: String,
      token: String, partDirName: String, oldNames: Seq[String]): Unit = {
    val fs = Fs(spark, dataDir)
    val tmp = new Path(dataDir, s".purgetmp.$token")
    val out = fs.create(tmp, true)
    try out.write(oldNames.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    Fs.renameOrThrow(fs, tmp,
      new Path(dataDir, s"$MarkerPrefix$token.$partDirName"))
  }

  /** The partition dir a pending purge rewrites — the store root
    * itself for a flat store's empty partDirName.
    */
  private def pDirOf(dataDir: String, p: PendingPurge): String =
    if (p.partDirName.isEmpty) dataDir else s"$dataDir/${p.partDirName}"

  /** Complete one committed purge: staged survivors in, old files out,
    * marker removed LAST (so the gate keeps serving the pinned snapshot
    * until the directory state is fully clean). Idempotent, and safe
    * under concurrent healers: per-file renames race benignly (the
    * loser's rename no-ops once the source is gone) and deletes
    * commute; whichever healer deletes the marker has necessarily seen
    * every old file already deleted by someone.
    */
  private def completePurge(spark: SparkSession, dataDir: String,
      p: PendingPurge): Unit = {
    val pDir = pDirOf(dataDir, p)
    val stagePDir =
      if (p.partDirName.isEmpty) s"$dataDir/$StagePrefix${p.token}"
      else s"$dataDir/$StagePrefix${p.token}/${p.partDirName}"
    if (Fs.exists(spark, stagePDir))
      Fs.moveDataFiles(spark, stagePDir, pDir)
    p.oldNames.foreach(n => Fs.delete(spark, s"$pDir/$n"))
    Fs.delete(spark, s"$dataDir/$StagePrefix${p.token}")
    Fs.delete(spark, s"$dataDir/$MarkerPrefix${p.token}.${p.partDirName}")
  }

  /** Roll every committed-but-unfinished purge forward. Any reader may
    * call this (probes do, via [[readStore]]'s gate — though the gate
    * alone already serves exact answers without healing); the purge
    * maintainer calls it first thing. Returns markers processed.
    */
  def healPurges(spark: SparkSession, dataDir: String): Int = {
    val pending = listMarkers(spark, dataDir)
    pending.foreach(completePurge(spark, dataDir, _))
    pending.size
  }

  /** Maintainer-only: delete pre-commit staging debris (`.purge.*` /
    * `.purgetmp.*` with no marker — a purge that crashed before its
    * commit point). Never called from the read path: a READER must not
    * sweep, or it would race the live maintainer's in-flight staging.
    */
  private def sweepUncommitted(
      spark: SparkSession, dataDir: String): Unit = {
    val tokensWithMarker = Fs.list(spark, dataDir)
      .filter(f => f.isFile && f.getPath.getName.startsWith(MarkerPrefix))
      .map(_.getPath.getName.stripPrefix(MarkerPrefix).take(TokenLen))
      .toSet
    Fs.list(spark, dataDir).foreach { s =>
      val n = s.getPath.getName
      val stale =
        (n.startsWith(StagePrefix) &&
          !tokensWithMarker(n.stripPrefix(StagePrefix))) ||
        (n.startsWith(".purgetmp.") &&
          !tokensWithMarker(n.stripPrefix(".purgetmp.")))
      if (stale) Fs.delete(spark, s.getPath.toString)
    }
  }

  /** Test hook: invoked after [[readStore]]'s marker listing and before
    * it opens the listed files — the exact window a concurrent healer's
    * roll-forward can move a staged file out from under the gate.
    * Production value is a no-op.
    */
  private[ops] var onGateList: () => Unit = () => ()

  /** True when `t`'s cause chain is a vanished-file failure — the
    * footprint of a concurrent healer finishing between the gate's
    * listing and its file opens (plan-time footer reads / existence
    * checks), never of a data error.
    */
  private def isVanishedFile(t: Throwable): Boolean = t != null && (
    t.isInstanceOf[java.io.FileNotFoundException] ||
    (t.getMessage != null &&
      (t.getMessage.contains("PATH_NOT_FOUND") ||
        t.getMessage.contains("does not exist"))) ||
    isVanishedFile(t.getCause))

  /** The GATE every probing read of a purge-maintained store goes
    * through. No marker (the always case outside an active or crashed
    * purge): the plain directory scan — byte-identical plan, partition
    * discovery, DPP, everything. Markers present: a PINNED exact
    * snapshot — each marker's staged survivor files (listed FIRST, so a
    * concurrent roll-forward turns into a loud FileNotFound on the
    * moved path rather than a silently missed row) unioned with the
    * visible data files minus the markers' old lists. Every file holds
    * each surviving row exactly once at every protocol step, so the
    * union is exact mid-purge and after a crash at any point.
    *
    * Retry-clean against concurrent healers (r13 verdict hygiene item):
    * a roll-forward finishing between the marker listing and the file
    * opens moves staged files out from under the pinned plan — a window
    * the gate itself created, so the gate absorbs it with a bounded
    * internal retry that RECOMPUTES the marker listing (the
    * [[graft.streaming.LogStreamPipeline.readConsistent]] recipe; after
    * a completed heal the relisting finds no marker and returns the
    * plain scan). The residual — a heal landing between a returned
    * plan and its EXECUTION — equals the pre-existing exposure every
    * directory-scan reader has against any concurrent compaction,
    * documented in the protocol note above.
    */
  def readStore(spark: SparkSession, dataDir: String): DataFrame = {
    var last: Throwable = null
    (0 until 3).foreach { _ =>
      try return readStoreOnce(spark, dataDir)
      catch { case t: Throwable if isVanishedFile(t) => last = t }
    }
    throw last
  }

  private def readStoreOnce(
      spark: SparkSession, dataDir: String): DataFrame = {
    val pending = listMarkers(spark, dataDir)
    if (pending.isEmpty) return Fs.readParquet(spark, dataDir)
    val fs = Fs(spark, dataDir)
    // staged survivors first (see ordering note above)
    val stagedFiles = pending.map { p =>
      val stRoot = s"$dataDir/$StagePrefix${p.token}"
      (stRoot, Fs.listDataFiles(spark, stRoot))
    }
    onGateList() // test hook: the healer-race window (files listed,
    //              not yet opened)
    val stagedLegs = stagedFiles.flatMap { case (stRoot, files) =>
      if (files.isEmpty) None
      else Some(Fs.readParquetUnder(spark, stRoot, files: _*))
    }
    val excluded: Set[String] = pending.flatMap { p =>
      p.oldNames.map(n =>
        fs.makeQualified(new Path(s"${pDirOf(dataDir, p)}/$n")).toString)
    }.toSet
    val visible = Fs.listDataFiles(spark, dataDir).filterNot(excluded)
    val mainLeg =
      if (visible.isEmpty) None
      else Some(Fs.readParquetUnder(spark, dataDir, visible: _*))
    (stagedLegs ++ mainLeg).reduceOption(_.unionByName(_))
      .getOrElse(Fs.readParquet(spark, dataDir))
  }

  /** Physically dispose of tombstoned rows in a `partCol=`-partitioned
    * store — a PARTITION-PRUNED rewrite, never a rebuild: one
    * column-pruned scan finds the partitions still holding banned rows,
    * and only those are rewritten, each behind its own marker commit
    * (protocol above). `uniqueKey` is the store's row identity (IVF/PQ:
    * vec_id; BM25 postings: doc×term) — the survivor rewrite dedupes on
    * it, which also folds away any duplicate files a pre-r13 crashed
    * purge left behind. Readers stay exact THROUGHOUT, including across
    * a crash at any step, via [[readStore]]'s gate; concurrent appends
    * commute (their files are neither in the pinned survivor read nor
    * in the marker's old list). Single-MAINTAINER contract (one purge /
    * compaction at a time), like every maintenance path in this repo.
    * The ledger stays in force afterwards (appends must keep dropping
    * banned ids). Returns partitions rewritten.
    */
  def purgePartitions(spark: SparkSession, ledgerPath: String,
      dataDir: String, partCol: String, idCol: String,
      uniqueKey: Seq[String]): Int = {
    healAndSweep(spark, dataDir)
    ids(spark, ledgerPath) match {
      case None => 0
      case Some(_) =>
        val all = Fs.readParquet(spark, dataDir)
        val t = boundedIds(spark, ledgerPath, MaskBroadcastMaxBytes).get
        val hitParts = all
          .join(t, all(idCol).cast("long") === t("_ts_id"), "left_semi")
          .select(partCol).distinct().collect()
          .filterNot(_.isNullAt(0)).map(_.get(0).toString).toSeq
        hitParts.foreach(p =>
          purgeOne(spark, ledgerPath, dataDir, s"$partCol=$p", idCol,
            uniqueKey))
        hitParts.size
    }
  }

  /** Physically dispose of tombstoned rows in a FLAT (unpartitioned)
    * store — the [[purgePartitions]] protocol with the store root as
    * the single "partition" (empty partDirName in the marker). Same
    * commit point, same gate, same healing. Returns 1 when the store
    * held banned rows and was rewritten, 0 otherwise.
    */
  def purgeFlat(spark: SparkSession, ledgerPath: String,
      dataDir: String, idCol: String, uniqueKey: Seq[String]): Int = {
    healAndSweep(spark, dataDir)
    ids(spark, ledgerPath) match {
      case None => 0
      case Some(_) =>
        val all = Fs.readParquet(spark, dataDir)
        val t = boundedIds(spark, ledgerPath, MaskBroadcastMaxBytes).get
        val hit = all
          .join(t, all(idCol).cast("long") === t("_ts_id"), "left_semi")
          .limit(1).count() > 0
        if (!hit) 0
        else {
          purgeOne(spark, ledgerPath, dataDir, "", idCol, uniqueKey)
          1
        }
    }
  }

  /** One partition's (or a flat store root's) committed rewrite:
    * survivors pinned to the LISTED old files (concurrent appends
    * commute), staged invisibly, marker-committed, rolled forward.
    */
  private def purgeOne(spark: SparkSession, ledgerPath: String,
      dataDir: String, partDirName: String, idCol: String,
      uniqueKey: Seq[String]): Unit = {
    rewriteCommitted(spark, dataDir, partDirName, old =>
      mask(spark, ledgerPath,
        Fs.readParquet(spark, old: _*).dropDuplicates(uniqueKey), idCol))
    ()
  }

  /** The marker-commit protocol itself, factored out of the
    * ledger-driven purge so OTHER partition rewrites ride the same
    * commit point and the same [[readStore]] gate — [[LogForget]]'s
    * custom-id purges over the log pipeline's `date=/batch=` and
    * `date=/src=` layouts, and its rollup RE-FOLD (where the
    * replacement is recomputed from another store, not filtered from
    * the old files). `replacement` receives the pinned old-file list
    * and returns the frame that replaces the partition's contents;
    * `partDirName` empty means the store root is the one partition.
    * Underscore-prefixed files (`_FOLDED` fold markers and the like)
    * are never listed as old, so they survive the swap in place.
    * Returns false when the partition held no data files.
    */
  private[ops] def rewriteCommitted(spark: SparkSession, dataDir: String,
      partDirName: String,
      replacement: Seq[String] => DataFrame): Boolean = {
    val token = java.util.UUID.randomUUID.toString
    val pDir =
      if (partDirName.isEmpty) dataDir else s"$dataDir/$partDirName"
    val old = Fs.list(spark, pDir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (old.isEmpty) return false
    val stagePDir =
      if (partDirName.isEmpty) s"$dataDir/$StagePrefix$token"
      else s"$dataDir/$StagePrefix$token/$partDirName"
    replacement(old.map(_.toString))
      .write.mode("overwrite").parquet(stagePDir)
    writeMarker(spark, dataDir, token, partDirName, old.map(_.getName))
    completePurge(spark, dataDir,
      PendingPurge(token, partDirName, old.map(_.getName)))
    true
  }

  /** Maintainer preamble shared by every committed-rewrite entry point:
    * roll crashed purges forward, then sweep pre-commit staging debris.
    */
  private[ops] def healAndSweep(spark: SparkSession, dataDir: String): Unit = {
    healPurges(spark, dataDir)
    sweepUncommitted(spark, dataDir)
  }
}
