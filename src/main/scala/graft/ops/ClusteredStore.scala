package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** A concurrent maintainer lost the race for the next manifest version.
  * Nothing was committed by the loser; retry against the new current
  * version (the claim is taken BEFORE any work, so the refusal is cheap
  * — no staged data to clean up).
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Incrementally-maintained clustered table: a z/Hilbert-ordered layout
  * ([[ZOrder]]) that absorbs APPENDS by rewriting only the files whose
  * curve ranges the new rows land in — the `OPTIMIZE ZORDER`-after-
  * ingest maintenance loop of Delta/Iceberg, as one operator.
  *
  * Why not re-run [[ZOrder.write]] per batch: at 100 TB a full
  * re-cluster is a full-table shuffle + rewrite — hours of cluster time
  * to absorb a 0.1% ingest. The steady-state move is bounded-scope
  * compaction: locate the files the new keys interleave into (one
  * broadcast interval probe against the file-level curve ranges), merge-
  * rewrite THOSE with the batch, and leave everything else byte-
  * identical on disk.
  *
  * The curve key is a pure function of the clustering columns under a
  * rank model FROZEN at [[init]] (per-column lo/hi, persisted as
  * `model/v=1`). Appends reuse the frozen model — exactly like
  * [[ProductQuantizer]]'s frozen codebooks — so file curve ranges stay
  * comparable; rows outside the frozen bounds clamp to the edge cells,
  * counted per append AND accumulated per manifest version
  * (`clamped_total`, surfaced by [[stats]] as a clamp RATE — this
  * store's drift report; it never means wrong answers). When the rate
  * climbs, [[recluster]] re-freezes the bounds on the current snapshot
  * and rewrites under a NEW model version (`model/v=N+1`) and a new
  * manifest version — old snapshots stay time-travelable because their
  * files are retained and reads never consult the model.
  *
  * Commit protocol: the LEDGER IS THE MANIFEST, and manifests are
  * VERSIONED, never mutated — `ledger/v=N/`, one immutable snapshot per
  * commit, committed iff its `_SUCCESS` marker exists (Spark's own
  * job-commit marker). Readers ([[read]] / [[readPruned]] /
  * [[readPoint]]) resolve the highest committed version and open exactly
  * the files it lists, so staged data files are invisible until their
  * manifest lands, and there is NO window where the table has no
  * manifest. Two further rules close the crash holes a
  * directory-difference design carries:
  *
  *  1. COMMIT LINEAGE IS EXPLICIT: the new manifest registers exactly
  *     the files THIS commit's staging pass moved
  *     ([[Fs.stagedAppend]] returns them) — never "whatever data file
  *     no prior manifest references". Inferring by difference would (a)
  *     re-read EVERY prior manifest per commit — O(versions) reads,
  *     O(versions²) over a stream's life — and (b) ADOPT orphan files a
  *     crashed earlier attempt left behind, committing the rewritten
  *     region's rows twice. Explicit lineage makes a commit read ONE
  *     prior manifest (the current), so commit cost is O(current file
  *     count) at any version — and orphans stay invisible until
  *     [[vacuum]] reclaims them.
  *  2. WRITERS SERIALIZE THROUGH A CLAIM: before any work, a maintainer
  *     atomically creates `ledger/claim-v=N+1` (create-if-absent),
  *     writing a random TOKEN into it — its lease identity. The loser
  *     of a concurrent race gets [[ConcurrentCommitException]]
  *     immediately — clean refusal, nothing staged — and retries against
  *     the winner's commit. An update can therefore never be silently
  *     lost: version N+1's content always derives from committed
  *     version N. A claim whose version never committed (a crashed
  *     maintainer) blocks later claims until [[recover]] removes it,
  *     OR — when the claimant opts in with `staleClaimMs` — until a
  *     successor breaks it through the lease path: a claim whose mtime
  *     is older than `staleClaimMs` with no committed manifest is
  *     presumed dead and taken over (rename-aside, token re-verified,
  *     debris cleared, claim re-taken). Live maintainers defend their
  *     lease by heartbeat (the built-in ops refresh the claim mtime
  *     after their staging pass), and EVERY commit re-verifies its own
  *     token at the commit point, so a maintainer that was wrongly
  *     presumed dead refuses cleanly instead of double-committing.
  *     (Residual window — token check to manifest write — is the same
  *     compromise every lease-without-coordination-service design
  *     carries; size `staleClaimMs` well above a heartbeat interval.)
  *
  * Replaced data files are retained, which makes every historical
  * version readable ([[read]]`(asOf = Some(n))` — snapshot reads /
  * time travel) until [[vacuum]] drops versions past a retention count
  * and deletes every data file the kept versions don't reference
  * (including crash orphans and stale claims). This is the delta-log
  * idea reduced to its load-bearing core: immutable manifest versions +
  * marker-gated visibility + claim-serialized writers +
  * retention-bounded vacuum.
  *
  * Exactness: answers never depend on the layout — [[readPruned]] /
  * [[readPoint]] re-apply the predicate after pruning, and
  * `q_cluster_append` / `q_cluster_point` / `q_cluster_recluster` pin
  * the full maintenance cycles against full-scan DuckDB oracles.
  *
  * Concurrency contract: concurrent READERS are always safe; concurrent
  * MAINTAINERS — including [[vacuum]] — serialize through the claim
  * (one wins, others refuse). Vacuum holds the next-version claim for
  * its whole kept-file snapshot + delete scan, so a committing append
  * can never race its files into the reclaim set; and it REFUSES while
  * a live maintainer's claim stands. [[recover]] breaks claims only
  * under the same staleness/lease rules as every breaker (its default
  * `staleClaimMs = 0` is the explicit "caller asserts nothing is in
  * flight" escape hatch the single-writer streaming path uses).
  */
object ClusteredStore {

  final case class AppendStats(
      rewritten: Int, created: Int, untouched: Int, clamped: Long,
      version: Int = 1, replaced: Long = 0L)

  /** One committed version's health row: file/row counts, the streaming
    * replay watermark, and the accumulated drift (rows that clamped to
    * edge cells since the last init/recluster) as an absolute count and
    * a rate over the snapshot — the "should I recluster?" signal.
    */
  final case class StoreStats(
      version: Int, nFiles: Long, nRows: Long, wmBatch: Long,
      clampedTotal: Long, clampRate: Double)

  private def dataDir(dir: String) = s"$dir/data"
  private def schemaDir(dir: String) = s"$dir/schema"
  private def ledgerDir(dir: String) = s"$dir/ledger"
  private def versionDir(dir: String, v: Int) = s"$dir/ledger/v=$v"
  private def modelDir(dir: String) = s"$dir/model"
  private def modelVersionDir(dir: String, v: Int) = s"$dir/model/v=$v"
  private def claimPath(dir: String, v: Int) = s"$dir/ledger/claim-v=$v"
  private def hbPath(dir: String, v: Int) = s"$dir/ledger/hb-v=$v"

  /** Highest COMMITTED manifest version (has Spark's `_SUCCESS` marker);
    * None before init. Uncommitted (crashed) version dirs are ignored.
    */
  def currentVersion(spark: SparkSession, dir: String): Option[Int] =
    Fs.list(spark, ledgerDir(dir))
      .map(_.getPath)
      .filter(p => p.getName.startsWith("v="))
      .filter(p => Fs.exists(spark, s"$p/_SUCCESS"))
      .map(_.getName.stripPrefix("v=").toInt)
      .sorted.lastOption

  /** The manifest snapshot at `asOf` (default: current). */
  def manifest(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $dir"))
    spark.read.parquet(versionDir(dir, v))
  }

  // -------------------------------------------------------------------
  // Claim protocol
  // -------------------------------------------------------------------

  /** A held claim: the version it locks plus the random token this
    * maintainer wrote into the claim file — its lease identity.
    * [[commitManifest]] re-verifies the token at the commit point, so a
    * maintainer whose stale-looking claim was broken by a successor
    * ([[breakStaleClaim]]) refuses cleanly instead of double-committing.
    */
  private final case class Claim(v: Int, token: String)

  private def newToken(): String = java.util.UUID.randomUUID().toString

  /** Atomically create the claim marker for version `v` carrying
    * `token`; false when another maintainer holds it.
    * `FileSystem.create(overwrite=false)` is the atomic primitive on
    * HDFS; on `file:` it is check-then-create (racy), so local paths
    * route through NIO `CREATE_NEW` (O_EXCL) — the one place the Fs rule
    * "never java.io for data paths" is deliberately traded for true
    * local atomicity, on a marker file. Only the remote "already exists"
    * exception maps to a refusal; any OTHER IOException (transient
    * network/permission failure) propagates as itself — mapping it to
    * "claim held" would steer the operator toward recover(), which
    * deletes live claims.
    */
  private def tryClaim(
      spark: SparkSession, dir: String, v: Int, token: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(claimPath(dir, v))
    val fs = Fs(spark, claimPath(dir, v))
    val qualified = fs.makeQualified(p)
    if (qualified.toUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(qualified.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try {
        java.nio.file.Files.write(local,
          token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(token.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
    }
  }

  /** (token, mtime) of the claim for `v`; None when absent (races with
    * a concurrent delete read as absent).
    */
  private def readClaim(
      spark: SparkSession, dir: String, v: Int): Option[(String, Long)] =
    try {
      val p = new org.apache.hadoop.fs.Path(claimPath(dir, v))
      val fs = Fs(spark, claimPath(dir, v))
      if (!fs.exists(p)) None
      else {
        val st = fs.getFileStatus(p)
        val in = fs.open(p)
        val tok =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some((tok, st.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => None }

  /** Refresh the claim's liveness timestamp (lease heartbeat). Two
    * hardening rules (r10 advice):
    *
    *  1. TOKEN RE-VERIFY FIRST — a maintainer whose claim was broken
    *     and re-taken must not refresh the SUCCESSOR's lease; if the
    *     claim no longer carries our token, no-op and return false (the
    *     commit will refuse on its own re-verify).
    *  2. OBJECT-STORE FALLBACK — the primary channel is the claim
    *     file's mtime (`setTimes`), but stores without `setTimes`
    *     support would otherwise never refresh and a SLOW LIVE
    *     maintainer would be broken under `staleClaimMs`. When
    *     `setTimes` fails, liveness moves to a heartbeat SIDECAR
    *     (`hb-v=N`: token + millis); [[breakStaleClaim]] reads
    *     `max(claim mtime, sidecar millis)` with the sidecar honored
    *     only when its token matches the claim's. Sidecar rewrites are
    *     not atomic — a torn read just falls back to the claim mtime,
    *     which errs toward "staler", i.e. toward the verify-then-break
    *     path that the commit-point token check already guards.
    *
    * Maintainers that opted into takeover (`staleClaimMs` finite) keep
    * their lease fresh THROUGHOUT staging via [[withLease]]'s keeper
    * thread, so `staleClaimMs` does not need to exceed the worst-case
    * staging duration — only the keeper's beat interval (staleMs/3).
    */
  private def heartbeat(
      spark: SparkSession, claim: Claim, dir: String): Boolean = {
    if (!readClaim(spark, dir, claim.v).map(_._1).contains(claim.token))
      return false // lost lease → the successor owns this slot now
    val viaMtime =
      try {
        Fs(spark, claimPath(dir, claim.v)).setTimes(
          new org.apache.hadoop.fs.Path(claimPath(dir, claim.v)),
          System.currentTimeMillis(), -1)
        true
      } catch {
        case _: java.io.IOException => false
        case _: UnsupportedOperationException => false
      }
    if (!viaMtime)
      try {
        val fs = Fs(spark, hbPath(dir, claim.v))
        val out = fs.create(
          new org.apache.hadoop.fs.Path(hbPath(dir, claim.v)), true)
        try out.write(s"${claim.token}\n${System.currentTimeMillis()}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      } catch { case _: java.io.IOException => () }
    true
  }

  /** Best liveness evidence for the claim on `v`: its mtime, advanced
    * by a heartbeat sidecar whose token matches (see [[heartbeat]]).
    * Torn/mismatched sidecars are ignored — staler reads are the safe
    * direction.
    */
  private def livenessTime(spark: SparkSession, dir: String, v: Int,
      claimTok: String, claimMtime: Long): Long = {
    val hb =
      try {
        val fs = Fs(spark, hbPath(dir, v))
        val p = new org.apache.hadoop.fs.Path(hbPath(dir, v))
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val lines = txt.split('\n')
          if (lines.length >= 2 && lines(0) == claimTok)
            scala.util.Try(lines(1).trim.toLong).toOption
          else None
        }
      } catch { case _: java.io.IOException => None }
    math.max(claimMtime, hb.getOrElse(Long.MinValue))
  }

  /** Run `body` while keeping `claim`'s lease fresh: when the claimant
    * opted into takeover (`staleMs` finite), a daemon keeper thread
    * heartbeats every `staleMs / 3`, so a staging pass of ANY duration
    * stays visibly alive (r10 advice: without this, `staleClaimMs` had
    * to exceed the worst-case staging time). With takeover disabled
    * there is normally no lease to defend — body runs bare, which is
    * load-bearing for the takeover feature itself: a maintainer parked
    * on a dead executor must LOOK dead so a successor can break its
    * claim (the parked one refuses cleanly at its own commit-point
    * token check; nothing is lost).
    *
    * `alwaysDefend` opts out of that bargain for holders whose work is
    * NOT safe to lose the lease over (r11 advice: [[vacuum]] DELETES
    * under its claim — a successor that breaks a live vacuum's claim
    * and commits can have its fresh files deleted by the vacuum's
    * stale kept-file snapshot). Such holders run the keeper even at
    * the default `staleClaimMs = Long.MaxValue`, at a fixed 500 ms
    * beat, so a concurrent breaker with ANY sane finite window sees
    * the claim fresh. Defense is best-effort (a breaker with a window
    * under one beat still wins); the hard guarantee is the holder's
    * token re-verify before each destructive step.
    */
  private def withLease[T](spark: SparkSession, dir: String, claim: Claim,
      staleMs: Long, alwaysDefend: Boolean = false)(body: => T): T =
    if (staleMs == Long.MaxValue && !alwaysDefend) body
    else {
      val stop = new java.util.concurrent.CountDownLatch(1)
      val keeper = new Thread(() => {
        val beat =
          if (staleMs == Long.MaxValue) 500L
          else math.max(50L, staleMs / 3)
        while (!stop.await(beat,
            java.util.concurrent.TimeUnit.MILLISECONDS) &&
          heartbeat(spark, claim, dir)) {}
      })
      keeper.setDaemon(true)
      keeper.setName(s"graft-lease-v${claim.v}")
      keeper.start()
      try body finally { stop.countDown(); keeper.join(2000) }
    }

  /** Break a presumed-dead maintainer's claim on version `v`: eligible
    * only when the claim's mtime is older than `staleMs` AND `v` never
    * committed. Verify-then-break: the claim file is atomically RENAMED
    * aside, its content re-checked against the token read beforehand,
    * and only then discarded — a claim that changed hands between the
    * read and the rename is renamed back untouched. The dead attempt's
    * debris (markerless manifest dir, dangling model version) is cleared
    * before returning, so a successor never adopts half-committed state.
    * Returns true when the way is clear to re-claim `v`.
    */
  private def breakStaleClaim(
      spark: SparkSession, dir: String, v: Int, staleMs: Long): Boolean =
    readClaim(spark, dir, v) match {
      case None => true // vanished since tryClaim failed — slot is open
      case Some((tok, mtime)) =>
        val alive = livenessTime(spark, dir, v, tok, mtime)
        val fresh = System.currentTimeMillis() - alive < staleMs
        val committed = Fs.exists(spark, s"${versionDir(dir, v)}/_SUCCESS")
        if (fresh || committed) false
        else {
          val fs = Fs(spark, claimPath(dir, v))
          val src = new org.apache.hadoop.fs.Path(claimPath(dir, v))
          val aside = new org.apache.hadoop.fs.Path(
            s"${ledgerDir(dir)}/.break-v=$v-${newToken()}")
          if (!fs.rename(src, aside)) false // raced with another breaker
          else {
            val in = fs.open(aside)
            val got =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            if (got != tok) { fs.rename(aside, src); false } // changed hands
            else {
              if (Fs.exists(spark, versionDir(dir, v)))
                Fs.delete(spark, versionDir(dir, v))
              if (Fs.exists(spark, modelVersionDir(dir, v)))
                Fs.delete(spark, modelVersionDir(dir, v))
              Fs.delete(spark, hbPath(dir, v)) // dead holder's sidecar
              fs.delete(aside, false)
              true
            }
          }
        }
    }

  /** Test hook: invoked just before each claim attempt — the window a
    * concurrent maintainer can commit the same version into (the claim
    * target is computed from a currentVersion read that may be stale by
    * the time the claim lands). Production value is a no-op.
    */
  private[ops] var onPreClaim: () => Unit = () => ()

  private def claimOrThrow(spark: SparkSession, dir: String, v: Int,
      staleMs: Long = Long.MaxValue): Claim = {
    onPreClaim()
    val token = newToken()
    val claim =
      if (tryClaim(spark, dir, v, token)) Claim(v, token)
      else if (staleMs != Long.MaxValue &&
          breakStaleClaim(spark, dir, v, staleMs) &&
          tryClaim(spark, dir, v, token)) Claim(v, token)
      else throw new ConcurrentCommitException(
        s"version $v of $dir is claimed by another maintainer — " +
          "retry after its commit lands, run recover(dir) if it " +
          "crashed (claim with no committed manifest), or pass " +
          "staleClaimMs to let this maintainer break dead claims")
    // Stale-claim-on-a-committed-version guard (r11 advice): the claim
    // target v was computed from a currentVersion read taken BEFORE any
    // driver-side prep (upsert key collection, DV hit scans — long on
    // purpose). If another maintainer committed v in that window and a
    // vacuum/recover already swept its SPENT claim file, the claim
    // create above succeeds on a version that is no longer free — and a
    // later commitManifest would mode(overwrite) a COMMITTED manifest,
    // silently losing the winner's update. Refuse here, releasing the
    // claim: a committed manifest at or past v means this maintainer's
    // entire view of "current" is stale and it must re-derive.
    if (currentVersion(spark, dir).exists(_ >= v)) {
      releaseClaim(spark, dir, claim)
      throw new ConcurrentCommitException(
        s"version $v of $dir committed while this maintainer prepared " +
          "(its spent claim was already swept) — the update must be " +
          "re-derived against the new current version")
    }
    claim
  }

  /** Remove maintenance debris: spent claims (their version committed)
    * plus their heartbeat sidecars, crashed maintainers' claims with
    * their markerless manifest dirs and dangling model versions, and
    * breaker aside-files. Returns how many items were removed.
    *
    * Multi-maintainer safety (r10 verdict: recover's old rule — "any
    * uncommitted claim is dead" — killed LIVE claims): an uncommitted
    * claim is now broken only under the SAME staleness rule as
    * [[breakStaleClaim]] — liveness (claim mtime, advanced by a valid
    * heartbeat sidecar) older than `staleClaimMs` — and through the
    * same verify-then-break path (rename-aside + token re-check), so a
    * claim that changes hands mid-recover is never deleted, and a
    * markerless manifest dir guarded by a live claim (an in-flight
    * commit) is left alone. The default `staleClaimMs = 0` keeps the
    * historical "caller asserts no maintenance in flight" semantics
    * (every uncommitted claim is immediately stale) — the single-writer
    * streaming path relies on it at startup ([[appendStream]]), where
    * any lingering claim can only be its own crashed predecessor's.
    * Pass a real lease window when other maintainers may be live.
    */
  def recover(spark: SparkSession, dir: String,
      staleClaimMs: Long = 0L): Int =
    recoverImpl(spark, dir, staleClaimMs, exempt = None)

  private def recoverImpl(spark: SparkSession, dir: String,
      staleClaimMs: Long, exempt: Option[Claim]): Int = {
    val committed = currentVersion(spark, dir).getOrElse(0)
    var removed = 0
    val entries = Fs.list(spark, ledgerDir(dir))
    val claimVs = entries.map(_.getPath.getName)
      .filter(_.startsWith("claim-v="))
      .map(_.stripPrefix("claim-v=").toInt).toSet
    entries.foreach { st =>
      val p = st.getPath
      val n = p.getName
      if (n.startsWith("claim-v=")) {
        val v = n.stripPrefix("claim-v=").toInt
        if (exempt.exists(_.v == v)) () // the caller's own live lease
        else if (v <= committed) {
          // spent: its version committed (and possibly vacuumed later —
          // NEVER treat a missing versionDir below the horizon as a
          // crash; that once deleted the governing model version and
          // bricked every later append)
          Fs.delete(spark, hbPath(dir, v))
          Fs.delete(spark, p.toString); removed += 1
        } else if (breakStaleClaim(spark, dir, v, staleClaimMs)) {
          removed += 1 // manifest dir / model / sidecar went with it
        }
      } else if (n.startsWith("hb-v=")) {
        val v = n.stripPrefix("hb-v=").toInt
        if (!claimVs.contains(v) && !exempt.exists(_.v == v)) {
          Fs.delete(spark, p.toString); removed += 1 // orphan sidecar
        }
      } else if (n.startsWith("v=") &&
          n.stripPrefix("v=").toInt > committed &&
          !claimVs.contains(n.stripPrefix("v=").toInt) &&
          !Fs.exists(spark, s"$p/_SUCCESS")) {
        // markerless dir with NO guarding claim: unreachable debris (a
        // guarded one is an in-flight commit — breakStaleClaim clears
        // it together with its claim if the claim goes stale)
        Fs.delete(spark, p.toString); removed += 1
      } else if (n.startsWith(".break-") &&
          System.currentTimeMillis() - st.getModificationTime >=
            math.min(staleClaimMs, 60000L)) {
        // a breaker's aside file — debris once it outlives any sane
        // rename-aside window (an in-flight breaker holds it for
        // sub-seconds); the 60 s floor keeps takeover-disabled vacuums
        // from hoarding crashed breakers' leavings forever
        Fs.delete(spark, p.toString); removed += 1
      }
    }
    removed
  }

  // -------------------------------------------------------------------
  // Frozen rank model (versioned: model/v=N is the model for manifests
  // committed at version >= N, until the next model version)
  // -------------------------------------------------------------------

  private final case class Model(
      cols: Seq[String], curve: String,
      lo: Map[String, Double], hi: Map[String, Double],
      bloom: Seq[(String, Int, Int)])

  /** Frozen curve key for `cols` under the (lo, hi) model: ranks scale
    * linearly and CLAMP at the edges, so post-init rows outside the
    * frozen bounds still land in the outermost cells.
    */
  private def curveKey(m: Model): Column = {
    val ranks = array(m.cols.map { c =>
      val span = m.hi(c) - m.lo(c)
      val scaled =
        if (span > 0) round((col(c).cast("double") - lit(m.lo(c))) / lit(span)
          * 65535.0).cast("int")
        else lit(0)
      coalesce(least(greatest(scaled, lit(0)), lit(65535)), lit(0))
    }: _*)
    val fn = m.curve match {
      case "morton" => "z_value"
      case "hilbert" => "hilbert_value"
      case other => throw new IllegalArgumentException(
        s"curve must be morton|hilbert, got $other")
    }
    call_function(fn, ranks)
  }

  private def writeModel(
      spark: SparkSession, dir: String, v: Int, cols: Seq[String],
      curve: String, lo: Map[String, Double], hi: Map[String, Double],
      bloom: Seq[(String, Int, Int)]): Unit = {
    import spark.implicits._
    val clusterRows = cols.zipWithIndex.map { case (c, i) =>
      (c, i, curve, lo(c), hi(c), 0, 0)
    }
    val bloomRows = bloom.map { case (c, mBits, k) =>
      (c, -1, curve, 0.0, 0.0, mBits, k)
    }
    (clusterRows ++ bloomRows)
      .toDF("col", "pos", "curve", "lo", "hi", "m_bits", "k")
      .coalesce(1).write.mode("overwrite")
      .parquet(modelVersionDir(dir, v))
  }

  /** The model governing manifest version `asOf`: highest committed
    * `model/v=n` with n <= asOf (models change only at init/recluster).
    */
  private def loadModel(
      spark: SparkSession, dir: String, asOf: Int): Model = {
    val mv = Fs.list(spark, modelDir(dir))
      .map(_.getPath)
      .filter(p => p.getName.startsWith("v=") &&
        Fs.exists(spark, s"$p/_SUCCESS"))
      .map(_.getName.stripPrefix("v=").toInt)
      .filter(_ <= asOf)
      .sorted.lastOption.getOrElse(
        throw new IllegalStateException(
          s"no committed model <= v$asOf under $dir"))
    val m = spark.read.parquet(modelVersionDir(dir, mv)).collect()
    val cluster = m.filter(_.getAs[Int]("pos") >= 0)
    val curve = cluster.head.getAs[String]("curve")
    val lo = cluster.map(r =>
      r.getAs[String]("col") -> r.getAs[Double]("lo")).toMap
    val hi = cluster.map(r =>
      r.getAs[String]("col") -> r.getAs[Double]("hi")).toMap
    val ordered = cluster.sortBy(_.getAs[Int]("pos"))
      .map(_.getAs[String]("col")).toSeq
    val bloom = m.filter(_.getAs[Int]("pos") < 0).toSeq.map(r =>
      (r.getAs[String]("col"), r.getAs[Int]("m_bits"), r.getAs[Int]("k")))
    Model(ordered, curve, lo, hi, bloom)
  }

  private def bounds(df: DataFrame, cols: Seq[String])
      : (Map[String, Double], Map[String, Double]) = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"lo_$c"),
        max(col(c).cast("double")).as(s"hi_$c")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    val lo = cols.map(c =>
      c -> (if (b.isNullAt(b.fieldIndex(s"lo_$c"))) 0.0
      else b.getDouble(b.fieldIndex(s"lo_$c")))).toMap
    val hi = cols.map(c =>
      c -> (if (b.isNullAt(b.fieldIndex(s"hi_$c"))) 0.0
      else b.getDouble(b.fieldIndex(s"hi_$c")))).toMap
    (lo, hi)
  }

  // -------------------------------------------------------------------
  // Manifest rows
  // -------------------------------------------------------------------

  /** Per-version constants every manifest row carries:
    * `wm_batch` — the streaming replay watermark (max batch id ever
    * committed; batch ids are monotone under Structured Streaming, so
    * "batchId <= wm_batch" is an exact replay probe that SURVIVES
    * compaction and rewrites, unlike probing for the batch's own
    * surviving ledger rows); `clamped_total` — drift accumulated since
    * the last init/recluster.
    */
  private val VersionConstCols = Seq("wm_batch", "clamped_total")

  private def ledgerRows(
      df: DataFrame, m: Model, key: Column, batchId: Long): DataFrame = {
    val aggs = m.cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"))) ++
      Seq(count(lit(1)).as("n_rows"), min(col("_z")).as("z_lo"),
        max(col("_z")).as("z_hi")) ++
      m.bloom.map { case (c, mBits, k) =>
        // value-preserving widen: sketches hash the BIGINT value, and
        // readPoint probes with Long keys — int key columns just work
        expr(s"bloom_agg(CAST($c AS BIGINT), $mBits, $k)").as(s"bloom_$c")
      }
    df.withColumn("_z", key)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("batch_id", lit(batchId))
  }

  private def stamp(rows: DataFrame, wm: Long, clamped: Long): DataFrame =
    rows.drop(VersionConstCols: _*)
      .withColumn("wm_batch", lit(wm))
      .withColumn("clamped_total", lit(clamped))

  /** (wm_batch, clamped_total) of a manifest; defaults on a ZERO-ROW
    * manifest (an empty-input init) — `head()` would throw there.
    */
  private def versionConsts(cur: DataFrame): (Long, Long) = {
    val r = cur.agg(
      coalesce(max(col("wm_batch")), lit(-1L)),
      coalesce(max(col("clamped_total")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Write manifest version `claim.v`. The `_SUCCESS` marker Spark
    * drops at job end IS the commit point. The lease is re-verified
    * first: if the claim file no longer carries OUR token (a stale-claim
    * breaker took over while this maintainer worked), refuse — nothing
    * is written, the successor's commit stands, and our staged data
    * files stay invisible orphans until vacuum.
    */
  private def commitManifest(
      rows: DataFrame, dir: String, claim: Claim): Unit = {
    val spark = rows.sparkSession
    if (!readClaim(spark, dir, claim.v).map(_._1).contains(claim.token))
      throw new ConcurrentCommitException(
        s"claim for version ${claim.v} of $dir was broken by a " +
          "stale-claim takeover while this maintainer worked — nothing " +
          "was committed; retry against the successor's version")
    // never overwrite a COMMITTED manifest (second line of the r11
    // stale-claim guard — claimOrThrow refuses at claim time, this
    // closes the residual claim-to-commit window)
    if (Fs.exists(spark, s"${versionDir(dir, claim.v)}/_SUCCESS"))
      throw new ConcurrentCommitException(
        s"version ${claim.v} of $dir is already committed — this " +
          "maintainer's claim was stale; nothing was overwritten")
    rows.coalesce(1).write.mode("overwrite")
      .parquet(versionDir(dir, claim.v))
  }

  // -------------------------------------------------------------------
  // Maintenance operations
  // -------------------------------------------------------------------

  /** Create the store: freeze the rank model on `df`'s bounds, write the
    * clustered files, and publish manifest v=1. Refuses to initialize
    * over an existing committed store (data/ledger/model would go stale
    * together — delete the directory to rebuild, so a typo'd path can
    * never silently shadow a live table's history).
    *
    * `bloomCols` (BIGINT columns) add a per-file Bloom sketch to every
    * manifest row — [[readPoint]]'s point-lookup pruning for keys the
    * curve layout does NOT sort by (same geometry rules as
    * [[StatsLedger.buildWithBloom]]).
    */
  def init(df: DataFrame, cols: Seq[String], nFiles: Int, dir: String,
      curve: String = "hilbert", bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 16, bloomK: Int = 5): Unit = {
    require(cols.size >= 2 && cols.size <= 4, "clustering wants 2-4 columns")
    val spark = df.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    require(currentVersion(spark, dir).isEmpty,
      s"init($dir): a committed store already exists (current version " +
        s"${currentVersion(spark, dir).get}) — delete the directory to " +
        "rebuild; init will not silently orphan a live manifest history")
    // claim v=1 BEFORE any work, so concurrent inits serialize exactly
    // like every other maintainer — two inits both passing the
    // emptiness check above would otherwise interleave mode-overwrite
    // writes into the same data/ and model/ dirs. (A previous init that
    // crashed HOLDING its claim blocks here until recover(dir), the
    // same rule as any crashed maintainer.)
    val claim = claimOrThrow(spark, dir, 1)
    // a crashed/partial previous init (no committed manifest) is
    // debris; clear everything except our own claim
    Fs.delete(spark, dataDir(dir))
    Fs.delete(spark, modelDir(dir))
    Fs.delete(spark, schemaDir(dir))
    Fs.list(spark, ledgerDir(dir)).map(_.getPath)
      .filter(_.getName != s"claim-v=1")
      .foreach(p => Fs.delete(spark, p.toString))
    val (lo, hi) = bounds(df, cols)
    val bloom = bloomCols.map(c => (c, bloomBits, bloomK))
    writeModel(spark, dir, 1, cols, curve, lo, hi, bloom)
    val m = Model(cols, curve, lo, hi, bloom)
    val key = curveKey(m)
    // the store OWNS its schema, versioned and marker-gated — and every
    // field gets a STABLE PARQUET FIELD ID (its init ordinal), stamped
    // into every data file this store ever writes, so a later
    // renameColumn/dropColumn is a metadata commit that id-resolved
    // reads honor across pre- and post-evolution files. Vacuum keeps
    // the newest committed anchor, so typed empty frames survive even
    // after every data file of an empty store is legally reclaimed.
    val anchorSt = org.apache.spark.sql.types.StructType(
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        withFieldId(f, i + 1L)
      })
    ensureFieldIdConfs(spark)
    withIds(df.withColumn("_z", key)
        .repartitionByRange(nFiles, col("_z"))
        .sortWithinPartitions("_z")
        .select(df.columns.map(col).toSeq: _*), Some(anchorSt))
      .write.mode("overwrite").parquet(dataDir(dir))
    writeAnchor(spark, dir, anchorSt)
    commitManifest(
      stamp(ledgerRows(spark.read.parquet(dataDir(dir)), m, key,
        batchId = -1L), wm = -1L, clamped = 0L),
      dir, claim)
  }

  /** Absorb `incoming`: rewrite only the files whose curve ranges the
    * new keys land in; rows falling in range GAPS (or past either end)
    * become fresh files without touching anything. Returns what moved.
    *
    * Reads exactly ONE manifest (the current) and commits exactly one —
    * commit cost is O(current file count) regardless of how many
    * versions precede it (lineage is the staged-file list, rule 1 of
    * the commit protocol above).
    *
    * Schema contract: a batch whose columns differ from the store's is
    * REFUSED before any work (the rewrite would otherwise silently
    * strip store columns the batch lacks from every rewritten file).
    * `mergeSchema = true` opts into ADDITIVE widening: new columns join
    * the schema anchor (files written before the widening serve them
    * as null — on every read path, including time travel, which serves
    * old snapshots under the latest schema), and store columns missing
    * from the batch are null-filled into it. Type changes are never
    * accepted.
    */
  def append(spark: SparkSession, dir: String, incoming: DataFrame,
      targetRowsPerFile: Long = 0L, batchId: Long = -1L,
      staleClaimMs: Long = Long.MaxValue,
      mergeSchema: Boolean = false,
      replaceKeys: Option[String] = None): AppendStats = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"append before init under $dir"))

    // Schema contract BEFORE the claim: the rewrite stages
    // `select(incoming's columns)` over the touched files, so a batch
    // missing a store column would silently STRIP that column from
    // every rewritten file (data loss that surfaces rounds later as
    // nulls), and an extra column would fork the store's file schemas
    // unmanaged. Refuse loudly unless the caller opts into
    // mergeSchema, which supports exactly ADDITIVE widening: new
    // columns land on the anchor (old files read as null there via
    // [[readFiles]]), missing columns are null-filled into the batch.
    val aligned = anchorSchema(spark, dir) match {
      case None => incoming // legacy store: pre-anchor behavior
      case Some(st) =>
        val storeCols = st.fields.map(f => f.name -> f.dataType).toMap
        val inCols = incoming.schema.fields.map(f =>
          f.name -> f.dataType).toMap
        val missing = st.fieldNames.toSeq.filterNot(inCols.contains)
        val added = incoming.columns.toSeq.filterNot(storeCols.contains)
        val retyped = st.fieldNames.toSeq.filter(c =>
          inCols.contains(c) && inCols(c) != storeCols(c))
        require(retyped.isEmpty,
          s"append($dir): batch re-types store columns $retyped — " +
            "evolution is additive only; cast the batch to the store's " +
            "types")
        if (!mergeSchema)
          require(missing.isEmpty && added.isEmpty,
            s"append($dir): batch schema differs from the store's " +
              s"(missing=$missing, added=$added) — a mismatched append " +
              "would strip or fork columns on the rewritten files; " +
              "pass mergeSchema = true for additive widening")
        val nullFilled = missing.foldLeft(incoming)((df, c) =>
          df.withColumn(c, lit(null).cast(storeCols(c))))
        // stable widened order: store columns first, new ones after
        nullFilled.select((st.fieldNames.toSeq ++ added).map(col): _*)
    }
    // Upsert prep, BEFORE the claim (a predictable refusal must not
    // leave a dangling claim): the replace-key set is collected — a
    // driver transfer bounded by the batch's distinct keys (metadata
    // next to the batch itself); past [[LiteralKeyMax]] the keys are
    // USED as broadcast join frames, never literal expressions.
    // Files already masked on a DIFFERENT column than the upsert key
    // can't take a second mask — they are FORCED into the rewrite set
    // below (their masks fold, the replaced keys drop physically),
    // so multi-domain masking never needs a manual compact.
    val cur = manifest(spark, dir, Some(v))
    val (upsertKeySet: Seq[Long], dvConflictFiles: Seq[String]) =
      replaceKeys match {
        case None => (Nil, Nil)
        case Some(kc) =>
          require(aligned.columns.contains(kc),
            s"upsert($dir): batch has no key column $kc")
          val ks = aligned.select(col(kc).cast("long"))
            .filter(col(kc).isNotNull)
            .distinct().collect().map(_.getLong(0)).toSeq
          val allFiles = cur.select("file").collect()
            .map(_.getString(0)).toSeq
          val conflictNames = dvMaskCols(cur, allFiles)
            .filter(_._2 != kc).map(_._1).toSet
          val mayContain =
            if (conflictNames.isEmpty || ks.isEmpty) Set.empty[String]
            else if (cur.columns.contains(s"bloom_$kc"))
              pruneFilesPoint(spark, dir, kc, ks, Some(v)).toSet
            else allFiles.toSet
          (ks, allFiles.filter(f =>
            conflictNames.contains(baseName(f)) && mayContain.contains(f)))
      }
    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    withLease(spark, dir, claim, staleClaimMs) {
    val m = loadModel(spark, dir, v)
    val key = curveKey(m)
    val led = cur.select("file", "z_lo", "z_hi", "n_rows").collect()
    val (priorWm, priorClamped) = versionConsts(cur)
    val wm = math.max(priorWm, batchId)
    // widen the anchor FIRST (claim held): a NEW anchor version whose
    // added fields get FRESH ids past the anchor's max (a re-added
    // name never resurrects a dropped column's old bytes). A crash
    // before the manifest commit leaves a committed anchor with extra
    // columns no file carries — harmless, every read serves them as
    // null; a crash before the anchor's own marker leaves a markerless
    // dir the old anchor outranks.
    anchorSchema(spark, dir) match {
      case Some(st) if st.fieldNames.length != aligned.columns.length =>
        val maxId = st.fields.flatMap(fieldId(_)).foldLeft(0L)(math.max)
        val addedFields = aligned.schema.fields
          .filterNot(f => st.fieldNames.contains(f.name))
          .zipWithIndex.map { case (f, i) =>
            if (maxId > 0) withFieldId(f, maxId + 1 + i) else f
          }
        writeAnchor(spark, dir,
          org.apache.spark.sql.types.StructType(st.fields ++ addedFields))
      case _ => ()
    }
    val anchorNow = anchorSchema(spark, dir)
    ensureFieldIdConfs(spark)
    val inc = aligned.withColumn("_z", key).localCheckpoint()

    // drift: rows whose raw values clamped to an edge cell
    val outside = m.cols.map { c =>
      col(c).cast("double") < lit(m.lo(c)) ||
        col(c).cast("double") > lit(m.hi(c))
    }.reduce(_ || _)
    val clamped = inc.filter(outside).count()

    // file-interval probe: ledger is file-count-sized → broadcast range
    // join against the incoming keys; one distinct file list out
    import spark.implicits._
    val intervals = led.map(r =>
      (r.getAs[String]("file"), r.getAs[Long]("z_lo"), r.getAs[Long]("z_hi")))
      .toSeq.toDF("file", "z_lo", "z_hi")
    val touchedFiles = inc
      .join(broadcast(intervals),
        inc("_z") >= intervals("z_lo") && inc("_z") <= intervals("z_hi"),
        "inner")
      .select("file").distinct().collect().map(_.getString(0)).toSet ++
      dvConflictFiles // other-column-masked files fold in the rewrite

    val target =
      if (targetRowsPerFile > 0) targetRowsPerFile
      else math.max(1L, led.map(_.getAs[Long]("n_rows")).sum /
        math.max(1, led.length))

    // Split the batch at the touched intervals' edges and stage the two
    // halves SEPARATELY: rows inside a touched file's curve range merge-
    // rewrite with those files; rows outside every range become fresh
    // files on their own. Staging them as ONE range-split write would
    // give the merged output the UNION interval of both — and a wide-
    // interval file is a positive feedback loop: it may-matches every
    // later batch's probe, absorbs it, and widens further, until one
    // file spans the whole curve (pruning ruined, every append a
    // rewrite). Split staging keeps rewrite outputs inside the touched
    // hull and gives fresh files their own tight boxes, so file
    // intervals never expand under append — dispersed small inserts
    // accumulate as small files instead, which is exactly the debt
    // [[compact]] is designed to collect.
    val touchedIv = intervals.filter(col("file")
      .isin(touchedFiles.toSeq: _*))
    val zInside = inc("_z") >= touchedIv("z_lo") &&
      inc("_z") <= touchedIv("z_hi")
    val outCols = aligned.columns.map(col).toSeq
    val insideRows = inc.join(broadcast(touchedIv), zInside, "leftsemi")
    val freshRows = inc.join(broadcast(touchedIv), zInside, "leftanti")

    def staged(df: DataFrame, n: Long): Seq[String] =
      if (n == 0) Nil
      else Fs.stagedAppend(
        withIds(df.withColumn("_z", key)
          .repartitionByRange(math.max(1L, (n + target - 1) / target).toInt,
            col("_z"))
          .sortWithinPartitions("_z")
          .select(outCols: _*), anchorNow),
        Nil, dataDir(dir))

    val base0 =
      if (touchedFiles.isEmpty)
        inc.limit(0).select(outCols: _*)
      else readFilesDv(spark, dir, cur, touchedFiles.toSeq) // anchor
        // schema: pre-widening files serve added columns as null; DV:
        // masked rows fold out of the rewrite (replacement rows carry
        // no mask — the manifest row for the merged file is clean)
        .select(outCols: _*)
    // upsert: OLD rows carrying a replaced key drop out of the files
    // the rewrite touches anyway (a free physical fold — no mask
    // needed for them); untouched files get mask rows below
    val baseRows = replaceKeys match {
      case Some(kc) if upsertKeySet.nonEmpty =>
        filterKeys(base0, kc, upsertKeySet, negate = true)
      case _ => base0
    }
    val rewrittenReplaced =
      if (replaceKeys.isEmpty || upsertKeySet.isEmpty ||
        touchedFiles.isEmpty) 0L
      else base0.count() - baseRows.count()
    val merged = baseRows.unionByName(insideRows.select(outCols: _*))
    // stage into the live data dir: new part-file names are unique,
    // ledger readers cannot see them yet, and the returned path lists
    // ARE the commit's lineage
    val newFiles =
      staged(merged, if (touchedFiles.isEmpty) 0L else merged.count()) ++
        staged(freshRows.select(outCols: _*), freshRows.count())
    heartbeat(spark, claim, dir) // staging was the long part

    val untouched0 = cur.filter(!col("file").isin(touchedFiles.toSeq: _*))
    // upsert: mask the replaced keys' LIVE rows in untouched files —
    // same Bloom-bounded scan + manifest mask rows as deleteKeysDV
    val (untouched, maskedReplaced) = replaceKeys match {
      case Some(kc) if upsertKeySet.nonEmpty =>
        val untouchedFiles = led.map(_.getAs[String]("file"))
          .filterNot(touchedFiles).toSeq
        val candidates =
          if (cur.columns.contains(s"bloom_$kc"))
            pruneFilesPoint(spark, dir, kc, upsertKeySet, Some(v))
              .filterNot(touchedFiles)
          else untouchedFiles
        if (candidates.isEmpty) (untouched0, 0L)
        else {
          val hits = filterKeys(
              readFilesDv(spark, dir, cur, candidates)
                .withColumn("_f",
                  element_at(split(input_file_name(), "/"), -1)),
              kc, upsertKeySet, negate = false)
            .groupBy(col("_f"))
            .agg(count(lit(1)).as("n"),
              collect_set(col(kc).cast("long")).as("ks"))
            .collect()
            .map(r => (r.getString(0), r.getAs[Long]("n"),
              r.getSeq[Long](2))).toSeq
          (maskManifest(spark, dir, untouched0, kc, hits),
            hits.map(_._2).sum)
        }
      case _ => (untouched0, 0L)
    }
    val fresh =
      if (newFiles.isEmpty) untouched
      else untouched.unionByName(
        ledgerRows(spark.read.parquet(newFiles: _*), m, key, batchId),
        allowMissingColumns = true)
    commitManifest(
      stamp(fresh, wm, priorClamped + clamped), dir, claim)

    AppendStats(rewritten = touchedFiles.size, created = newFiles.size,
      untouched = led.length - touchedFiles.size, clamped = clamped,
      version = v + 1, replaced = rewrittenReplaced + maskedReplaced)
    } // withLease
  }

  /** Atomic replace-by-key — ONE claimed commit: every existing LIVE
    * row whose `keyCol` value appears in `batch` is removed (masked by
    * a deletion vector on untouched files; physically omitted from the
    * files the batch's curve ranges rewrite anyway), and every batch
    * row lands clustered — the "re-ingest these corrected documents"
    * call. A delete+append pair costs two commits and exposes the
    * in-between state (the keys gone, the replacements not yet there);
    * this exposes only before/after. Batch keys are collected to the
    * driver for the Bloom probe and mask rows — takedown-scale by
    * contract, exactly like [[deleteKeysDV]]; null-keyed batch rows
    * insert without replacing anything (no row "matches" a null key).
    * Returns [[AppendStats]] with `replaced` = old live rows removed.
    */
  def upsertKeys(spark: SparkSession, dir: String, keyCol: String,
      batch: DataFrame, targetRowsPerFile: Long = 0L,
      staleClaimMs: Long = Long.MaxValue): AppendStats =
    append(spark, dir, batch, targetRowsPerFile, batchId = -1L,
      staleClaimMs, mergeSchema = false, replaceKeys = Some(keyCol))

  /** Small-file compaction: merge every manifest file under
    * `minRowsPerFile` (default: half the store's mean file size) into
    * full-size, curve-sorted files, committed as a new manifest version
    * — the maintenance pass that bounds the file-count growth streaming
    * appends trade for. Only small files are read or rewritten; the
    * merged output is re-sorted by curve key and range-split, so each
    * new file is a contiguous curve run (it may SPAN untouched files'
    * ranges across gaps — coarser boxes, same answers, exactly the
    * append path's documented trade). Old versions still reference the
    * replaced files, so snapshots stay readable until [[vacuum]].
    * The replay watermark carries through unchanged — compaction can
    * never make a committed batch look new again.
    */
  def compact(spark: SparkSession, dir: String,
      minRowsPerFile: Long = 0L,
      staleClaimMs: Long = Long.MaxValue): AppendStats = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"compact before init under $dir"))
    val cur = manifest(spark, dir, Some(v))
    // LIVE rows (physical minus DV-masked) drive every sizing decision:
    // a file whose deletion vector hides half its rows IS a small file
    // in every way that matters, and folding it here is exactly where
    // merge-on-read masks get physically disposed
    val led = ensureDvCols(cur).select(col("file"), col("n_rows"),
        coalesce(col("dv_rows"), lit(0L)).as("dv_rows")).collect()
    def live(r: org.apache.spark.sql.Row): Long =
      r.getAs[Long]("n_rows") - r.getAs[Long]("dv_rows")
    val (priorWm, priorClamped) = versionConsts(cur)
    val mean = math.max(1L,
      led.map(live).sum / math.max(1, led.length))
    val floor = if (minRowsPerFile > 0) minRowsPerFile else mean / 2
    // fold targets: live-small files, plus mostly-dead files (mask
    // covers >= half the physical rows) regardless of size
    val smalls = led.filter(r => live(r) < floor ||
        r.getAs[Long]("dv_rows") * 2 >= r.getAs[Long]("n_rows") &&
          r.getAs[Long]("dv_rows") > 0)
      .map(_.getAs[String]("file"))
    if (smalls.length < 2)
      return AppendStats(0, 0, led.length, 0L, version = v)
    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    withLease(spark, dir, claim, staleClaimMs) {
    val m = loadModel(spark, dir, v)
    val key = curveKey(m)

    val rows = readFilesDv(spark, dir, cur, smalls.toSeq)
    val n = rows.count()
    // size outputs at the HEALTHY files' mean (the overall mean is
    // dragged down by the very files being merged) but never below 2×
    // the floor: when a stream has churned EVERY file small, the
    // healthy mean does not exist and the overall mean is itself small
    // — targeting it would emit files that are still under the floor,
    // and the next tick would refold the whole table forever (full-
    // table rewrite per tick, file count never converging). Outputs at
    // ≥2×floor are healthy by construction, so each tick's work is
    // bounded by the rows ingested since the last one. Also always
    // emit strictly fewer files than were merged — compaction that
    // breaks even on file count is not compaction.
    val healthy = led.filter(live(_) >= floor).map(live)
    val target = math.max(
      if (healthy.nonEmpty) healthy.sum / healthy.length else mean,
      2 * floor)
    val nNew = math.min(smalls.length - 1,
      math.max(1L, (n + target - 1) / target).toInt)
    val dropCols = rows.columns.toSeq
    val newFiles = Fs.stagedAppend(
      withIds(rows.withColumn("_z", key)
        .repartitionByRange(nNew, col("_z"))
        .sortWithinPartitions("_z")
        .select(dropCols.map(col): _*), anchorSchema(spark, dir)),
      Nil, dataDir(dir))

    val untouched = cur.filter(!col("file").isin(smalls.toSeq: _*))
    val fresh =
      if (newFiles.isEmpty) untouched
      else untouched.unionByName(
        ledgerRows(spark.read.parquet(newFiles: _*), m, key,
          batchId = -1L),
        allowMissingColumns = true)
    heartbeat(spark, claim, dir)
    commitManifest(
      stamp(fresh, priorWm, priorClamped), dir, claim)
    AppendStats(rewritten = smalls.length, created = newFiles.size,
      untouched = led.length - smalls.length, clamped = 0L,
      version = v + 1)
    } // withLease
  }

  /** Re-freeze the rank model on the CURRENT snapshot's bounds and
    * rewrite the whole table under it — the answer to a climbing
    * [[stats clamp rate]]. Commits `model/v=N+1` + manifest `v=N+1`
    * whose rows are exactly the rewritten files; `clamped_total` resets
    * to 0 (the new bounds contain every current row by construction),
    * the replay watermark carries through, and every PRIOR version
    * stays time-travelable (reads never consult the model; old files
    * are retained until [[vacuum]]).
    *
    * This is the full-table rewrite [[append]] exists to avoid — run it
    * when drift says the layout stopped earning its keep, not per
    * batch. Crash note: a failure between the model write and the
    * manifest commit leaves a dangling `model/v=N+1` that [[recover]]
    * removes along with the claim; until then the store keeps serving
    * (and appending) under the old committed model.
    */
  def recluster(spark: SparkSession, dir: String, nFiles: Int,
      curve: Option[String] = None,
      staleClaimMs: Long = Long.MaxValue): AppendStats = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"recluster before init under $dir"))
    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    withLease(spark, dir, claim, staleClaimMs) {
    val old = loadModel(spark, dir, v)
    val cur = manifest(spark, dir, Some(v))
    val (priorWm, _) = versionConsts(cur)
    val oldFileCount = cur.select("file").count().toInt
    val snapshot = read(spark, dir, asOf = Some(v)).localCheckpoint()
    val (lo, hi) = bounds(snapshot, old.cols)
    val m = Model(old.cols, curve.getOrElse(old.curve), lo, hi, old.bloom)
    writeModel(spark, dir, v + 1, m.cols, m.curve, lo, hi, m.bloom)
    val key = curveKey(m)
    val newFiles = Fs.stagedAppend(
      withIds(snapshot.withColumn("_z", key)
        .repartitionByRange(nFiles, col("_z"))
        .sortWithinPartitions("_z")
        .select(snapshot.columns.map(col).toSeq: _*),
        anchorSchema(spark, dir)),
      Nil, dataDir(dir))
    heartbeat(spark, claim, dir)
    // an EMPTY snapshot stages no files (legal: recluster of a store
    // whose rows were all in vacuumed versions) — commit a typed
    // zero-row manifest instead of reading zero parquet paths
    val rows =
      if (newFiles.isEmpty) cur.limit(0)
      else ledgerRows(spark.read.parquet(newFiles: _*), m, key,
        batchId = -1L)
    commitManifest(stamp(rows, priorWm, clamped = 0L), dir, claim)
    AppendStats(rewritten = oldFileCount,
      created = newFiles.size, untouched = 0, clamped = 0L,
      version = v + 1)
    } // withLease
  }

  /** What one [[delete]] did: files rewritten (they contained matches),
    * files untouched, rows removed, and the new current version (== the
    * prior version when nothing matched — no empty commit).
    */
  final case class DeleteStats(
      rewritten: Int, untouched: Int, deleted: Long, version: Int)

  /** Copy-on-write row deletion — the takedown path: remove every row
    * matching `predicate`, rewriting ONLY the files that contain at
    * least one match, committed as a new manifest version. At 100 TB
    * "delete these documents" must not be a full-table rewrite: scope
    * is bounded in two stages —
    *
    *  1. MANIFEST pruning (no data touched): `pruneBoxes` (a superset
    *     box over the predicate, same geometry as [[readPruned]])
    *     and/or `keyIn` (point keys against the manifest Bloom column,
    *     like [[readPoint]]) cut the candidate set to may-contain
    *     files. Both optional; omitted → every file is a candidate.
    *     Correctness never depends on them: the predicate is re-applied
    *     in full on the candidates (pruning hints that UNDER-cover the
    *     predicate delete fewer rows than asked — supply a superset, as
    *     with every pruned read).
    *  2. MATCH COUNTING (column-pruned scan of candidates only): files
    *     with zero matches keep their manifest rows byte-identical;
    *     only true hits are read in full and rewritten without the
    *     matching rows, curve-sorted and range-split like [[compact]]
    *     (merged outputs may span the replaced files' interval hull —
    *     coarser boxes, same answers, the documented compact trade).
    *
    * Old versions still reference the pre-delete files, so the deleted
    * rows remain visible to `read(asOf = <older>)` until [[vacuum]] —
    * time travel is the audit trail, vacuum is the actual disposal
    * (run it when the retention clock, not the delete, says so).
    * `clamped_total` carries through unchanged: it is a lifetime drift
    * odometer for the CURRENT model, not a live row property.
    */
  def delete(spark: SparkSession, dir: String, predicate: Column,
      pruneBoxes: Seq[StatsLedger.Box] = Nil,
      keyIn: Option[(String, Seq[Long])] = None,
      targetRowsPerFile: Long = 0L,
      staleClaimMs: Long = Long.MaxValue): DeleteStats = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"delete before init under $dir"))
    val cur = manifest(spark, dir, Some(v))
    val all = cur.select("file", "n_rows").collect()
    val boxSurvivors =
      if (pruneBoxes.isEmpty) all.map(_.getString(0)).toSet
      else StatsLedger.pruneFiles(spark, versionDir(dir, v), pruneBoxes)
        .toSet
    val bloomSurvivors = keyIn match {
      case Some((kc, ks)) if cur.columns.contains(s"bloom_$kc") =>
        pruneFilesPoint(spark, dir, kc, ks, Some(v)).toSet
      case _ => boxSurvivors // no sketch for this key → no Bloom pruning
    }
    val candidates = boxSurvivors.intersect(bloomSurvivors).toSeq.sorted
    if (candidates.isEmpty)
      return DeleteStats(0, all.length, 0L, v)

    // column-pruned match count per candidate file — only files with a
    // real hit are rewritten; a pruning false-positive costs one scan,
    // never a rewrite. Deletion vectors apply first: an already-masked
    // row can neither re-count as deleted nor force a rewrite
    val hitRows = readFilesDv(spark, dir, cur, candidates)
      .withColumn("_f", input_file_name())
      .filter(predicate)
      .groupBy(col("_f")).agg(count(lit(1)).as("n"))
      .collect()
    val hits = hitRows.map(r => normPath(r.getString(0))).toSet
    val nDeleted = hitRows.map(_.getLong(1)).sum
    if (hits.isEmpty)
      return DeleteStats(0, all.length, 0L, v)

    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    withLease(spark, dir, claim, staleClaimMs) {
    val m = loadModel(spark, dir, v)
    val key = curveKey(m)
    val (priorWm, priorClamped) = versionConsts(cur)
    val hitFiles = candidates.filter(f => hits.contains(normPath(f)))
    // survivors = NOT deleted: rows where the predicate is FALSE or
    // NULL — a bare !predicate filter would silently drop null-eval
    // rows too (deleted + counted nowhere), the classic tri-state trap
    val survivors = readFilesDv(spark, dir, cur, hitFiles)
      .filter(!coalesce(predicate, lit(false)))
    val outCols = survivors.columns.map(col).toSeq
    val n = survivors.count()
    val target =
      if (targetRowsPerFile > 0) targetRowsPerFile
      else math.max(1L, all.map(_.getAs[Long]("n_rows")).sum /
        math.max(1, all.length))
    val newFiles =
      if (n == 0) Nil
      else Fs.stagedAppend(
        withIds(survivors.withColumn("_z", key)
          .repartitionByRange(
            math.max(1L, (n + target - 1) / target).toInt, col("_z"))
          .sortWithinPartitions("_z")
          .select(outCols: _*), anchorSchema(spark, dir)),
        Nil, dataDir(dir))
    heartbeat(spark, claim, dir)

    val untouched = cur.filter(!col("file").isin(hitFiles: _*))
    val fresh =
      if (newFiles.isEmpty) untouched
      else untouched.unionByName(
        ledgerRows(spark.read.parquet(newFiles: _*), m, key,
          batchId = -1L),
        allowMissingColumns = true)
    commitManifest(stamp(fresh, priorWm, priorClamped), dir, claim)
    DeleteStats(rewritten = hitFiles.length,
      untouched = all.length - hitFiles.length,
      deleted = nDeleted, version = v + 1)
    } // withLease
  }

  /** Point-key takedown: delete rows whose `keyCol` is in `keys`, with
    * the manifest Bloom column bounding the rewrite to may-contain
    * files — the "remove these N document ids from 100 TB" call, priced
    * like a point lookup plus a rewrite of only the hit files.
    */
  def deleteKeys(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], staleClaimMs: Long = Long.MaxValue): DeleteStats =
    delete(spark, dir, col(keyCol).isin(keys: _*),
      keyIn = Some((keyCol, keys)), staleClaimMs = staleClaimMs)

  /** [[deleteKeys]] with the key set as a DataFrame — the copy-on-write
    * path for takedowns too large to materialize on the driver (r14
    * verdict wrong #1: [[graft.ops.Forget]] stages >64Ki-id requests as
    * parquet frames precisely so no id set is ever collect()ed, and the
    * primary-store leg must not be the one target that defeats it).
    * Hit detection is one column-pruned scan of `keyCol` semi-joined
    * against the key frame (Catalyst broadcasts or shuffles per AQE —
    * never a driver materialization); only files with a real hit are
    * rewritten, via an anti-join instead of a literal predicate. The
    * manifest's Bloom/box sketches don't apply (they are probed with
    * driver-side key values by construction), so this path trades the
    * sketch pruning for the scan — the right trade exactly when the key
    * set is too big to hold, and why [[deleteKeys]]/[[deleteKeysDV]]
    * remain the small-set fast paths. Null `keyCol` rows survive (a
    * null key matches no banned id — the anti-join keeps them, no
    * tri-state trap).
    */
  def deleteKeysFrame(spark: SparkSession, dir: String, keyCol: String,
      keys: DataFrame, targetRowsPerFile: Long = 0L,
      staleClaimMs: Long = Long.MaxValue): DeleteStats = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"delete before init under $dir"))
    val cur = manifest(spark, dir, Some(v))
    val all = cur.select("file", "n_rows").collect()
    val k = keys.select(col(keys.columns.head).cast("long")
      .as("_fg_del_key")).na.drop().distinct().persist()
    try {
      val candidates = all.map(_.getString(0)).toSeq.sorted
      val hitRows = readFilesDv(spark, dir, cur, candidates)
        .withColumn("_f", input_file_name())
        .join(k, col(keyCol) === col("_fg_del_key"), "left_semi")
        .groupBy(col("_f")).agg(count(lit(1)).as("n"))
        .collect()
      val hits = hitRows.map(r => normPath(r.getString(0))).toSet
      val nDeleted = hitRows.map(_.getLong(1)).sum
      if (hits.isEmpty)
        return DeleteStats(0, all.length, 0L, v)

      val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
      withLease(spark, dir, claim, staleClaimMs) {
        val m = loadModel(spark, dir, v)
        val key = curveKey(m)
        val (priorWm, priorClamped) = versionConsts(cur)
        val hitFiles = candidates.filter(f => hits.contains(normPath(f)))
        val survivors = readFilesDv(spark, dir, cur, hitFiles)
          .join(k, col(keyCol) === col("_fg_del_key"), "left_anti")
        val outCols = survivors.columns.map(col).toSeq
        val n = survivors.count()
        val target =
          if (targetRowsPerFile > 0) targetRowsPerFile
          else math.max(1L, all.map(_.getAs[Long]("n_rows")).sum /
            math.max(1, all.length))
        val newFiles =
          if (n == 0) Nil
          else Fs.stagedAppend(
            withIds(survivors.withColumn("_z", key)
              .repartitionByRange(
                math.max(1L, (n + target - 1) / target).toInt, col("_z"))
              .sortWithinPartitions("_z")
              .select(outCols: _*), anchorSchema(spark, dir)),
            Nil, dataDir(dir))
        heartbeat(spark, claim, dir)

        val untouched = cur.filter(!col("file").isin(hitFiles: _*))
        val fresh =
          if (newFiles.isEmpty) untouched
          else untouched.unionByName(
            ledgerRows(spark.read.parquet(newFiles: _*), m, key,
              batchId = -1L),
            allowMissingColumns = true)
        commitManifest(stamp(fresh, priorWm, priorClamped), dir, claim)
        DeleteStats(rewritten = hitFiles.length,
          untouched = all.length - hitFiles.length,
          deleted = nDeleted, version = v + 1)
      } // withLease
    } finally { k.unpersist(); () }
  }

  // -------------------------------------------------------------------
  // Deletion vectors (merge-on-read point takedowns)
  // -------------------------------------------------------------------

  /** Per-file deletion-vector manifest columns: `dv_col` (the key
    * column the mask is keyed on), `dv_keys` (the masked key values —
    * a key LIST, not a row bitmap: file paths are stable but row order
    * inside a rewritten file is not, and a key list keeps the mask
    * valid under the store's curve-sorted rewrites), `dv_rows` (how
    * many PHYSICAL rows of this file the mask hides — the live-row
    * accounting [[stats]] subtracts and [[compact]]'s fold policy
    * reads), `dv_path` (set instead of `dv_keys` once a file's mask
    * outgrows [[DvSpillKeys]]: the mask spills to an immutable SIDECAR
    * parquet under `dir/dv/` and the manifest row carries only the
    * pointer, so manifest reads stay metadata-sized no matter how
    * heavy a single file's mask gets — the Delta DV-file idea).
    * Null/absent = no mask. Masks are FILE-SCOPED: a later append of
    * the same key value is a new row in a new file and survives —
    * deletion is point-in-time, exactly like Delta/Iceberg DVs.
    */
  private val DvCols = Seq("dv_col", "dv_keys", "dv_rows", "dv_path")

  /** Per-file masked-key count above which [[maskManifest]] spills the
    * key list to a sidecar file instead of growing the in-row array: a
    * manifest row must stay metadata-sized (a 100k-key array in a
    * manifest row would ride along every manifest read forever), while
    * a sidecar is read only when its file is actually opened.
    */
  val DvSpillKeys: Int = 4096

  /** Above this many keys, the key-set operations ([[deleteKeysDV]],
    * [[upsertKeys]], [[readPoint]], [[pruneFilesPoint]]) switch from
    * literal `IN`-list expressions to broadcast key-frame joins. The
    * literal path is codegen'd and cheapest for real takedowns
    * (tens-to-thousands of keys); past this threshold a literal list
    * stops being a plan and starts being a payload — a 10M-key replace
    * batch would build a 100 MB expression tree and die in analysis,
    * not execution. The join path broadcasts the keys as DATA instead,
    * which is exactly what Spark is for. Answers are identical on both
    * paths (spec-pinned).
    */
  val LiteralKeyMax: Int = 10000

  private def dvSidecarDir(dir: String) = s"$dir/dv"

  private def baseName(p: String): String =
    new org.apache.hadoop.fs.Path(p).getName

  /** Manifest rows with the DV columns present (null-typed when the
    * manifest predates them), so downstream column logic is uniform.
    */
  private def ensureDvCols(man: DataFrame): DataFrame = {
    val withCol =
      if (man.columns.contains("dv_col")) man
      else man.withColumn("dv_col", lit(null).cast("string"))
    val withKeys =
      if (withCol.columns.contains("dv_keys")) withCol
      else withCol.withColumn("dv_keys", lit(null).cast("array<bigint>"))
    val withRows =
      if (withKeys.columns.contains("dv_rows")) withKeys
      else withKeys.withColumn("dv_rows", lit(null).cast("bigint"))
    if (withRows.columns.contains("dv_path")) withRows
    else withRows.withColumn("dv_path", lit(null).cast("string"))
  }

  /** A manifest row's mask is LIVE when it carries inline keys or a
    * sidecar pointer.
    */
  private def dvLive: Column =
    (col("dv_keys").isNotNull && size(col("dv_keys")) > 0) ||
      col("dv_path").isNotNull

  /** (file basename, key column) for every `files` entry carrying a
    * live deletion vector (inline or spilled) — the conflict probe for
    * masks keyed on a different column. File-count bounded.
    */
  private def dvMaskCols(man: DataFrame, files: Seq[String])
      : Seq[(String, String)] =
    if (!man.columns.contains("dv_col")) Nil
    else {
      val names = files.map(baseName).toSet
      ensureDvCols(man).filter(dvLive)
        .select("file", "dv_col")
        .collect()
        .filter(r => names.contains(baseName(r.getString(0))))
        .map(r => (baseName(r.getString(0)), r.getString(1)))
        .toSeq
    }

  /** The live mask rows for `files`, collected: (basename, key column,
    * inline keys if any, sidecar path if spilled, masked-row count —
    * the upper bound on the mask's key volume). Bounded by FILE COUNT
    * and [[DvSpillKeys]] — spilled masks contribute a pointer, never
    * their key list.
    */
  private def dvMaskRows(man: DataFrame, files: Seq[String])
      : Seq[(String, String, Option[Seq[Long]], Option[String], Long)] =
    if (!man.columns.contains("dv_col")) Nil
    else {
      val names = files.map(baseName).toSet
      ensureDvCols(man).filter(dvLive)
        .select("file", "dv_col", "dv_keys", "dv_path", "dv_rows")
        .collect()
        .filter(r => names.contains(baseName(r.getString(0))))
        .map(r => (baseName(r.getString(0)), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getSeq[Long](2)),
          if (r.isNullAt(3)) None else Some(r.getString(3)),
          if (r.isNullAt(4)) 0L else r.getLong(4)))
        .toSeq
    }

  /** Mask-pair frames at or under this many keys join as BROADCAST
    * anti-joins (one hash table, no shuffle of the data side); past it
    * the hint is dropped and Spark plans a shuffle join — a mask that
    * outgrew takedown scale (a giant replace batch still waiting for
    * its compact fold) must not be forced through the driver and every
    * executor's memory as a broadcast.
    */
  val DvBroadcastMaxKeys: Long = 1L << 20

  /** Open `files` with their deletion vectors applied — the
    * merge-on-read path every answer-producing and every rewriting
    * read goes through. Clean files open exactly as before (no
    * `input_file_name` tax); masked files take one broadcast anti-join
    * of (file basename, key) pairs per distinct DV key column
    * (basenames are Spark part-file UUIDs — globally unique, so the
    * per-file scoping is exact). Null keys never match a mask entry
    * (null-safe: a takedown can only name concrete keys).
    */
  private def readFilesDv(spark: SparkSession, dir: String,
      man: DataFrame, files: Seq[String]): DataFrame = {
    val dvs = dvMaskRows(man, files)
    if (dvs.isEmpty) readFiles(spark, dir, files)
    else {
      val maskedNames = dvs.map(_._1).toSet
      val (masked, clean) =
        files.partition(f => maskedNames.contains(baseName(f)))
      import spark.implicits._
      var m = readFiles(spark, dir, masked)
        .withColumn("_dvf", element_at(split(input_file_name(), "/"), -1))
      dvs.groupBy(_._2).foreach { case (kc, entries) =>
        val inline = entries
          .flatMap { case (f, _, ks, _, _) =>
            ks.getOrElse(Nil).map(k => (f, k)) }
          .toDF("_dvf2", "_dvk")
        // spilled masks join from their sidecars, read DISTRIBUTED and
        // scoped to exactly the (file → its sidecar) bindings of THIS
        // manifest. (A shared sidecar can carry a stale entry set for a
        // file a LATER commit re-spilled — but per-basename masks only
        // grow until the file itself is replaced, so a stale subset
        // unioned with the current full list is just the full list.)
        val sidecars = entries
          .collect { case (f, _, _, Some(p), _) => (p, f) }
          .groupBy(_._1)
          .map { case (p, fs) =>
            spark.read.parquet(p)
              .filter(col("_dvf").isin(fs.map(_._2): _*))
              .select(col("_dvf").as("_dvf2"), col("_dvk"))
          }
        // localCheckpoint cuts the sidecars' file-source lineage out of
        // the join plan: callers stack input_file_name() on OUR side,
        // and Spark refuses plans where it could bind to two sources.
        // Sidecar volume is mask-scale — the materialization is tiny.
        val pairs =
          if (sidecars.isEmpty) inline
          else sidecars.foldLeft(inline)(_ unionByName _).localCheckpoint()
        // broadcast only while the scoped mask volume is broadcast-safe
        // — a mask grown past takedown scale shuffles instead
        val hinted =
          if (entries.map(_._5).sum <= DvBroadcastMaxKeys) broadcast(pairs)
          else pairs
        m = m.join(hinted,
          m("_dvf") === hinted("_dvf2") &&
            col(kc).cast("long") === hinted("_dvk"),
          "left_anti")
      }
      val md = m.drop("_dvf")
      if (clean.isEmpty) md
      else readFiles(spark, dir, clean).unionByName(md)
    }
  }

  /** `df` filtered to rows whose `keyCol` IS (`negate = false`) or IS
    * NOT (`negate = true`) in `keys`, null-keyed rows always surviving
    * negation (no row "matches" a null key). Below [[LiteralKeyMax]]
    * this is the codegen'd literal `IN`; above it, a broadcast
    * key-frame semi/anti join — same answers, and the PLAN stays
    * metadata-sized regardless of key volume (the keys travel as
    * broadcast data, not as an expression tree).
    */
  private def filterKeys(df: DataFrame, keyCol: String, keys: Seq[Long],
      negate: Boolean): DataFrame =
    if (keys.size <= LiteralKeyMax) {
      val in = df.col(keyCol).cast("long").isin(keys: _*)
      if (negate) df.filter(!coalesce(in, lit(false))) else df.filter(in)
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val kf = keys.toDF("_kf_k")
      df.join(broadcast(kf), df.col(keyCol).cast("long") === kf("_kf_k"),
        if (negate) "left_anti" else "left_semi")
    }

  /** Merge-on-read point takedown — [[deleteKeys]] without the
    * rewrite: rows whose `keyCol` is in `keys` are masked by a per-file
    * deletion vector committed IN THE MANIFEST ROW, and ZERO data files
    * are rewritten. At the frequent-small-takedown regime a compliance
    * pipeline actually runs, copy-on-write's cost is wrong by orders of
    * magnitude — a 2-row takedown in a 1M-row file must not be a
    * 1M-row rewrite. Cost here: one Bloom prune (manifest-only), one
    * column-pruned scan of may-contain files to find true hits, one
    * manifest commit.
    *
    * Every read path ([[read]] / [[readPruned]] / [[readPoint]]) and
    * every rewriting maintainer ([[append]] / [[compact]] /
    * [[recluster]] / [[delete]]) applies the mask via [[readFilesDv]],
    * so answers are identical to the copy-on-write path; masks FOLD
    * into clean files whenever their file is rewritten (the rewrite
    * reads the file masked and the replacement manifest row carries no
    * DV), and [[compact]] additionally folds mostly-dead files on its
    * own. Repeated takedowns on one file merge their key lists; a
    * takedown keyed on a DIFFERENT column than a file's existing mask
    * is refused before any work (one mask column per file — fold first
    * via [[compact]], or reuse the same key column). Masked rows stay
    * visible to `read(asOf = <older>)` — the audit trail — and are
    * physically disposed when a rewrite folds them and [[vacuum]]
    * retires the old files.
    */
  def deleteKeysDV(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], staleClaimMs: Long = Long.MaxValue): DeleteStats = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"delete before init under $dir"))
    val cur = manifest(spark, dir, Some(v))
    val all = cur.select("file").collect().map(_.getString(0))
    val candidates =
      if (cur.columns.contains(s"bloom_$keyCol"))
        pruneFilesPoint(spark, dir, keyCol, keys, Some(v))
      else all.toSeq
    if (candidates.isEmpty) return DeleteStats(0, all.length, 0L, v)

    // column-pruned LIVE hit count + exact per-file key sets (existing
    // masks applied first: an already-masked key must not double-count)
    val hits = filterKeys(
        readFilesDv(spark, dir, cur, candidates)
          .withColumn("_f",
            element_at(split(input_file_name(), "/"), -1)),
        keyCol, keys, negate = false)
      .groupBy(col("_f"))
      .agg(count(lit(1)).as("n"),
        collect_set(col(keyCol).cast("long")).as("ks"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getSeq[Long](2)))
      .toSeq
    if (hits.isEmpty) return DeleteStats(0, all.length, 0L, v)
    val nDeleted = hits.map(_._2).sum

    // Hit files already masked on a DIFFERENT column cannot take a
    // second mask (one mask column per file keeps the read-side
    // anti-join per-column and exact) — they get a TARGETED
    // copy-on-write fold instead, inside this same commit: read
    // DV-applied (old mask folds out), drop this takedown's keys
    // physically, restage. Everything else masks as usual — so
    // interleaved takedowns on two key domains never need a manual
    // compact in between (multi-domain compliance pipelines are the
    // norm, not the exception).
    val conflictNames = dvMaskCols(cur, candidates)
      .filter(_._2 != keyCol).map(_._1).toSet
    val (foldHits, maskHits) = hits.partition(h =>
      conflictNames.contains(h._1))
    val foldFiles = candidates.filter(f =>
      foldHits.exists(_._1 == baseName(f)))

    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    withLease(spark, dir, claim, staleClaimMs) {
      val (priorWm, priorClamped) = versionConsts(cur)
      val (masked, rewritten) =
        if (foldFiles.isEmpty) (cur, Seq.empty[String])
        else {
          val m = loadModel(spark, dir, v)
          val key = curveKey(m)
          val survivors = filterKeys(
            readFilesDv(spark, dir, cur, foldFiles),
            keyCol, keys, negate = true)
          val outCols = survivors.columns.map(col).toSeq
          val n = survivors.count()
          val newFiles =
            if (n == 0) Nil
            else Fs.stagedAppend(
              withIds(survivors.withColumn("_z", key)
                .repartitionByRange(math.max(1,
                  math.min(foldFiles.size, 200)), col("_z"))
                .sortWithinPartitions("_z")
                .select(outCols: _*), anchorSchema(spark, dir)),
              Nil, dataDir(dir))
          val kept = cur.filter(!col("file").isin(foldFiles: _*))
          val next =
            if (newFiles.isEmpty) kept
            else kept.unionByName(
              ledgerRows(spark.read.parquet(newFiles: _*), m, key,
                batchId = -1L),
              allowMissingColumns = true)
          (next, foldFiles)
        }
      heartbeat(spark, claim, dir)
      val updated = maskManifest(spark, dir, masked, keyCol, maskHits)
      commitManifest(stamp(updated, priorWm, priorClamped), dir, claim)
      DeleteStats(rewritten = rewritten.size,
        untouched = all.length - rewritten.size,
        deleted = nDeleted, version = v + 1)
    }
  }

  /** Manifest rows with `hits` — (file basename, masked-row count,
    * masked keys) — merged into their deletion-vector columns: key
    * lists union, masked-row counts add, `dv_col` set to `keyCol`.
    * Rows without a hit pass through untouched. Shared by
    * [[deleteKeysDV]] and the upsert path of [[append]].
    *
    * SPILL (the manifest-size bound): a file whose merged mask would
    * exceed [[DvSpillKeys]] keys — or that already spilled — gets its
    * FULL merged key list written to one immutable sidecar parquet
    * under `dir/dv/` (columns `_dvf`, `_dvk`; one sidecar per commit,
    * shared by every file spilling in it), and its manifest row
    * carries `dv_path` instead of `dv_keys`. The sidecar a re-spilled
    * file previously pointed at stays on disk for the retained old
    * versions that reference it; [[vacuum]] reclaims sidecars exactly
    * like data files (kept-manifest reference scan). Must run under
    * the caller's claim — the sidecar write is part of the commit.
    */
  private def maskManifest(spark: SparkSession, dir: String,
      man: DataFrame, keyCol: String,
      hits: Seq[(String, Long, Seq[Long])]): DataFrame =
    if (hits.isEmpty) man
    else {
      import spark.implicits._
      val prior = dvMaskRows(man, hits.map(_._1))
        .map { case (f, _, ks, p, _) => f -> (ks, p) }.toMap
      val spillHits = hits.filter { case (f, _, ks) =>
        prior.get(f) match {
          case Some((_, Some(_))) => true // already spilled: stay spilled
          case Some((Some(old), None)) => old.size + ks.size > DvSpillKeys
          case _ => ks.size > DvSpillKeys
        }
      }
      val spillNames = spillHits.map(_._1).toSet
      val sidecar: Option[String] =
        if (spillHits.isEmpty) None
        else {
          val p = s"${dvSidecarDir(dir)}/${newToken()}"
          // inline-resident priors + the new keys travel from the
          // driver (both bounded: <= DvSpillKeys and <= hit volume);
          // already-spilled priors merge in DISTRIBUTED from their old
          // sidecars — the driver never holds a spilled list
          val fresh = spillHits.flatMap { case (f, _, ks) =>
            (ks ++ prior.get(f).flatMap(_._1).getOrElse(Nil))
              .distinct.map(k => (f, k))
          }.toDF("_dvf", "_dvk")
          val olds = spillHits
            .flatMap { case (f, _, _) =>
              prior.get(f).flatMap(_._2).map(sc => (sc, f)) }
            .groupBy(_._1)
            .map { case (sc, fs) =>
              spark.read.parquet(sc)
                .filter(col("_dvf").isin(fs.map(_._2): _*))
                .select("_dvf", "_dvk")
            }
          olds.foldLeft(fresh)(_ unionByName _)
            .distinct()
            .coalesce(1)
            .write.parquet(p)
          Some(p)
        }
      val delta = hits.map { case (f, n, ks) =>
        val spilled = spillNames.contains(f)
        (f, if (spilled) null else ks, n, spilled)
      }.toDF("_f", "_add_keys", "_add_n", "_spill")
      ensureDvCols(man)
        .withColumn("_f", element_at(split(col("file"), "/"), -1))
        .join(broadcast(delta), Seq("_f"), "left")
        .withColumn("dv_col",
          when(col("_add_n").isNotNull, lit(keyCol))
            .otherwise(col("dv_col")))
        .withColumn("dv_keys",
          when(coalesce(col("_spill"), lit(false)), // spilled: inline out
            lit(null).cast("array<bigint>"))
            .when(col("_add_keys").isNotNull,
              array_union(
                coalesce(col("dv_keys"),
                  expr("CAST(array() AS ARRAY<BIGINT>)")),
                col("_add_keys")))
            .otherwise(col("dv_keys")))
        .withColumn("dv_path",
          when(coalesce(col("_spill"), lit(false)),
            lit(sidecar.orNull).cast("string"))
            .otherwise(col("dv_path")))
        .withColumn("dv_rows",
          when(col("_add_n").isNotNull,
            coalesce(col("dv_rows"), lit(0L)) + col("_add_n"))
            .otherwise(col("dv_rows")))
        .drop("_f", "_add_keys", "_add_n", "_spill")
    }

  /** Delete the caller's OWN claim (token-verified) — the release path
    * for claims that never commit a manifest ([[vacuum]]'s). A lost
    * lease is left untouched: the slot belongs to the successor now.
    * Sidecar first, claim last, so no window exists where a NEW
    * claimant's heartbeat sidecar could be deleted by us.
    */
  private def releaseClaim(
      spark: SparkSession, dir: String, claim: Claim): Unit =
    try {
      if (readClaim(spark, dir, claim.v).map(_._1).contains(claim.token)) {
        Fs.delete(spark, hbPath(dir, claim.v))
        Fs.delete(spark, claimPath(dir, claim.v))
      }
    } catch { case _: java.io.IOException => () }

  /** Drop manifest versions past the newest `keepLast` and delete every
    * data file the KEPT versions don't reference — files exclusive to
    * dropped versions AND orphans from crashed maintenance attempts
    * (explicit commit lineage means orphans are never adopted, so
    * vacuum is the only thing that touches them). Also removes spent
    * claims, stale claims/markerless dirs, unreferenced deletion-vector
    * sidecars, and model versions older than the kept window needs.
    * Keeps at least the current version.
    *
    * Vacuum runs INSIDE the claim protocol for its METADATA phase (r10
    * verdict): it takes the next-version claim exactly like every
    * maintainer, re-lists the committed versions AFTER acquiring it,
    * snapshots the kept-file set and the data-dir listing, drops the
    * expired manifest versions, and releases the claim (no manifest
    * commit). The DATA-FILE DELETE SCAN then runs AFTER release (r11
    * verdict #3: at 800k-file scale the scan is minutes, and holding
    * the claim across it stalls every appender): the claim-hold time is
    * O(manifest reads + one directory listing), and appends COMMIT
    * concurrently with the deletes. Safe by lineage + snapshot order —
    *
    *  - every maintainer stages under its claim, so while vacuum held
    *    the claim nothing was staging: every file in the snapshot
    *    listing is either kept-referenced or unreferenced by ALL
    *    retained manifests;
    *  - manifests only ever reference their own staged files plus
    *    prior-manifest rows, so a file unreferenced by every kept
    *    manifest can NEVER become referenced again — deleting it later
    *    is safe no matter what commits in between;
    *  - files a post-release maintainer stages carry fresh unique
    *    names that are NOT in the snapshot listing, so they can never
    *    enter the delete set (the mtime guard below is defense in
    *    depth for object-store listing anomalies, not the proof).
    *
    * A LIVE maintainer's claim makes vacuum REFUSE
    * ([[ConcurrentCommitException]]; pass `staleClaimMs` to break a
    * dead one's, same lease rules as every writer). Internal cleanup
    * honors the same staleness rules ([[recover]]'s), with vacuum's own
    * claim exempt. A vacuum that crashes mid-run leaves at most a
    * stale claim (metadata phase) or undeleted garbage files (scan
    * phase) — the next vacuum collects them; the store stays
    * consistent at every step.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      staleClaimMs: Long = Long.MaxValue,
      olderThanMs: Long = 0L): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    currentVersion(spark, dir) match {
      case None => 0
      case Some(cur) =>
        val claim = claimOrThrow(spark, dir, cur + 1, staleClaimMs)
        // alwaysDefend (r11 advice): vacuum's snapshot must be taken
        // under an unbroken claim, so it keeps its lease fresh even at
        // the default takeover-disabled staleClaimMs. Defense is
        // best-effort; the hard stop is the token re-verify AFTER the
        // listing snapshot inside vacuumLocked.
        val (metaRemoved, deleteSet) =
          try withLease(spark, dir, claim, staleClaimMs,
            alwaysDefend = true) {
            vacuumLocked(spark, dir, keepLast, staleClaimMs, olderThanMs,
              claim)
          } finally releaseClaim(spark, dir, claim)
        // the slow part — claim already released, appenders commit freely
        onVacuumDeletes()
        var removed = metaRemoved
        deleteSet.foreach { p => Fs.delete(spark, p); removed += 1 }
        removed
    }
  }

  /** Test hook: invoked after vacuum has computed its kept-file
    * snapshot and before the listing snapshot — the window where losing
    * the claim must abort the scan. Production value is a no-op.
    */
  private[ops] var onVacuumScan: () => Unit = () => ()

  /** Test hook: invoked after vacuum has RELEASED its claim and before
    * the first data-file delete — the window where concurrent appends
    * must be able to commit. Production value is a no-op.
    */
  private[ops] var onVacuumDeletes: () => Unit = () => ()

  private def vacuumLocked(spark: SparkSession, dir: String,
      keepLast: Int, staleClaimMs: Long, olderThanMs: Long,
      claim: Claim): (Int, Seq[String]) = {
    val lockedAtMs = System.currentTimeMillis()
    // committed set RE-LISTED under the claim: nothing can commit while
    // we hold it, so keptPaths is exact for this snapshot
    val committed = Fs.list(spark, ledgerDir(dir))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt)
      .filter(n => Fs.exists(spark, s"${versionDir(dir, n)}/_SUCCESS"))
      .sorted
    if (committed.isEmpty) return (0, Nil)
    // retention is the AND of both clocks: a version survives if it is
    // within the newest keepLast OR its commit is younger than
    // olderThanMs (time travel over the recent window stays available
    // even when a version-count policy would drop it — the Delta
    // retention-hours idea on top of keepLast). olderThanMs = 0 keeps
    // the pure count policy.
    def commitAgeMs(n: Int): Long =
      try System.currentTimeMillis() -
        Fs(spark, versionDir(dir, n)).getFileStatus(
          new org.apache.hadoop.fs.Path(s"${versionDir(dir, n)}/_SUCCESS"))
          .getModificationTime
      catch { case _: java.io.IOException => Long.MaxValue }
    val (dropCandidates, keepByCount) =
      committed.splitAt(math.max(0, committed.size - keepLast))
    val (drop, keptYoung) =
      if (olderThanMs <= 0L) (dropCandidates, Nil)
      else dropCandidates.partition(n => commitAgeMs(n) >= olderThanMs)
    val keep = (keptYoung ++ keepByCount).sorted
    val keptMans = keep.map(n => ensureDvCols(
      spark.read.parquet(versionDir(dir, n))))
    val keptPaths = keptMans.flatMap(
      _.select("file").collect().map(r => normPath(r.getString(0)))).toSet
    // deletion-vector sidecars the kept versions still reference
    val keptDv = keptMans.flatMap(
      _.filter(col("dv_path").isNotNull).select("dv_path")
        .collect().map(r => normPath(r.getString(0)))).toSet
    onVacuumScan()
    def verifyClaimOrAbort(): Unit =
      if (!readClaim(spark, dir, claim.v).map(_._1).contains(claim.token))
        throw new ConcurrentCommitException(
          s"vacuum($dir): claim on v=${claim.v} was broken mid-scan — " +
            "aborting before any delete (a successor may be staging " +
            "files this vacuum's snapshot cannot see)")
    // Snapshot the delete candidates. ORDER IS THE PROOF: the listing
    // is snapshotted FIRST, then the token is verified — a claim intact
    // after the listing means no successor existed before it, so every
    // file in the snapshot predates any possible takeover, and a
    // successor's freshly staged files (the only files a later commit
    // can reference outside keptPaths) can never be in the delete set.
    // The mtime guard additionally refuses anything younger than the
    // claim (nothing legitimate can be: staging requires the claim we
    // hold) — defense in depth for eventually-consistent listings.
    val dataListing = Fs.list(spark, dataDir(dir))
    val dvListing = Fs.list(spark, dvSidecarDir(dir))
    verifyClaimOrAbort()
    val deleteSet =
      dataListing.filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          !keptPaths.contains(normPath(st.getPath.toString)) &&
          st.getModificationTime < lockedAtMs
      }.map(_.getPath.toString) ++
      dvListing.filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          !keptDv.contains(normPath(st.getPath.toString)) &&
          st.getModificationTime < lockedAtMs
      }.map(_.getPath.toString)
    var removed = 0
    drop.foreach(n => Fs.delete(spark, versionDir(dir, n)))
    // spent/stale claims, markerless dirs — our own claim exempt, live
    // claims honored under the same lease rules as every breaker
    removed += recoverImpl(spark, dir, staleClaimMs, exempt = Some(claim))
    // model versions: keep the newest <= each kept manifest needs; i.e.
    // drop any model version strictly below the oldest kept manifest's
    // governing model
    val oldestKept = keep.head
    val models = Fs.list(spark, modelDir(dir))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt).sorted
    val governing = models.filter(_ <= oldestKept).lastOption.getOrElse(1)
    models.filter(_ < governing).foreach { n =>
      Fs.delete(spark, modelVersionDir(dir, n)); removed += 1
    }
    // anchor versions: reads only ever resolve the HIGHEST committed
    // anchor, so everything below it — and any markerless dir from a
    // crashed anchor write — is debris. (No in-flight anchor write can
    // exist here: anchor writers hold the claim we hold.) The newest
    // committed anchor is always kept: it is the empty-store serve path.
    anchorVersion(spark, dir).foreach { latest =>
      Fs.list(spark, schemaDir(dir)).map(_.getPath.getName)
        .filter(_.startsWith("v="))
        .map(_.stripPrefix("v=").toInt)
        .filter(_ != latest)
        .foreach { n =>
          Fs.delete(spark, s"${schemaDir(dir)}/v=$n"); removed += 1
        }
    }
    (removed, deleteSet)
  }

  /** [[append]] as an exactly-once `foreachBatch` hook. Replay probe:
    * every manifest version carries `wm_batch`, the max batch id ever
    * committed; Structured Streaming delivers batch ids monotonically
    * and re-delivers only an uncommitted batch after a crash, so
    * "batchId <= wm_batch" is exact — and unlike probing for the
    * batch's own surviving ledger rows, the watermark SURVIVES
    * compaction and later rewrites of the batch's files. Startup also
    * runs [[recover]]: under this path's single-writer contract, any
    * stale claim can only be this stream's own crashed predecessor, so
    * breaking it is safe.
    */
  def appendStream(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long, targetRowsPerFile: Long = 0L): AppendStats = {
    require(batchId >= 0, "streaming batch ids are non-negative")
    recover(spark, dir)
    val s = stats(spark, dir)
    if (batchId <= s.wmBatch)
      AppendStats(rewritten = 0, created = 0,
        untouched = s.nFiles.toInt, clamped = 0L, version = s.version)
    else append(spark, dir, batch, targetRowsPerFile, batchId = batchId)
  }

  /** Hadoop path equality across `file:/` vs `file:///` spellings. */
  private def normPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  // -------------------------------------------------------------------
  // Schema anchor (versioned) + stable field ids
  // -------------------------------------------------------------------

  private val FieldIdKey = "parquet.field.id"

  private def fieldId(f: org.apache.spark.sql.types.StructField)
      : Option[Long] =
    if (f.metadata.contains(FieldIdKey))
      Some(f.metadata.getLong(FieldIdKey))
    else None

  private def withFieldId(f: org.apache.spark.sql.types.StructField,
      id: Long): org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** Parquet field-id resolution on both ends: writes stamp each
    * column's stable id into the file footer, reads match
    * anchor-schema columns to file columns BY ID — which is what makes
    * [[renameColumn]] a metadata commit instead of a table rewrite.
    * Both confs are inert where ids are absent (legacy stores match by
    * name exactly as before).
    */
  private def ensureFieldIdConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
  }

  /** Re-attach the anchor's field-id metadata to `df`'s columns so the
    * parquet writer stamps them (a batch arriving from outside carries
    * no metadata). No-op for columns the anchor has no id for.
    */
  private def withIds(df: DataFrame,
      anchor: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    anchor match {
      case None => df
      case Some(st) =>
        df.select(df.columns.map { c =>
          st.find(_.name == c).filter(f => fieldId(f).isDefined) match {
            case Some(f) => col(c).as(c, f.metadata)
            case None => col(c)
          }
        }.toSeq: _*)
    }

  /** Highest COMMITTED anchor version (marker-gated, like manifests);
    * None on legacy flat anchors and pre-anchor stores.
    */
  private def anchorVersion(spark: SparkSession, dir: String): Option[Int] =
    Fs.list(spark, schemaDir(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith("v=") &&
        Fs.exists(spark, s"$p/_SUCCESS"))
      .map(_.getName.stripPrefix("v=").toInt)
      .sorted.lastOption

  /** Publish a new anchor version: a zero-row typed parquet under
    * `schema/v=N+1`, committed by its `_SUCCESS` marker. NEVER an
    * overwrite (r10 advice: the old `mode("overwrite")` on the flat
    * anchor was delete-then-rewrite — a reader in the window saw no
    * anchor at all, and a crash mid-write silently reverted the store
    * to legacy inference). Readers always resolve the highest COMMITTED
    * version, so a crashed write leaves a markerless dir the old anchor
    * simply outranks; vacuum sweeps it.
    */
  private def writeAnchor(spark: SparkSession, dir: String,
      st: org.apache.spark.sql.types.StructType): Unit = {
    ensureFieldIdConfs(spark)
    val next = Fs.list(spark, schemaDir(dir)).map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt)
      .foldLeft(0)(math.max) + 1
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      .coalesce(1).write.parquet(s"${schemaDir(dir)}/v=$next")
  }

  /** The store-owned schema: the highest committed `schema/v=N` anchor
    * (carrying stable parquet field ids since init), falling back to
    * the legacy flat `schema/` anchor of older stores (names only),
    * then None on stores that predate anchors entirely.
    */
  private def anchorSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    anchorVersion(spark, dir) match {
      case Some(v) =>
        Some(spark.read.parquet(s"${schemaDir(dir)}/v=$v").schema)
      case None =>
        val legacy = Fs.list(spark, schemaDir(dir))
          .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (legacy) Some(spark.read.parquet(schemaDir(dir)).schema)
        else None
    }

  /** A typed ZERO-ROW frame under the anchor schema — the empty-store
    * serve path (data/ may legally hold no files after a vacuum).
    */
  private def emptyFrame(spark: SparkSession,
      st: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)

  /** Committed manifest versions still retained in the ledger. */
  private def committedVersions(spark: SparkSession, dir: String): Seq[Int] =
    Fs.list(spark, ledgerDir(dir))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt)
      .filter(n => Fs.exists(spark, s"${versionDir(dir, n)}/_SUCCESS"))
      .sorted

  /** Retained versions whose manifests carry a live deletion-vector
    * mask keyed on `colName`. DV masks are key LISTS bound to their
    * column BY NAME (`dv_col` — unlike positional row bitmaps, which
    * are rename-proof): after renaming or dropping the keyed column,
    * [[readFilesDv]] would resolve `col(old-name)` against the new
    * anchor and every read of a masked file — including the
    * append/compact/recluster folds that are the only way to RETIRE a
    * mask — throws AnalysisException. So evolution must refuse while
    * any retained version still masks on the column (r11 advice).
    */
  private def dvKeyedVersions(spark: SparkSession, dir: String,
      colName: String): Seq[Int] =
    committedVersions(spark, dir).filter { n =>
      val man = manifest(spark, dir, Some(n))
      man.columns.contains("dv_col") &&
        !ensureDvCols(man)
          .filter(col("dv_col") === colName && dvLive).isEmpty
    }

  /** Rename a data column — a METADATA COMMIT: zero data files
    * touched. Old files keep the old name in their footers; every read
    * resolves anchor columns to file columns by the stable parquet
    * field id the store has stamped since [[init]], so pre-rename and
    * post-rename files serve ONE logical column (proven cross-engine by
    * `q_cluster_rename`). Serialized through the claim like every
    * maintainer; a crash leaves a markerless anchor dir the old name
    * outranks. Refused for clustering and Bloom columns (manifest stat
    * and sketch columns are name-keyed — recluster to re-key), for
    * unknown/colliding names, and on legacy stores whose anchor carries
    * no field ids (recluster once to migrate). Time travel follows the
    * existing evolution contract: old snapshots serve under the LATEST
    * schema, i.e. the new name. Also refused while any retained
    * version carries a deletion-vector mask KEYED on the column
    * ([[dvKeyedVersions]] — masks are name-bound).
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String, staleClaimMs: Long = Long.MaxValue): Unit = {
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"rename before init under $dir"))
    val st = anchorSchema(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"rename($dir): store has no schema anchor — rebuild via init"))
    require(st.fields.forall(f => fieldId(f).isDefined),
      s"rename($dir): anchor carries no field ids (pre-field-id " +
        "store) — renames need id-resolved reads; recluster to migrate")
    require(st.fieldNames.contains(from),
      s"rename($dir): no column $from in ${st.fieldNames.toSeq}")
    require(!st.fieldNames.contains(to),
      s"rename($dir): column $to already exists — ambiguous evolution")
    val m = loadModel(spark, dir, v)
    require(!m.cols.contains(from),
      s"rename($dir): $from is a clustering column (manifest min_/max_ " +
        "stats are name-keyed) — recluster under new columns instead")
    require(!m.bloom.exists(_._1 == from),
      s"rename($dir): $from carries a manifest Bloom sketch column — " +
        "re-init/recluster to re-key the sketch")
    val dvVs = dvKeyedVersions(spark, dir, from)
    require(dvVs.isEmpty,
      s"rename($dir): retained versions $dvVs carry deletion-vector " +
        s"masks keyed on $from (masks bind to the column by NAME — " +
        "every read of a masked file would break after the rename) — " +
        "fold the masks first (compact/recluster), then vacuum the " +
        "masked versions out of retention")
    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    try writeAnchor(spark, dir, org.apache.spark.sql.types.StructType(
      st.map(f => if (f.name == from) f.copy(name = to) else f)))
    finally releaseClaim(spark, dir, claim)
  }

  /** Drop a data column — a metadata commit, a pure projection on
    * every read: the anchor loses the field, so no read path requests
    * it; the bytes remain in old files until rewrites retire them.
    * A LATER additive re-add of the same name gets a FRESH field id,
    * so the dropped column's old bytes never resurrect (id mismatch →
    * nulls) — the semantics stable ids exist to pin. Same refusals and
    * serialization as [[renameColumn]].
    */
  def dropColumn(spark: SparkSession, dir: String, name: String,
      staleClaimMs: Long = Long.MaxValue): Unit = {
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"drop before init under $dir"))
    val st = anchorSchema(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"drop($dir): store has no schema anchor — rebuild via init"))
    require(st.fields.forall(f => fieldId(f).isDefined),
      s"drop($dir): anchor carries no field ids (pre-field-id store) " +
        "— recluster to migrate first")
    require(st.fieldNames.contains(name),
      s"drop($dir): no column $name in ${st.fieldNames.toSeq}")
    require(st.fields.length > 1, s"drop($dir): cannot drop the last column")
    val m = loadModel(spark, dir, v)
    require(!m.cols.contains(name),
      s"drop($dir): $name is a clustering column — recluster instead")
    require(!m.bloom.exists(_._1 == name),
      s"drop($dir): $name carries a manifest Bloom sketch — " +
        "re-init/recluster instead")
    val dvVs = dvKeyedVersions(spark, dir, name)
    require(dvVs.isEmpty,
      s"drop($dir): retained versions $dvVs carry deletion-vector " +
        s"masks keyed on $name (masks bind to the column by NAME — " +
        "every read of a masked file would break after the drop) — " +
        "fold the masks first (compact/recluster), then vacuum the " +
        "masked versions out of retention")
    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    try writeAnchor(spark, dir, org.apache.spark.sql.types.StructType(
      st.filterNot(_.name == name)))
    finally releaseClaim(spark, dir, claim)
  }

  /** Widen a data column's type — a METADATA COMMIT, zero data files
    * touched, the third leg of schema evolution next to [[renameColumn]]
    * and [[dropColumn]]. Exactly the two promotions Spark's vectorized
    * parquet reader serves losslessly from old footers are accepted:
    * `int` → `bigint` and `float` → `double`. The anchor field keeps its
    * stable parquet field id with the new type; files written before
    * the widening keep the narrow physical type and every read path
    * up-converts them under the declared anchor schema, so pre- and
    * post-widening files serve ONE logical column (proven cross-engine
    * by `q_cluster_widen`). Files written afterwards carry the wide
    * type; batches must arrive already widened ([[append]]'s schema
    * contract refuses re-typed columns, directing the caller to cast).
    *
    * Interactions that stay valid WITHOUT a rewrite — both hash the
    * value through `CAST(col AS BIGINT)`, which int → bigint preserves:
    * manifest Bloom sketches keep answering [[readPoint]] probes, and
    * deletion-vector key lists keep masking their rows. Refused for
    * clustering columns (the frozen rank model and the per-version
    * `min_`/`max_` manifest stats are typed at init — recluster
    * instead), for narrowing or cross-family casts, for unknown
    * columns, and on stores without field-id anchors. Serialized
    * through the claim; time travel follows the evolution contract
    * (old snapshots serve under the LATEST schema, i.e. widened).
    */
  def widenColumnType(spark: SparkSession, dir: String, name: String,
      to: org.apache.spark.sql.types.DataType,
      staleClaimMs: Long = Long.MaxValue): Unit = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"widen before init under $dir"))
    val st = anchorSchema(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"widen($dir): store has no schema anchor — rebuild via init"))
    require(st.fields.forall(f => fieldId(f).isDefined),
      s"widen($dir): anchor carries no field ids (pre-field-id store) " +
        "— recluster to migrate first")
    require(st.fieldNames.contains(name),
      s"widen($dir): no column $name in ${st.fieldNames.toSeq}")
    val m = loadModel(spark, dir, v)
    require(!m.cols.contains(name),
      s"widen($dir): $name is a clustering column (the frozen rank " +
        "model and manifest min_/max_ stats are typed at init) — " +
        "recluster instead")
    val from = st(name).dataType
    val supported = (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(supported,
      s"widen($dir): ${from.simpleString} -> ${to.simpleString} is not " +
        "a supported widening (int -> bigint and float -> double only " +
        "— the promotions parquet readers serve losslessly from " +
        "narrow footers)")
    val claim = claimOrThrow(spark, dir, v + 1, staleClaimMs)
    try writeAnchor(spark, dir, org.apache.spark.sql.types.StructType(
      st.map(f => if (f.name == name) f.copy(dataType = to) else f)))
    finally releaseClaim(spark, dir, claim)
  }

  /** Open store data files UNDER THE ANCHOR SCHEMA when one exists:
    * files written before a widening append lack the added columns and
    * read as nulls there — and no footer-merge inference job ever runs
    * (at 100 TB, schema inference over a file list is itself a cost).
    * Legacy stores fall back to plain inference.
    */
  private def readFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame =
    anchorSchema(spark, dir) match {
      case Some(st) =>
        ensureFieldIdConfs(spark) // anchor ids resolve renamed columns
        spark.read.schema(st).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }

  // -------------------------------------------------------------------
  // Read paths
  // -------------------------------------------------------------------

  /** Every live row of the snapshot — exactly the files its manifest
    * lists (`asOf` = a committed version for time travel; default
    * current).
    */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val man = manifest(spark, dir, asOf)
    val files = man.select("file").collect().map(_.getString(0))
    if (files.nonEmpty) readFilesDv(spark, dir, man, files.toSeq)
    else anchorSchema(spark, dir) match {
      // zero-row snapshot: serve a TYPED empty frame from the schema
      // anchor the store wrote at init — data/ may legally hold ZERO
      // files here (vacuum of an empty store reclaims them all), so
      // schema inference from data/ is not an option
      case Some(st) => emptyFrame(spark, st)
      case None => // pre-anchor store: old inference fallback
        spark.read.parquet(dataDir(dir)).where(lit(false))
    }
  }

  /** Ledger-pruned box read; predicate re-applied → full-scan answers. */
  def readPruned(spark: SparkSession, dir: String,
      boxes: Seq[StatsLedger.Box], asOf: Option[Int] = None): DataFrame = {
    val exact = boxes.map { b =>
      val loP = b.lo.map(v => col(b.col) >= lit(v)).getOrElse(lit(true))
      val hiP = b.hi.map(v => col(b.col) <= lit(v)).getOrElse(lit(true))
      loP && hiP
    }.reduceOption(_ && _).getOrElse(lit(true))
    val v = asOf.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $dir"))
    val files = StatsLedger.pruneFiles(spark, versionDir(dir, v), boxes)
    if (files.isEmpty) read(spark, dir, asOf).where(lit(false))
    else readFilesDv(spark, dir, manifest(spark, dir, Some(v)), files)
      .filter(exact)
  }

  /** Bloom-pruned exact point lookup (`keyCol IN keys`) — the probe box
    * stats can't serve: the curve layout doesn't sort by `keyCol`, so
    * every file's [min,max] spans the domain and range pruning keeps
    * everything, but the per-file Bloom column ([[init]]`(bloomCols)`)
    * keeps only may-contain files. Exact: no false negatives (Bloom),
    * no false positives (`IN` re-applied). Files pruned are observable
    * via [[pruneFilesPoint]].
    */
  def readPoint(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], asOf: Option[Int] = None): DataFrame = {
    val files = pruneFilesPoint(spark, dir, keyCol, keys, asOf)
    if (files.isEmpty) read(spark, dir, asOf).where(lit(false))
    else if (keys.size <= LiteralKeyMax)
      readFilesDv(spark, dir, manifest(spark, dir, asOf), files)
        .filter(col(keyCol).isin(keys: _*))
    else // bulk probe: keys join as broadcast data, never as a literal
      filterKeys(readFilesDv(spark, dir, manifest(spark, dir, asOf),
        files), keyCol, keys, negate = false)
  }

  /** Manifest files whose Bloom sketch may contain ANY of `keys`.
    * Below [[LiteralKeyMax]]: a balanced OR of codegen'd
    * `bloom_contains` probes (a linear reduce would build a
    * keys-deep expression tree and overflow the stack — first hit: a
    * 2400-key deleteKeysDV). Above it: the manifest cross-probes a
    * broadcast key frame — file-count × key-count bloom tests,
    * DISTRIBUTED, with a plan that stays constant-sized however many
    * keys a bulk replace carries.
    */
  def pruneFilesPoint(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], asOf: Option[Int] = None): Seq[String] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val led = manifest(spark, dir, asOf)
    require(led.columns.contains(s"bloom_$keyCol"),
      s"store at $dir has no Bloom column for $keyCol — init with " +
        s"bloomCols = Seq(${'"'}$keyCol${'"'})")
    if (keys.size > LiteralKeyMax) {
      import spark.implicits._
      val kf = keys.toDF("_kf_k")
      led.select("file", s"bloom_$keyCol")
        .join(broadcast(kf),
          call_function("bloom_contains", col(s"bloom_$keyCol"),
            col("_kf_k")), "left_semi")
        .select("file").collect().map(_.getString(0)).toSeq
    } else {
      def orAll(cs: Seq[Column]): Column =
        if (cs.size == 1) cs.head
        else {
          val (l, r) = cs.splitAt(cs.size / 2)
          orAll(l) || orAll(r)
        }
      val probes = keys.map(key =>
        call_function("bloom_contains", col(s"bloom_$keyCol"), lit(key)))
      val any = if (probes.isEmpty) lit(false) else orAll(probes)
      led.filter(any).select("file").collect().map(_.getString(0)).toSeq
    }
  }

  /** Health of the snapshot at `asOf` (default current) — one manifest
    * read; see [[StoreStats]].
    */
  def stats(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): StoreStats = {
    val v = asOf.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $dir"))
    // n_rows is LIVE rows: physical minus deletion-vector-masked — the
    // row count every read path actually serves
    val r = ensureDvCols(manifest(spark, dir, Some(v)))
      .agg(count(lit(1)).as("nf"),
        coalesce(sum(col("n_rows") - coalesce(col("dv_rows"), lit(0L))),
          lit(0L)).as("nr"),
        coalesce(max(col("wm_batch")), lit(-1L)).as("wm"),
        coalesce(max(col("clamped_total")), lit(0L)).as("ct"))
      .head()
    val nRows = r.getLong(1)
    StoreStats(v, r.getLong(0), nRows, r.getLong(2), r.getLong(3),
      if (nRows == 0) 0.0 else r.getLong(3).toDouble / nRows)
  }

  /** Version log over the RETAINED manifest versions, newest first —
    * one row per committed version: (version, n_files, n_rows,
    * wm_batch, clamped_total, clamp_rate). The inspection surface for
    * time travel ("which versions can I still read as-of?") and for
    * watching drift accumulate commit over commit. Reads one manifest
    * per RETAINED version — bounded by [[vacuum]]'s keepLast, not by
    * the table's lifetime commit count.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val vs = Fs.list(spark, ledgerDir(dir))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt)
      .filter(n => Fs.exists(spark, s"${versionDir(dir, n)}/_SUCCESS"))
      .sorted
    val rows = vs.map { v =>
      val s = stats(spark, dir, Some(v))
      (s.version, s.nFiles, s.nRows, s.wmBatch, s.clampedTotal,
        s.clampRate)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_rows", "wm_batch",
      "clamped_total", "clamp_rate")
      .orderBy(col("version").desc)
  }

  /** What one [[maintain]] tick did: files folded by compaction,
    * whether the table was reclustered, versions reclaimed by vacuum,
    * and the resulting current version.
    */
  final case class MaintainReport(
      compactedFiles: Int, reclustered: Boolean, vacuumedFiles: Int,
      version: Int)

  /** One self-maintenance tick — the measured-decision loop closed:
    * every threshold below reads the signals the store already
    * publishes, so maintenance is policy on measurements, not a
    * schedule guessed in advance.
    *
    *  1. [[compact]] when the small-file FRACTION (manifest files under
    *     half the mean size) is at least `smallFileFrac`;
    *  2. [[recluster]] (at the current file count) when the
    *     accumulated clamp rate is at least `clampRateMax` — the drift
    *     counter says the frozen bounds stopped fitting the data;
    *  3. [[vacuum]] (keeping `keepLast`) when more than `maxVersions`
    *     manifest versions are retained.
    *
    * Run it from the same single-maintainer loop that appends (e.g.
    * every Nth micro-batch). Each action is its own claimed manifest
    * commit, so a crash mid-tick leaves a recoverable store — the next
    * tick's [[recover]]-via-append simply continues where it died.
    */
  def maintain(spark: SparkSession, dir: String,
      smallFileFrac: Double = 0.25, clampRateMax: Double = 0.05,
      maxVersions: Int = 10, keepLast: Int = 5,
      staleClaimMs: Long = Long.MaxValue): MaintainReport = {
    val s0 = stats(spark, dir)
    val led = manifest(spark, dir, Some(s0.version))
      .select("n_rows").collect().map(_.getLong(0))
    val mean = math.max(1L, led.sum / math.max(1, led.length))
    val smallFrac =
      led.count(_ < mean / 2).toDouble / math.max(1, led.length)
    val compacted =
      if (smallFrac >= smallFileFrac)
        compact(spark, dir, staleClaimMs = staleClaimMs).rewritten
      else 0
    val reclustered = stats(spark, dir).clampRate >= clampRateMax
    if (reclustered)
      recluster(spark, dir, nFiles = math.max(1, s0.nFiles.toInt),
        staleClaimMs = staleClaimMs)
    val retained = Fs.list(spark, ledgerDir(dir))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .count(n => Fs.exists(spark,
        s"${versionDir(dir, n.stripPrefix("v=").toInt)}/_SUCCESS"))
    val vacuumed =
      if (retained > maxVersions) vacuum(spark, dir, keepLast, staleClaimMs)
      else 0
    MaintainReport(compacted, reclustered, vacuumed,
      currentVersion(spark, dir).getOrElse(s0.version))
  }
}
