package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Fs

/** The generation layout of the streaming pipeline's three batch-keyed
  * stores (the landed log, the shred store and the rollup), the rule
  * that commits a generation, and the rule that tells readers which
  * directories to serve. Every caller goes through this object.
  *
  * Layout. Under each `date=<d>` partition a store holds one directory
  * per micro-batch and, every `compactEvery` ticks, one GENERATION
  * directory written by the fold at batch `N`:
  *  - the landed log ([[Log]]): `batch=<k>` and `batch=<N>c`;
  *  - shred and rollup ([[Src]]): `src=batch-<k>` and `src=gen-<N>c`.
  *
  * Commit. A generation exists once its [[Marker]] file does. The fold
  * writes the generation's data, creates the marker in one atomic file
  * create (the commit point), then deletes its sources. A crash before
  * the marker leaves a marker-less directory that no reader serves and
  * the next fold rewrites; a crash after it leaves sources that the next
  * fold deletes. Committing by directory rename instead is unsafe on
  * S3-family stores, where a crashed rename leaves a partial copy that a
  * "destination exists" rule would take for complete. The marker is
  * underscore-prefixed, so parquet globs never read it as data, and
  * in-place purges keep it.
  *
  * Horizon. Generation `N` holds the batches up to `N − 1`. A store's
  * horizon is the highest such batch over its committed generations
  * (−1 when none): batches at or below it are no longer individually
  * addressable, so a replay of one is stale, and a pin below it is
  * refused with [[Refusal]].
  *
  * Supersede rule. In its own date directory, generation `n` absorbs the
  * batches `≤ n − 1` and the older committed generations
  * ([[Listing.supersededBy]]). The fold reads exactly these and deletes
  * them after the marker, and readers never serve a directory that a
  * committed generation of its date supersedes: between a marker and the
  * last source delete (during every fold, and after a crash there) both
  * copies exist, and a reader must count them once.
  *
  * Crashed attempts. A marker-less generation below the fold's id whose
  * would-be sources survive is a crashed attempt (sources are deleted
  * only under a marker) and is deleted. One whose sources are gone is a
  * LEGACY generation of the old rename protocol holding the only copy of
  * its rows: it is kept, and [[stampLegacy]] is its upgrade path.
  */
private[graft] object Generations {

  /** One naming scheme: `<column>=<batchTag><k>` per batch and
    * `<column>=<genTag><N>c` per generation. `tmpPrefix` names the temp
    * dirs of an older fold protocol, which the fold still sweeps.
    */
  final class Layout private[Generations] (column: String, batchTag: String,
      genTag: String, val tmpPrefix: String) {
    private val BatchRe = s"^$column=$batchTag([0-9]+)$$".r
    private val GenRe = s"^$column=$genTag([0-9]+)c$$".r

    /** The partition value of batch `k`'s rows. */
    def batchValue(k: Long): String = s"$batchTag$k"

    def genDir(n: Long): String = s"$column=$genTag${n}c"

    def batchOf(name: String): Option[Long] =
      BatchRe.unapplySeq(name).map(_.head.toLong)

    def genOf(name: String): Option[Long] =
      GenRe.unapplySeq(name).map(_.head.toLong)
  }

  val Log = new Layout("batch", "", "", ".cmp-tmp-")
  val Src = new Layout("src", "batch-", "gen-", ".fold-tmp-")

  private val Marker = "_FOLDED"

  /** The message prefix of the one below-horizon refusal. */
  val Refusal = "pin below the fold horizon"

  /** The highest batch generation `n` holds. */
  private def holds(n: Long): Long = n - 1

  /** Test hook: runs after a fold's marker and before its source
    * deletes. A no-op in production.
    */
  @volatile private[graft] var onCommit: () => Unit = () => ()

  def isCommitted(spark: SparkSession, genDir: String): Boolean =
    Fs.exists(spark, s"$genDir/$Marker")

  private def mark(spark: SparkSession, genDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$genDir/$Marker")
    Fs(spark, genDir).create(p, true).close()
  }

  private def dateDirs(spark: SparkSession, storeDir: String): Seq[String] =
    Fs.list(spark, storeDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .map(_.getPath.toString)

  /** One date directory's batch dirs and generation dirs by name, with
    * each generation's commit state.
    */
  private final case class Listing(dir: String, batches: Seq[(String, Long)],
      gens: Seq[(String, Long, Boolean)]) {

    def committed: Seq[(String, Long)] =
      gens.collect { case (name, n, true) => (name, n) }

    /** The sources generation `n` absorbs. */
    def supersededBy(n: Long): Seq[String] =
      batches.collect { case (name, k) if k <= holds(n) => name } ++
        committed.collect { case (name, m) if m < n => name }

    /** Marker-less generations below `n` whose sources survive. */
    def crashedBelow(n: Long): Seq[String] =
      gens.collect {
        case (name, m, false) if m < n && supersededBy(m).nonEmpty => name
      }

    /** Batch dirs up to `pin` and committed generations, minus every
      * dir a committed generation supersedes.
      */
    def served(pin: Long): Seq[String] = {
      val gone = committed.flatMap(g => supersededBy(g._2)).toSet
      (batches.collect { case (name, k) if k <= pin => name } ++
        committed.map(_._1)).filterNot(gone)
    }
  }

  private def listing(spark: SparkSession, dateDir: String,
      layout: Layout): Listing = {
    val names = Fs.list(spark, dateDir).map(_.getPath.getName).sorted
    Listing(dateDir,
      names.flatMap(n => layout.batchOf(n).map(n -> _)),
      names.flatMap(n => layout.genOf(n).map(m =>
        (n, m, isCommitted(spark, s"$dateDir/$n")))))
  }

  /** Every date directory of a store, listed. */
  private def listings(spark: SparkSession, storeDir: String,
      layout: Layout): Seq[Listing] =
    dateDirs(spark, storeDir).map(listing(spark, _, layout))

  private def horizonOf(ls: Seq[Listing]): Long =
    ls.flatMap(_.committed).map(g => holds(g._2)).foldLeft(-1L)(math.max)

  def horizon(spark: SparkSession, storeDir: String, layout: Layout): Long =
    horizonOf(listings(spark, storeDir, layout))

  /** The directories a reader pinned at batch `pin` serves (see the
    * supersede rule). A pin below the store's horizon is refused: a
    * generation serves only whole.
    */
  def pinned(spark: SparkSession, storeDir: String, layout: Layout,
      pin: Long): Seq[String] = {
    val ls = listings(spark, storeDir, layout)
    val h = horizonOf(ls)
    if (pin < h)
      throw new IllegalArgumentException(s"$Refusal $h: batches <= $h " +
        s"are folded into generations, so $storeDir cannot pin batch $pin")
    ls.flatMap(l => l.served(pin).map(n => s"${l.dir}/$n"))
  }

  /** Delete the crashed attempts below `n` in one date directory, and
    * return the sources generation `n` absorbs there.
    */
  def sweep(spark: SparkSession, dateDir: String, layout: Layout,
      n: Long): Seq[String] = {
    val l = listing(spark, dateDir, layout)
    l.crashedBelow(n).foreach(g => Fs.delete(spark, s"$dateDir/$g"))
    l.supersededBy(n)
  }

  /** Write generation `n` of one date directory through `write` (given
    * the generation's path), create its marker, then delete `sources`.
    */
  def commit(spark: SparkSession, dateDir: String, layout: Layout, n: Long,
      sources: Seq[String])(write: String => Unit): Unit = {
    val dest = s"$dateDir/${layout.genDir(n)}"
    write(dest)
    mark(spark, dest)
    onCommit()
    sources.foreach(s => Fs.delete(spark, s"$dateDir/$s"))
  }

  /** Fold every date directory of a store into generation `batchId`:
    * sweep old temp dirs and crashed attempts, then resume the source
    * deletes when the generation is already committed, or else write
    * `merge` of the sources and commit it (unless the only source is
    * one older generation). `merge` is the store's fold algebra.
    */
  def fold(spark: SparkSession, storeDir: String, layout: Layout,
      batchId: Long, targetFileBytes: Long,
      merge: DataFrame => DataFrame): Unit =
    dateDirs(spark, storeDir).foreach { dir =>
      Fs.list(spark, dir).map(_.getPath.getName)
        .filter(_.startsWith(layout.tmpPrefix))
        .foreach(t => Fs.delete(spark, s"$dir/$t"))
      val sources = sweep(spark, dir, layout, batchId)
      if (isCommitted(spark, s"$dir/${layout.genDir(batchId)}"))
        sources.foreach(s => Fs.delete(spark, s"$dir/$s"))
      else if (sources.size > 1 || sources.exists(layout.batchOf(_).isDefined))
        commit(spark, dir, layout, batchId, sources) { dest =>
          val paths = sources.map(s => s"$dir/$s")
          val bytes = paths.map(p => Fs.list(spark, p).map(_.getLen).sum).sum
          // overwrite clears a crashed attempt's marker-less dest
          merge(Fs.readParquet(spark, paths: _*))
            .coalesce(math.max(1,
              math.ceil(bytes.toDouble / targetFileBytes).toInt))
            .write.mode("overwrite").option("compression", "snappy")
            .parquet(dest)
        }
    }

  /** Create the marker of every marker-less generation (either layout)
    * of a store written by the old rename protocol. Run once per store,
    * with no stream running: that protocol was only correct where rename
    * is atomic, and there a generation's existence proves it complete.
    * Returns how many generations were stamped.
    */
  def stampLegacy(spark: SparkSession, storeDir: String): Int = {
    val legacy = for {
      dir <- dateDirs(spark, storeDir)
      layout <- Seq(Log, Src)
      (name, _, false) <- listing(spark, dir, layout).gens
    } yield s"$dir/$name"
    legacy.foreach(mark(spark, _))
    legacy.size
  }
}
