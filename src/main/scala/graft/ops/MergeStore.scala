package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Commit, Fs}

/** Keyed merge/upsert store — the MERGE INTO primitive (CDC apply) on
  * plain parquet: a table of (key, payload) rows maintained by change
  * batches of upserts and deletes, laid out so each merge rewrites ONLY
  * the key-hash buckets the batch touches.
  *
  * Layout: hive `kb=<bucket>` partitions with kb = xxhash64(key) mod
  * nBuckets; every stored row keeps its winning change's `seq` and
  * `is_delete` flag. A merge:
  *   1. reduces the change batch to one winner per key (max seq),
  *   2. computes the DISTINCT buckets the batch touches (bounded by
  *      nBuckets — model state, not data),
  *   3. reads the store pruned to exactly those partitions (literal
  *      partition filters — cold buckets are never read),
  *   4. unions stored rows with the winners and keeps, per key, the row
  *      with the highest seq — so replaying an old or already-applied
  *      batch is a no-op (LWW by total per-key sequence),
  *   5. replaces only those partitions' files, in one staged write
  *      partitioned by `kb` behind one [[graft.core.Commit]] marker —
  *      readers ([[read]], [[readOrEmpty]], [[lookup]]) open through its
  *      gate, so a crash at any step serves the pre- or the post-merge
  *      state, never a bucket missing or doubled, and the next merge
  *      rolls a committed one forward or sweeps an uncommitted one.
  *
  * Deletes persist as TOMBSTONES (`is_delete = true`): without them, a
  * late replay of an upsert older than the delete would silently
  * resurrect the key. [[read]] filters tombstones; [[purgeTombstones]]
  * is the retention job that physically drops them once replay horizons
  * have passed (the same two-phase rule as
  * [[graft.streaming.IdempotentSink.cleanupSuperseded]]).
  *
  * At 100 TB the merge cost is O(touched buckets), not O(table): with a
  * uniformly hashed key and a batch of b changes, at most min(b,
  * nBuckets) partitions rewrite; bucket count is the knob trading merge
  * amplification (fewer, bigger rewrites) against small files. This is
  * the copy-on-write table-format recipe (what Delta/Iceberg/Hudi do
  * per file group), expressed directly on the partition layout.
  */
object MergeStore {

  /** Initialize from a full snapshot. `snapshot` must carry `keyCol`
    * and `seq`; an `is_delete` column is added if absent.
    */
  def init(
      snapshot: DataFrame,
      keyCol: String,
      path: String,
      nBuckets: Int): Unit = {
    val withFlag =
      if (snapshot.columns.contains("is_delete")) snapshot
      else snapshot.withColumn("is_delete", lit(false))
    withFlag
      .withColumn("kb", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("kb").parquet(path)
  }

  /** Apply one change batch. `changes` must carry `keyCol`, boolean
    * `is_delete`, long `seq` (strict total order per key across ALL
    * batches), and the payload columns (same set as the store).
    * Returns the touched bucket ids.
    */
  def merge(
      spark: SparkSession,
      path: String,
      changes: DataFrame,
      keyCol: String,
      nBuckets: Int): Seq[Long] = {
    import spark.implicits._
    Commit.healAndSweep(spark, path)
    val payload = changes.columns
      .filterNot(c => c == keyCol || c == "is_delete" || c == "seq")
      .toSeq
    val ordered = Seq(keyCol, "kb", "seq", "is_delete") ++ payload

    def lww(rows: DataFrame): DataFrame = rows
      .groupBy(col(keyCol), col("kb"))
      .agg(max(struct(col("seq") +: col("is_delete") +:
        payload.map(col): _*)).as("w"))
      .select(col(keyCol) +: col("kb") +: col("w.seq").as("seq") +:
        col("w.is_delete").as("is_delete") +:
        payload.map(c => col(s"w.$c").as(c)): _*)

    val withKb = changes
      .withColumn("kb", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))

    // Touched buckets from the RAW change batch, not from the LWW winner
    // frame: the distinct kb set is identical (kb is a function of the
    // key), but this probe job is a kb-only partial aggregate (map-side
    // combine, ≤ nBuckets rows shuffled) instead of a full LWW aggregate
    // that shuffles every payload column just to be discarded.
    val buckets = withKb.select("kb").distinct().as[Long].collect()
      .sorted.toSeq
    if (buckets.isEmpty) return buckets

    // LWW is associative and idempotent, so the stored rows and the raw
    // change batch fold in ONE aggregate — the old shape pre-reduced the
    // batch (lww(changes)) and then re-aggregated the union
    // (lww(stored ∪ winner)): two chained exchanges where one suffices.
    // Map-side partial aggregation performs the batch pre-reduction for
    // free inside the single shuffle. The store has one writer, so the
    // pruned directory read sees exactly the pinned old files.
    val old = buckets.flatMap(b => Commit.dataFilesIn(spark, s"$path/kb=$b")
      .map(f => s"kb=$b/${f.getPath.getName}"))
    val merged =
      if (!Fs.nonEmptyDir(spark, path)) lww(withKb)
      else lww(Fs.readParquet(spark, path)
        .filter(col("kb").isin(buckets: _*))
        .select(ordered.map(col): _*)
        .unionByName(withKb.select(ordered.map(col): _*)))
    Commit.rewrite(spark, path, old)(
      merged.write.partitionBy("kb").parquet(_))
    buckets
  }

  /** Current live table state (tombstones filtered, all buckets). */
  def read(spark: SparkSession, path: String): DataFrame =
    Commit.read(spark, path)
      .filter(!col("is_delete"))
      .drop("kb", "is_delete")

  /** [[read]], degrading to a correctly-typed EMPTY table when the store
    * was never created — which happens legitimately when every change
    * batch so far was empty (merge never writes a schema-less store).
    * `like` supplies the change-batch schema the store would have had:
    * (key, seq, is_delete, payload…).
    */
  def readOrEmpty(
      spark: SparkSession, path: String, like: DataFrame): DataFrame = {
    if (Fs.exists(spark, path)) read(spark, path)
    else like.limit(0).drop("is_delete")
  }

  /** Pruned single-key lookup — the point-read path: the partition
    * filter carries the key's literal bucket, so one partition is read.
    */
  def lookup(
      spark: SparkSession,
      path: String,
      keyCol: String,
      key: Long,
      nBuckets: Int): DataFrame = {
    import spark.implicits._
    val kb = Seq(key).toDF(keyCol)
      .select(pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
      .as[Long].head()
    Commit.read(spark, path)
      .filter(col("kb") === kb && col(keyCol) === key &&
        !col("is_delete"))
      .drop("kb", "is_delete")
  }

  /** Streaming CDC apply: each micro-batch of changes merges into the
    * store. Unlike [[graft.streaming.IdempotentSink]] there are NO
    * commit markers — none are needed, because [[merge]] is exactly-once
    * BY ALGEBRA: idempotent (a replayed batch's rows tie on stored seq
    * and change nothing) and commutative (LWW is an associative
    * lattice), so any re-delivery after a crash converges to the same
    * state. A crash mid-merge needs no replay: the merge's one marker
    * commit either landed (the next merge rolls it forward) or did not
    * (the store is unchanged and the re-delivered batch applies). This
    * is the table-format CDC-apply loop with the transaction log
    * replaced by lattice algebra.
    */
  def streamApply(
      changes: DataFrame,
      path: String,
      keyCol: String,
      nBuckets: Int,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        merge(b.sparkSession, path, b, keyCol, nBuckets); ()
      }
      .start()

  /** Retention: physically drop tombstones from every bucket. Call only
    * once no change batch older than any tombstone's seq can replay.
    */
  def purgeTombstones(spark: SparkSession, path: String): Unit = {
    Commit.healAndSweep(spark, path)
    val old = Fs.list(spark, path)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("kb="))
      .flatMap(d => Commit.dataFilesIn(spark, d.getPath.toString)
        .map(f => s"${d.getPath.getName}/${f.getPath.getName}"))
    Commit.rewrite(spark, path, old)(
      Fs.readParquet(spark, path).filter(!col("is_delete"))
        .write.partitionBy("kb").parquet(_))
  }
}
