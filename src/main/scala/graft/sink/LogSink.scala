package graft.sink

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.LogEntry

/** Where normalized [[LogEntry]] rows go. Implementations must be
  * thread-safe: any number of callback threads converge on `append`
  * (reference logger.py:417-423).
  */
trait LogSink extends AutoCloseable {
  def append(entry: LogEntry): Unit
  def flush(): Unit
  override def close(): Unit = flush()
}

/** Count-triggered buffered sink (S7→S1) with group commit: rows
  * accumulate in memory and are written as one columnar batch when the
  * pending buffer reaches a multiple of `bufferSize`, on explicit
  * `flush()`, on `close()`, and via a JVM shutdown hook (the reference's
  * atexit, logger.py:85).
  *
  * Contract:
  *  - An append that does not cross a `bufferSize` boundary only takes
  *    the lock, buffers its row and returns.
  *  - An append that crosses a boundary, and every `flush()` and
  *    `close()`, returns only after every row appended before it (its
  *    own included) has been written downstream. That caller does the
  *    write on its own thread.
  *  - At most one downstream write is in flight. A caller that needs a
  *    write while another is running waits for it; if its rows are still
  *    pending afterwards it writes everything that has built up, in one
  *    downstream call, so concurrent threshold crossings coalesce into
  *    fewer, larger writes (group commit). While a write runs, each
  *    further boundary parks one caller, so pending rows stay below
  *    about `bufferSize` per caller thread.
  *  - A write that throws loses nothing: its rows go back to the head of
  *    the pending buffer, ahead of rows that arrived meanwhile, and the
  *    exception is rethrown to the writing caller and to every caller
  *    that waited on that write. The next boundary append or `flush()`
  *    writes them again, together with everything pending by then. Rows
  *    stay in memory until a write succeeds, so a downstream that can
  *    fail for long should give up on its own (`RetryingStorage`'s
  *    `"continue"` mode).
  *
  * Because a failed batch is sent again whole, `downstream` must land a
  * batch all or nothing: when it throws, no row of the batch may have
  * landed anywhere. [[ParquetDirSink.write]] does (staged write, and a
  * failed move puts its files back) and so does [[CompositeStorage]]
  * (a backend is not sent again the rows it already took). `downstream`
  * must not append to this sink from its own thread: a boundary append
  * there would wait for the write it is part of.
  */
final class BufferedSink(downstream: Seq[LogEntry] => Unit, bufferSize: Int = 100)
    extends LogSink {

  /** One downstream write; `done`/`error` are guarded by `lock`. */
  private final class Commit {
    var done = false
    var error: Throwable = null
  }

  private val lock = new ReentrantLock
  private val committed = lock.newCondition()
  private val buf = new ArrayBuffer[LogEntry](bufferSize)
  private var appended = 0L // rows ever appended
  private var written = 0L // rows downstream has accepted
  private var inFlight: Commit = null

  private val shutdownHook = new Thread(() =>
    try flush() catch { case _: Throwable => () })
  Runtime.getRuntime.addShutdownHook(shutdownHook)

  override def append(entry: LogEntry): Unit = {
    lock.lock()
    try {
      buf += entry
      appended += 1
      if (buf.size % (bufferSize max 1) == 0) // 0: every append
        commitThrough(appended)
    } finally lock.unlock()
  }

  override def flush(): Unit = {
    lock.lock()
    try commitThrough(appended)
    finally lock.unlock()
  }

  /** Returns once the first `target` rows are written. Called with `lock`
    * held; releases it only around the downstream call and while waiting.
    */
  private def commitThrough(target: Long): Unit =
    while (written < target) {
      val running = inFlight
      if (running != null) {
        while (!running.done) committed.awaitUninterruptibly()
        if (running.error != null) throw running.error
      } else {
        val batch = buf.toVector
        buf.clear()
        val mine = new Commit
        inFlight = mine
        lock.unlock()
        try downstream(batch)
        catch { case t: Throwable => mine.error = t }
        finally lock.lock()
        inFlight = null
        mine.done = true
        if (mine.error == null) written += batch.size
        else buf.insertAll(0, batch)
        committed.signalAll()
        if (mine.error != null) throw mine.error
      }
    }

  override def close(): Unit = {
    flush()
    try Runtime.getRuntime.removeShutdownHook(shutdownHook)
    catch { case _: IllegalStateException => () } // already shutting down
  }
}

/** Hive-style date-partitioned snappy-Parquet writer (S1, §1.6).
  *
  * Unlike the reference — where `date=` is a path string derived from wall
  * clock at flush time (logger.py:465-470) — the partition value is a real
  * `to_date(timestamp)` column, so partition pruning works on the read
  * side (`PruneFileSourcePartitions` fires on `WHERE date = ...`).
  *
  * `hourGrain` adds a second partition key (`date=.../hour=N/`) for
  * high-volume deployments: at 100 TB/day a single date partition is
  * terabytes, so intraday dashboards ("last 2 hours") would scan a full
  * day; with the hour key both predicates land in the scan's
  * PartitionFilters and the read is 1/24th the I/O. Readers that filter
  * on `date` alone still prune — hive layouts prune on any prefix of the
  * key list.
  *
  * File layout: each [[write]] call lands one file per partition it
  * touches (per `date`, or per `(date, hour)` under `hourGrain`), like
  * the reference's one file per flush (storage.py:37-41). Each
  * [[writeDataset]] call lands one file per task per partition.
  */
final class ParquetDirSink(
    spark: SparkSession,
    dir: String,
    partitionOnDate: Boolean = true,
    compression: String = "snappy",
    hourGrain: Boolean = false)
    extends Serializable {

  /** Lands a driver-side batch (a [[BufferedSink]] flush). The batch is a
    * few hundred rows, so it is written by one task: splitting it over
    * the local cores would multiply the files every later scan opens.
    */
  def write(entries: Seq[LogEntry]): Unit = {
    if (entries.isEmpty) return
    import spark.implicits._
    writeDataset(spark.createDataset(entries).toDF().coalesce(1))
  }

  /** Distributed variant: land an already-distributed Dataset of entries
    * without routing rows through the driver. Goes through
    * [[graft.core.Fs.stagedAppend]], so two sinks appending to one `dir`
    * never share `dir/_temporary`, and a write that throws leaves no row
    * in `dir`. The stage is a hidden subdirectory of `dir`, so the sink
    * needs no access to `dir`'s parent and `dir` may be a bucket root.
    */
  def writeDataset(df: org.apache.spark.sql.DataFrame): Unit = {
    val (out, partCols) =
      if (partitionOnDate && hourGrain)
        (df.withColumn("date", to_date(col("timestamp")))
          .withColumn("hour", hour(col("timestamp"))), Seq("date", "hour"))
      else if (partitionOnDate)
        (df.withColumn("date", to_date(col("timestamp"))), Seq("date"))
      else (df, Nil)
    graft.core.Fs.stagedAppend(out, partCols, dir, compression,
      stageInside = true)
    ()
  }
}

/** Storage backend abstraction with retry semantics (S2–S4): the reference
  * retries S3 puts with exponential backoff and supports `error` vs
  * `continue` failure modes (storage.py:70-101). Cloud object stores are
  * out of scope in this environment, so the backend is pluggable and the
  * retry/failure-mode logic is exercised against injectable writers.
  */
final class RetryingStorage(
    write: Seq[LogEntry] => Unit,
    retryAttempts: Int = 3,
    onFailure: String = "error", // "error" | "continue"
    sleep: Long => Unit = Thread.sleep) {

  val failures = new AtomicLong(0)

  def apply(entries: Seq[LogEntry]): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { write(entries); done = true }
      catch {
        case e: Throwable =>
          attempt += 1
          if (attempt >= retryAttempts) {
            failures.incrementAndGet()
            if (onFailure == "error") throw e
            done = true // continue mode: swallow after final attempt
          } else sleep(1000L * (1L << attempt)) // 2^attempt seconds
      }
    }
  }
}

/** Composite sink: write every batch to all backends, in order (S3
  * composite, storage.py:113-127).
  *
  * All or nothing toward a caller that sends a failed batch again, as
  * [[BufferedSink]] does: when a backend throws, the backends before it
  * have landed the batch, so each remembers those rows and is not sent
  * them again. The primary lands every row once while a failing
  * secondary retries. Rows are matched by reference — a re-sent batch
  * holds the same `LogEntry` objects — and are forgotten once a call
  * that carries them succeeds.
  */
final class CompositeStorage(backends: Seq[Seq[LogEntry] => Unit]) {

  /** Per backend: rows it took in a call that then failed. */
  private val taken = backends.map(_ => java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[LogEntry, java.lang.Boolean]))

  def apply(entries: Seq[LogEntry]): Unit = {
    val landed = ArrayBuffer.empty[(java.util.Set[LogEntry], Seq[LogEntry])]
    try backends.zip(taken).foreach { case (write, seen) =>
      val rest = seen.synchronized(entries.filterNot(seen.contains))
      write(rest)
      landed += seen -> rest
    } catch {
      case t: Throwable =>
        landed.foreach { case (seen, rows) =>
          seen.synchronized(rows.foreach(seen.add)) }
        throw t
    }
    taken.foreach(seen => seen.synchronized(entries.foreach(seen.remove)))
  }
}
