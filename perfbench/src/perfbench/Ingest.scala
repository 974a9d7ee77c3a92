package perfbench

import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable

import graft.core.{EventType, Fs, LogEntry}
import graft.ingest.ParquetLogger
import graft.query.LogTable
import graft.sink.{BufferedSink, LogSink, ParquetDirSink}

/** Closed loop: 4 caller threads raise callback trees into one
  * `ParquetLogger(eventTypes = All)` over the reference's default flush
  * policy — `BufferedSink(ParquetDirSink.write, bufferSize = 100)`, a
  * flush every 100 appends on the appending thread, plus `close()`; the
  * flushes' writes are serialized (see `Leg`). Each thread's next
  * callback starts when its previous one returns. After `close()`, a
  * read-back runs the `LogTable` queries over the written dir.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx._

  private val Threads = 4
  private val BufferSize = 100
  private val WarmTreesPerThread = 25
  private val Lookups = 3
  private val JitTreesPerThread = 5000

  /** `LogSink` decorator between the logger and the buffered sink: the
    * `sink` layer's boundary.
    */
  private final class TimedSink(inner: LogSink, userBytes: LongAdder)
      extends LogSink {
    override def append(e: LogEntry): Unit = tracer.span("sink.append") {
      if (trace) userBytes.add(e.run_id.length + e.parent_run_id.length +
        e.custom_id.length + e.event_type.length + e.logger_metadata.length +
        e.payload.length + 8)
      inner.append(e)
    }
    override def flush(): Unit = tracer.span("sink.flush")(inner.flush())
    override def close(): Unit = tracer.span("sink.close")(inner.close())
  }

  /** One logger over one dir. The buffered sink's downstream function
    * takes `writeLock` before `ParquetDirSink.write`: Spark's append
    * commits into one dir lose rows when they overlap (ROADMAP item 1),
    * and a workload must not fail, so at most one flush writes at a time.
    * The lock is fair, so flushes write in arrival order and a flush's
    * wait does not depend on lock barging. The `sink.downstream` span
    * covers the wait and the write.
    */
  private final class Leg(val dir: String) {
    val flushes, flushFailed, userBytes = new LongAdder
    private val parquet = new ParquetDirSink(spark, dir)
    private val writeLock = new ReentrantLock(true)
    val logger = new ParquetLogger(
      new TimedSink(new BufferedSink(batch => tracer.span("sink.downstream") {
        writeLock.lock()
        try {
          flushes.increment()
          try tracer.span("parquet.write")(parquet.write(batch))
          catch { case e: Throwable => flushFailed.increment(); throw e }
        } finally writeLock.unlock()
      }, BufferSize), userBytes),
      eventTypes = EventType.All)
  }

  private final class Caller {
    val emitted = mutable.ArrayBuffer.empty[Emitted]
    val threw = mutable.ArrayBuffer.empty[Boolean]
    val latencyNs = mutable.ArrayBuffer.empty[Long]
    /** Summed latency of each tree's four callbacks. */
    val treeNs = mutable.ArrayBuffer.empty[Long]
  }

  /** Runs the caller threads until `deadlineNs` or `maxTrees` trees each. */
  private def load(logger: ParquetLogger, genSeed: Long, deadlineNs: Long,
      maxTrees: Int): Seq[Caller] = {
    val callers = Seq.fill(Threads)(new Caller)
    val threads = callers.zipWithIndex.map { case (c, t) =>
      new Thread(() => {
        val gen = new CallbackTrees(genSeed * 1000 + t, s"s$genSeed-t$t")
        var trees = 0
        while (trees < maxTrees && System.nanoTime() < deadlineNs) {
          var treeNs = 0L
          gen.next(logger) { (e, callback) =>
            val req = if (e.parentRunId.isEmpty) e.runId else e.parentRunId
            val t0 = System.nanoTime()
            val ok =
              try { tracer.span("ingest.callback", req)(callback()); true }
              catch { case _: Throwable => false }
            val dt = System.nanoTime() - t0
            c.latencyNs += dt
            treeNs += dt
            c.emitted += e
            c.threw += !ok
          }
          c.treeNs += treeNs
          trees += 1
        }
      }, s"caller-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    callers
  }

  private def readBack(dir: String, roots: Seq[String]) = {
    val lt = tracer.span("query.read")(LogTable.read(spark, dir))
    val counts = tracer.span("query.eventCounts")(lt.eventCounts.collect())
    val usage = tracer.span("query.tokenUsageByCustomId")(
      lt.tokenUsageByCustomId.collect())
    val trees = tracer.span("query.runTrees")(lt.runTrees.collect())
    val traces = roots.map(r =>
      r -> tracer.span("query.trace", r)(lt.trace(r).collect()))
    (counts, usage, trees, traces)
  }

  private var warmDir: String = _
  private var warmRoots: Seq[String] = Nil

  override def prepare(rep: Int): Unit = {
    if (warmDir != null) Fs.delete(spark, warmDir)
    val leg = new Leg(dir(s"warm-$rep"))
    val callers = load(leg.logger, -rep, Long.MaxValue, WarmTreesPerThread)
    leg.logger.close()
    warmDir = leg.dir
    warmRoots = callers.head.emitted.filter(_.parentRunId.isEmpty)
      .map(_.runId).take(Lookups).toSeq
  }

  /** The callback path reaches its compiled form only after thousands of
    * calls, so the threads first raise `JitTreesPerThread` trees into a
    * sink that discards its batches; otherwise the window would time the
    * JIT's progress. Then one read-back over the last warm dir.
    */
  override def warm(): Unit = {
    val discard = new ParquetLogger(
      new TimedSink(new BufferedSink(_ => (), BufferSize), new LongAdder),
      eventTypes = EventType.All)
    load(discard, -100, Long.MaxValue, JitTreesPerThread)
    discard.close()
    readBack(warmDir, warmRoots)
    Fs.delete(spark, warmDir)
  }

  override def run(out: Report): Unit = {
    val leg = new Leg(dir("log"))
    val (callers, wallS, readbackS, answers) = window {
      val t0 = System.nanoTime()
      val callers = load(leg.logger, seed, t0 + (seconds * 1e9).toLong, Int.MaxValue)
      tracer.span("ingest.close")(leg.logger.close())
      val wallS = (System.nanoTime() - t0) / 1e9
      val roots = {
        val all = callers.flatMap(_.emitted).filter(_.parentRunId.isEmpty)
          .map(_.runId).distinct
        val r = new java.util.Random(seed)
        Seq.fill(Lookups)(all(r.nextInt(all.size))).distinct
      }
      val t1 = System.nanoTime()
      val answers = readBack(leg.dir, roots)
      (callers, wallS, (System.nanoTime() - t1) / 1e9, answers)
    }

    // ---- landed multiset against the emitted one ----
    val emitted = callers.flatMap(_.emitted)
    val threwKeys = callers.flatMap(c => c.emitted.zip(c.threw)
      .collect { case (e, true) => (e.runId, e.eventType) }).toSet
    val byKey = emitted.map(e => (e.runId, e.eventType) -> e).toMap
    val landed = spark.read.parquet(leg.dir)
      .select("run_id", "parent_run_id", "custom_id", "event_type").collect()
    val landedCount = mutable.HashMap.empty[(String, String), Int]
    var foreign = 0L
    landed.foreach { r =>
      val k = (r.getString(0), r.getString(3))
      byKey.get(k) match {
        case Some(e) if e.parentRunId == r.getString(1) &&
            e.customId == r.getString(2) =>
          landedCount(k) = landedCount.getOrElse(k, 0) + 1
        case _ => foreign += 1
      }
    }
    val lost = byKey.keys.count(k => !landedCount.contains(k))
    val duplicated = landedCount.count(_._2 > 1)
    val failedKeys = byKey.keys.filter(k =>
      landedCount.getOrElse(k, 0) != 1 || threwKeys(k))
    val landedOnce = landedCount.count(_._2 == 1)

    // ---- read-back answers against the landed rows ----
    val (counts, usage, trees, traces) = answers
    val landedRows = landedCount.toSeq.flatMap { case (k, n) => Seq.fill(n)(byKey(k)) }
    val wantCounts = landedRows.groupBy(_.eventType).map { case (t, es) => t -> es.size.toLong }
    val gotCounts = counts.map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantUsage = landedRows.filter(_.eventType == "llm_end").groupBy(_.customId)
      .map { case (c, es) => c -> (es.map(_.totalTokens).sum, es.size.toLong) }
    val gotUsage = usage.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val wantTrees = landedRows.map(e =>
      e.runId -> (if (e.parentRunId.isEmpty) (e.runId, 0L) else (e.parentRunId, 1L))).toMap
    val gotTrees = trees.map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    val tracesOk = traces.forall { case (root, rows) =>
      rows.length == landedRows.count(e => e.runId == root || e.parentRunId == root)
    }
    val checks = Seq(
      "no_foreign_rows" -> (foreign == 0),
      "event_counts" -> (gotCounts == wantCounts),
      "token_usage" -> (gotUsage == wantUsage),
      "run_trees" -> (gotTrees == wantTrees),
      "traces" -> tracesOk)

    out.bool("correct", checks.forall(_._2))
    out.strs("failed_checks", checks.collect { case (n, false) => n })
    out.int("attempted", emitted.size)
    out.int("failed", failedKeys.size)
    out.int("lost", lost)
    out.int("duplicated", duplicated)
    out.int("threw", threwKeys.size)
    out.num("wall_s", wallS)
    out.num("ingest_events_per_s", landedOnce / wallS)
    out.nums("append_us", callers.flatMap(_.latencyNs).map(_ / 1e3))
    out.nums("tree_us", callers.flatMap(_.treeNs).map(_ / 1e3))
    out.num("readback_s", readbackS)

    val files = Fs.listDataFiles(spark, leg.dir)
    out.int("sink_flushes", leg.flushes.sum)
    out.int("sink_flush_failed", leg.flushFailed.sum)
    out.int("parquet_files", files.size)
    out.num("parquet_bytes", files.map(f =>
      Fs(spark, f).getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum.toDouble)
    out.num("user_bytes", leg.userBytes.sum.toDouble)
  }
}
