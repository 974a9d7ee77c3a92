package graft.sink

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.{EventType, FixedClock, Fs, LogEntry}
import graft.ingest.ParquetLogger

/** Group-commit contract of [[BufferedSink]]: coalescing, failure
  * retention, and the real Parquet sink under concurrent loggers.
  */
class BufferedSinkSpec extends SparkSpec {

  private def entry(id: String) =
    LogEntry(new java.sql.Timestamp(0), id, "", "", "llm_end", "{}", "{}")

  /** Runs `body` on a new thread; the reference holds what it threw. */
  private def async(body: => Unit): (Thread, AtomicReference[Throwable]) = {
    val thrown = new AtomicReference[Throwable]
    val t = new Thread(() => try body catch { case e: Throwable => thrown.set(e) })
    t.start()
    (t, thrown)
  }

  /** [[async]], returning once the thread is parked. Callers are started
    * one at a time while the downstream holds its write open, so nothing
    * else holds the sink's lock: a parked caller is waiting on that write.
    */
  private def parked(body: => Unit): (Thread, AtomicReference[Throwable]) = {
    val started = async(body)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (started._1.getState != Thread.State.WAITING) {
      assert(System.nanoTime() < deadline, "caller never parked")
      Thread.sleep(5)
    }
    started
  }

  /** A downstream whose first call blocks until `release`, then acts. */
  private final class GatedDownstream(firstCall: () => Unit) {
    val entered, release = new CountDownLatch(1)
    val calls = new AtomicInteger
    val batches = new ConcurrentLinkedQueue[Seq[String]]
    def apply(batch: Seq[LogEntry]): Unit = {
      if (calls.getAndIncrement() == 0) {
        entered.countDown()
        release.await()
        firstCall()
      }
      batches.add(batch.map(_.run_id))
    }
  }

  test("boundary callers arriving during a write coalesce into one write") {
    val down = new GatedDownstream(() => ())
    val sink = new BufferedSink(down.apply, bufferSize = 1)
    val (a, aErr) = async(sink.append(entry("r1")))
    down.entered.await()
    val (b, bErr) = parked(sink.append(entry("r2")))
    val (c, cErr) = parked(sink.append(entry("r3")))
    down.release.countDown()
    Seq(a, b, c).foreach(_.join())
    assert(Seq(aErr, bErr, cErr).forall(_.get == null))
    val written = down.batches.asScala.toSeq
    assert(written.head === Seq("r1"))
    assert(written.tail.map(_.toSet) === Seq(Set("r2", "r3")))
    sink.close()
    assert(down.calls.get === 2)
  }

  test("a failed write keeps its rows and fails every caller waiting on it") {
    val boom = new RuntimeException("disk full")
    val down = new GatedDownstream(() => throw boom)
    val sink = new BufferedSink(down.apply, bufferSize = 1)
    val (a, aErr) = async(sink.append(entry("r1")))
    down.entered.await()
    val (b, bErr) = parked(sink.append(entry("r2")))
    val (c, cErr) = parked(sink.append(entry("r3")))
    val (f, fErr) = parked(sink.flush())
    down.release.countDown()
    Seq(a, b, c, f).foreach(_.join())
    // the writer and all three waiters see the write's exception
    assert(Seq(aErr, bErr, cErr, fErr).map(_.get) === Seq(boom, boom, boom, boom))
    assert(down.batches.isEmpty)
    // one more flush writes the failed row ahead of the later ones
    sink.flush()
    assert(down.batches.asScala.toSeq === Seq(Seq("r1", "r2", "r3")))
    sink.close()
    assert(down.calls.get === 2)
  }

  test("real sink: 8 callback threads and a second logger on one dir " +
    "land every row once, and leave no stray files") {
    val dir = Files.createTempDirectory("gc").toString + "/log"
    val clock = FixedClock(1700000000000000L)
    val parquet = new ParquetDirSink(spark, dir)
    val writes = new AtomicInteger
    def write(batch: Seq[LogEntry]): Unit = {
      parquet.write(batch)
      if (batch.nonEmpty) writes.incrementAndGet()
    }
    def logger() = new ParquetLogger(new BufferedSink(write, 50),
      EventType.Default, Map.empty, clock)
    val main, second = logger()
    val thrown = new AtomicInteger
    def raise(l: ParquetLogger, runId: String): Unit =
      try l.onLlmStart(Map.empty, Seq("p"), runId)
      catch { case _: Throwable => thrown.incrementAndGet() }
    val callers = (0 until 8).map(t =>
      async((0 until 500).foreach(i => raise(main, s"a-$t-$i"))))
    val others = (0 until 4).map(t =>
      async((0 until 250).foreach(i => raise(second, s"b-$t-$i"))))
    (callers ++ others).foreach(_._1.join())
    main.close()
    second.close()

    assert(thrown.get === 0)
    val landed = spark.read.parquet(dir).select("run_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = (for (t <- 0 until 8; i <- 0 until 500)
      yield (s"a-$t-$i", "llm_start")) ++
      (for (t <- 0 until 4; i <- 0 until 250) yield (s"b-$t-$i", "llm_start"))
    assert(landed.groupBy(identity).map { case (k, v) => k -> v.size } ===
      expected.map(_ -> 1).toMap)
    // only the one date partition: no stage or _temporary left behind
    val date = java.time.LocalDate.ofEpochDay(clock.nowMicros / 86400000000L)
    assert(Fs.list(spark, dir).map(_.getPath.getName) === Seq(s"date=$date"))
    // one file per write in that partition
    val files = Fs.listDataFiles(spark, dir)
    assert(files.forall(_.contains(s"/date=$date/part-")))
    assert(files.size === writes.get)
  }

  test("a composite whose second backend fails once lands each row " +
    "on the first backend once") {
    val first, second = new ConcurrentLinkedQueue[String]
    val failures = new AtomicInteger
    val composite = new CompositeStorage(Seq(
      batch => batch.foreach(e => first.add(e.run_id)),
      batch => {
        if (failures.getAndIncrement() == 0) throw new RuntimeException("s3 down")
        batch.foreach(e => second.add(e.run_id))
      }))
    val sink = new BufferedSink(composite.apply, bufferSize = 2)
    sink.append(entry("r1"))
    intercept[RuntimeException](sink.append(entry("r2")))
    sink.append(entry("r3"))
    sink.flush()
    sink.close()
    assert(first.asScala.toSeq === Seq("r1", "r2", "r3"))
    assert(second.asScala.toSeq === Seq("r1", "r2", "r3"))
  }

  /** Rows on two dates, so every write stages at least two files. */
  private def twoDays(n: Int) = (0 until n).map(i => LogEntry(
    new java.sql.Timestamp(i % 2 * 86400000L), s"r$i", "", "", "llm_end",
    "{}", "{}"))

  private def runIds(dir: String): Seq[String] =
    spark.read.parquet(dir).select("run_id").collect().map(_.getString(0))
      .toSeq.sorted

  test("ParquetDirSink: a move that fails partway lands no file, so the " +
    "sink's retry lands each row once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftmv.impl", classOf[FailingMoveFs].getName)
    val dir = "graftmv:" + Files.createTempDirectory("mv").toString + "/log"
    val down = new ParquetDirSink(spark, dir)
    val batch = twoDays(8)
    FailingMoveFs.moves.set(0)
    FailingMoveFs.failAt = 2
    val sink = new BufferedSink(down.write, bufferSize = 8)
    batch.init.foreach(sink.append)
    intercept[java.io.IOException](sink.append(batch.last))
    assert(Fs.listDataFiles(spark, dir).isEmpty)
    FailingMoveFs.failAt = 0
    sink.close()
    assert(runIds(dir) === batch.map(_.run_id).sorted)
    assert(Fs.list(spark, dir).forall(_.getPath.getName.startsWith("date=")))
  }

  test("ParquetDirSink writes at a bucket root") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftb.impl", classOf[BucketFs].getName)
    BucketFs.root = Files.createTempDirectory("bucket").toString
    val dir = "graftb://bucket/" // no parent, like s3a://bucket/
    val batch = twoDays(4)
    new ParquetDirSink(spark, dir).write(batch)
    assert(runIds(dir) === batch.map(_.run_id).sorted)
    assert(Fs.list(spark, dir).forall(_.getPath.getName.startsWith("date=")))
  }
}

/** Local disk under the `graftmv:` scheme whose `failAt`-th rename out of
  * a stage (counted from `moves`) throws; 0 never fails. Renames into a
  * `.staging-` directory — Spark's task commits and a move's roll-back —
  * are not counted. Top-level so Hadoop can instantiate it.
  */
class FailingMoveFs extends graft.core.TestSchemeFs {
  import org.apache.hadoop.fs.Path

  override def getUri: java.net.URI = java.net.URI.create("graftmv:///")

  override def rename(src: Path, dst: Path): Boolean = {
    if (!dst.toString.contains("/.staging-") &&
        FailingMoveFs.moves.incrementAndGet() == FailingMoveFs.failAt)
      throw new java.io.IOException(s"injected: rename $src")
    super.rename(src, dst)
  }
}

object FailingMoveFs {
  val moves = new AtomicInteger
  @volatile var failAt = 0
}

/** Local disk under `graftb://bucket/`, rooted at `BucketFs.root`: a
  * bucket-root URI, whose path has no parent. Top-level so Hadoop can
  * instantiate it.
  */
class BucketFs extends graft.core.TestSchemeFs {
  import org.apache.hadoop.fs.{FileStatus, Path}

  override def getUri: java.net.URI = java.net.URI.create("graftb://bucket/")

  override def pathToFile(path: Path): java.io.File = {
    val abs = if (path.isAbsolute) path else new Path(getWorkingDirectory, path)
    new java.io.File(BucketFs.root + abs.toUri.getPath)
  }

  /** The local status names the file by its disk path; name it by `f`. */
  override def getFileStatus(f: Path): FileStatus = {
    val st = super.getFileStatus(f)
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      st.getPermission, st.getOwner, st.getGroup, makeQualified(f))
  }
}

object BucketFs {
  @volatile var root = ""
}
