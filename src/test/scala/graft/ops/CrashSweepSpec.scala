package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Commit, Fs}

/** The crash sweep over every in-place store rewrite: a filesystem that
  * throws at the k-th `rename`, `delete` or `create` (Spark's own writes
  * included), swept over k = 1 … the call count of a clean run. After
  * each throw the gate read must be the pre- or the post-state as a
  * multiset of rows; after the next maintenance call it must be the
  * post-state if the marker landed and the pre-state if it did not,
  * with no stage, temp marker or marker left.
  */
class CrashSweepSpec extends SparkSpec {
  import CrashSweepSpec.Op
  import spark.implicits._

  private def rows(root: String): Seq[String] = {
    val df = Commit.read(spark, root)
    df.select(df.columns.sorted.map(col): _*).collect()
      .map(_.mkString("|")).toSeq.sorted
  }

  private def debris(root: String): Seq[String] =
    Fs.list(spark, root).map(_.getPath.getName).filter(n =>
      n.startsWith(Commit.MarkerPrefix) || n.startsWith(".purge"))

  private def changes(rs: (Long, Long, Boolean, Double)*): DataFrame =
    rs.toDF("k", "seq", "is_delete", "v")

  /** A parquet file written once, copied in by plain file IO (not
    * through the crashing filesystem) as the "appender" of the
    * compaction sweep: it lands after the compactor listed its files.
    */
  private lazy val appendFile: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("sweep_append") + "/f"
    Seq((100L, "late")).toDF("id", "s").coalesce(1).write.parquet(d)
    java.nio.file.Paths.get(new java.net.URI(
      Fs.listDataFiles(spark, d).head).getPath)
  }

  private def armAppend(partDir: String): Unit = {
    val src = appendFile
    val local = java.nio.file.Paths.get(partDir.stripPrefix("graftcrash:"))
    CrashFs.onCreate = p => if (p.toString.contains("/.purge.")) {
      CrashFs.onCreate = _ => ()
      java.nio.file.Files.copy(src,
        local.resolve("part-appended.snappy.parquet"))
      CrashFs.appended = true
    }
  }

  private val part = "date=2023-11-14"

  private val ops = Seq(
    Op("MergeStore.merge",
      root => MergeStore.merge(spark, root, changes(
        (1L, 1L, false, 1.0), (2L, 2L, false, 2.0), (3L, 3L, false, 3.0),
        (4L, 4L, false, 4.0)), "k", 2),
      root => MergeStore.merge(spark, root, changes((1L, 9L, false, 1.5),
        (3L, 9L, true, 0.0), (5L, 9L, false, 5.0)), "k", 2),
      root => MergeStore.merge(spark, root, changes(), "k", 2)),
    Op("MergeStore.purgeTombstones",
      root => MergeStore.merge(spark, root, changes(
        (1L, 1L, false, 1.0), (2L, 2L, true, 0.0), (3L, 3L, false, 3.0),
        (4L, 4L, true, 0.0)), "k", 2),
      root => MergeStore.purgeTombstones(spark, root),
      root => MergeStore.merge(spark, root, changes(), "k", 2)),
    Op("LogCompactor.compact + append",
      root => (1 to 3).foreach(i => Seq((i.toLong, s"r$i")).toDF("id", "s")
        .write.mode("append").parquet(s"$root/$part")),
      root => {
        armAppend(s"$root/$part")
        LogCompactor.compact(spark, root, targetFileBytes = 1L << 30)
      },
      root => Commit.healAndSweep(spark, root)),
    Op("LogCompactor.compactFlat",
      root => (1 to 3).foreach(i => Fs.stagedAppend(
        Seq((i.toLong, 10L)).toDF("k", "n"), Nil, root)),
      root => LogCompactor.compactFlat(spark, root, 1L << 30),
      root => Commit.healAndSweep(spark, root)),
    Op("Tombstones.purgePartitions (3 partitions)",
      root => {
        (0 until 12).map(i => (i.toLong, i % 3, i * 1.5))
          .toDF("vec_id", "bucket", "v")
          .write.partitionBy("bucket").parquet(root)
        Tombstones.add(spark, root, Seq(0L, 4L, 8L))
      },
      root => Tombstones.purgePartitions(spark, root, root, "bucket",
        "vec_id", Seq("vec_id")),
      root => Commit.healAndSweep(spark, root)))

  /** "pre", "post" (both when a rewrite keeps the rows, as compaction
    * does), or TORN with the rows lost (in both states, missing) and
    * doubled (beyond what either state holds).
    */
  private def outcome(got: Seq[String], pre: Seq[String],
      post: Seq[String]): String =
    if (got == post && got == pre) "pre=post" else if (got == post) "post"
    else if (got == pre) "pre"
    else s"TORN(lost ${pre.intersect(post).diff(got).size}, " +
      s"doubled ${got.diff(pre ++ post.diff(pre)).size})"

  ops.foreach { op =>
    test(s"crash sweep: ${op.name} serves pre or post at every call") {
      def fresh() = CrashFs.dir("sweep") + "/store"
      val clean = fresh()
      op.setup(clean)
      CrashFs.start(0)
      try op.run(clean) finally CrashFs.stop()
      val n = CrashFs.calls
      val post = rows(clean)
      assert(n > 0)
      val table = (1 to n).map { k =>
        val root = fresh()
        op.setup(root)
        // the append (compaction sweep) lands only if the crash comes
        // after the compactor listed its files; pre counts it then too
        val base = rows(root)
        CrashFs.start(k)
        val threw = try { op.run(root); false }
          catch { case _: Throwable => true }
          finally CrashFs.stop()
        val pre = (if (CrashFs.appended) base ++ post.diff(base) else base)
          .sorted
        val landed = !threw || debris(root).exists(
          _.startsWith(Commit.MarkerPrefix))
        val mid = outcome(rows(root), pre, post)
        op.maintain(root)
        val after = rows(root)
        val left = debris(root)
        s"k=$k ${CrashFs.crashedAt}: threw=$threw marker=$landed " +
          s"read=$mid healed=${outcome(after, pre, post)}" -> (
            mid.startsWith("TORN") || after != (if (landed) post else pre) ||
              left.nonEmpty)
      }
      info(s"${op.name}: $n calls")
      table.foreach { case (line, bad) =>
        info(line)
        println(s"[crash-sweep] ${op.name} $line")
        assert(!bad, line)
      }
    }
  }
}

object CrashSweepSpec {

  /** One swept operation: `setup` builds the pre-state under a fresh
    * root, `run` is the rewrite, `maintain` the next maintenance call.
    */
  final case class Op(name: String, setup: String => Unit,
      run: String => Unit, maintain: String => Unit)
}

/** Local disk under the `graftcrash:` scheme that throws at the k-th
  * `rename`, `delete` or `create` once [[CrashFs.start]] arms it. Top
  * level so Hadoop can instantiate it.
  */
class CrashFs extends graft.core.TestSchemeFs {
  override def getUri: java.net.URI = java.net.URI.create("graftcrash:///")

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.tick("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.tick("delete", p)
    super.delete(p, recursive)
  }

  /** Every `create` / `createNonRecursive` overload opens its file here. */
  override protected def createOutputStreamWithMode(p: Path,
      append: Boolean, permission: FsPermission): java.io.OutputStream = {
    if (!append) {
      CrashFs.onCreate(p)
      CrashFs.tick("create", p)
    }
    super.createOutputStreamWithMode(p, append, permission)
  }
}

object CrashFs {
  private val count = new AtomicInteger(0)
  @volatile private var crashAt = -1 // -1: not counting
  @volatile var crashedAt = ""
  @volatile var onCreate: Path => Unit = _ => ()
  /** Set by a sweep's append hook when it fired during the last run. */
  @volatile var appended = false

  /** Count calls from now on and throw at call `k` (0: never). */
  def start(k: Int): Unit = {
    count.set(0); crashedAt = ""; appended = false; crashAt = k
  }

  def stop(): Unit = { crashAt = -1; onCreate = _ => () }

  def calls: Int = count.get

  def tick(what: String, p: Path): Unit = if (crashAt >= 0) {
    val n = count.incrementAndGet()
    if (n == crashAt) {
      crashedAt = s"$what ${p.getParent.getName}/${p.getName}"
      throw new java.io.IOException(s"injected crash at call $n: $what $p")
    }
  }

  /** A fresh temp directory as a `graftcrash:` path. */
  def dir(prefix: String): String = {
    val conf = graft.SparkSpec.session.sparkContext.hadoopConfiguration
    conf.set("fs.graftcrash.impl", classOf[CrashFs].getName)
    "graftcrash:" + java.nio.file.Files.createTempDirectory(prefix).toString
  }
}
