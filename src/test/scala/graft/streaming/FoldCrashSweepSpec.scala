package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Fs, LogEntry}
import graft.ops.CrashFs
import graft.query.Generations

/** The crash sweep over the tick's fold step ([[LogStreamPipeline.foldStores]]:
  * heal, then the log, shred and rollup folds, one after another). A
  * filesystem that throws at the k-th `rename`, `delete` or `create` is
  * swept over k = 1 … the call count of a clean fold. After each throw,
  * [[LogStreamPipeline.readConsistent]] must serve the clean pre-fold
  * view of all three stores as multisets (the rollup at its served
  * grain); after the tick is replayed, the stores must hold exactly the
  * post-fold layout: in every date, the new committed generation and
  * the unfolded batch, with no marker-less generation and no superseded
  * source left.
  */
class FoldCrashSweepSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(b: Int): DataFrame = Seq(0, 1).map { d =>
    val i = 2 * b + d
    LogEntry(new Timestamp(1700000000000L + d * 86400000L), s"run-$i", "",
      s"c$i", "llm_end", "{}",
      s"""{"event_type":"llm_end","data":{"model":"m${b % 3}",""" +
        s""""usage_metadata":{"input_tokens":${10 + i},""" +
        s""""output_tokens":1,"total_tokens":${11 + i}}}}""")
  }.toDF()

  private val fold = 4L

  private def stores(root: String) =
    (s"$root/log", s"$root/shred", s"$root/roll")

  private def tick(root: String, b: Int, compactEvery: Int): Unit = {
    val (log, shred, roll) = stores(root)
    LogStreamPipeline.tick(batchDf(b), b.toLong, log, shred, roll,
      compactEvery)
  }

  /** Batches 0–3 ticked with a fold at 2, then batch 4 landed without
    * its fold: the state just before the fold step of tick 4.
    */
  private lazy val preFold: Path = {
    val root = CrashFs.dir("fold_sweep_setup")
    (0 until 4).foreach(tick(root, _, compactEvery = 2))
    tick(root, fold.toInt, compactEvery = 0)
    local(root)
  }

  private def local(root: String): Path = Paths.get(root.stripPrefix("graftcrash:"))

  private def freshCopy(): String = {
    val root = CrashFs.dir("fold_sweep")
    val to = local(root)
    Files.walk(preFold).iterator().asScala.toSeq.foreach { p =>
      val t = to.resolve(preFold.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    root
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.toSeq.sorted.map(col): _*).collect()
      .map(_.mkString("|")).toSeq.sorted

  /** (log, shred, rollup) as sorted rows; the log without its `batch`
    * directory column, which names where a row sits, not the row.
    */
  private def view(root: String): Seq[Seq[String]] = {
    val (log, shred, roll) = stores(root)
    val v = LogStreamPipeline.readConsistent(spark, fold, log, shred, roll)
    Seq(rows(v.log.drop("batch")), rows(v.shred), rows(v.rollup))
  }

  /** Every store's dirs per date, with `+` on a committed generation. */
  private def layout(root: String): Seq[String] = {
    val (log, shred, roll) = stores(root)
    Seq(log -> Generations.Log, shred -> Generations.Src,
        roll -> Generations.Src).flatMap { case (store, l) =>
      Fs.list(spark, store).map(_.getPath.toString)
        .filter(_.contains("/date=")).sorted.flatMap { d =>
          Fs.list(spark, d).map(_.getPath.getName).sorted.map { n =>
            val mark =
              if (l.genOf(n).isDefined && Generations.isCommitted(spark,
                s"$d/$n")) "+" else ""
            s"${store.split('/').last}/${d.split('/').last}/$n$mark"
          }
        }
    }
  }

  test("crash sweep: the fold step never tears readConsistent, and the " +
    "replayed tick leaves only committed generations") {
    val expected = (for {
      (store, gen, batch) <- Seq(("log", "batch=4c", "batch=4"),
        ("shred", "src=gen-4c", "src=batch-4"),
        ("roll", "src=gen-4c", "src=batch-4"))
      date <- Seq("2023-11-14", "2023-11-15")
      dir <- Seq(s"$gen+", batch)
    } yield s"$store/date=$date/$dir").sorted
    val pre = view(freshCopy())

    val clean = freshCopy()
    CrashFs.start(0)
    try {
      val (log, shred, roll) = stores(clean)
      LogStreamPipeline.foldStores(spark, fold, log, shred, roll, 1L << 30)
    } finally CrashFs.stop()
    val n = CrashFs.calls
    assert(n > 0)
    assert(view(clean) === pre, "a clean fold changed the served view")
    assert(layout(clean).sorted === expected)

    def outcome(got: Seq[Seq[String]]): String =
      Seq("log", "shred", "rollup").zip(got.zip(pre)).collect {
        case (s, (g, p)) if g != p =>
          s"$s TORN(lost ${p.diff(g).size}, doubled ${g.diff(p).size})"
      }.mkString(", ") match { case "" => "pre=post"; case t => t }

    val table = (1 to n).map { k =>
      val root = freshCopy()
      val (log, shred, roll) = stores(root)
      CrashFs.start(k)
      val threw =
        try { LogStreamPipeline.foldStores(spark, fold, log, shred, roll,
          1L << 30); false }
        catch { case _: Throwable => true }
        finally CrashFs.stop()
      val mid = outcome(view(root))
      tick(root, fold.toInt, compactEvery = 2)
      val replayed = outcome(view(root))
      val left = layout(root).sorted
      s"k=$k ${CrashFs.crashedAt}: threw=$threw read=$mid " +
        s"replayed=$replayed layout=${if (left == expected) "post" else
          left.diff(expected).mkString("extra ", " ", "")}" -> (
          !threw || mid != "pre=post" || replayed != "pre=post" ||
            left != expected)
    }
    info(s"fold step: $n calls")
    table.foreach { case (line, bad) =>
      info(line)
      println(s"[fold-crash-sweep] $line")
      assert(!bad, line)
    }
  }
}
