package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload sees of the harness. `window` brackets the measured
  * part of a run: Spark work started inside it is what the listener counts.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    counters: Option[SparkCounters], val seed: Long, val seconds: Double,
    val work: String, val opts: Map[String, String]) {
  def trace: Boolean = tracer.enabled
  def window[T](body: => T): T = {
    tracer.reset()
    counters.foreach(_.open())
    try body finally counters.foreach(_.close(spark.sparkContext))
  }
  def dir(name: String): String = s"$work/$name"
}

trait Workload {
  /** Builds the run's inputs and fixtures. Called several times; setup
    * time counts their median.
    */
  def prepare(rep: Int): Unit

  /** Once, after the last `prepare`: warms the code paths the measured
    * part runs. Setup time counts it whole.
    */
  def warm(): Unit

  /** The measured part plus its output checks; fills `out`. */
  def run(out: Report): Unit
}

/** Raw results for the launcher, which turns them into metrics. */
final class Report {
  private val fields = mutable.LinkedHashMap[String, String]()
  def num(k: String, v: Double): Unit = fields(k) = Report.num(v)
  def int(k: String, v: Long): Unit = fields(k) = v.toString
  def bool(k: String, v: Boolean): Unit = fields(k) = v.toString
  def nums(k: String, vs: Iterable[Double]): Unit =
    fields(k) = vs.map(Report.num).mkString("[", ",", "]")
  def strs(k: String, vs: Iterable[String]): Unit =
    fields(k) = vs.map(Report.str).mkString("[", ",", "]")
  def raw(k: String, json: String): Unit = fields(k) = json
  def render: String =
    fields.map { case (k, v) => s"${Report.str(k)}:$v" }.mkString("{", ",", "}")
}

object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** One benchmark run in one JVM: session, repeated input preparation, one
  * warm-up, the measured window, output checks, then raw results written
  * as one JSON file.
  *
  * Arguments: --workload --seed --seconds --trace --work <dir>
  * --out <file> --launch-ms <epoch ms at which the launcher started
  * this JVM>, and for the query workload --queries <comma list>.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val jvmStartS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3
    val trace = a("trace") == "1"
    val work = a("work")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val counters = if (trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, counters, a("seed").toLong,
      a("seconds").toDouble, work, a)
    val w: Workload = a("workload") match {
      case "ingest" => new Ingest(ctx)
      case "queries" => new Queries(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    def secs(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    val out = new Report
    out.num("jvm_start_s", jvmStartS)
    out.num("session_s", sessionS)
    out.nums("prepare_s", (1 to SetupReps).map(r => secs(w.prepare(r))))
    out.num("warm_s", secs(w.warm()))
    out.num("run_s", secs(w.run(out)))
    counters.foreach { c =>
      out.raw("spark", Seq(
        "jobs" -> c.jobs.sum.toDouble, "stages" -> c.stages.sum.toDouble,
        "tasks" -> c.tasks.sum.toDouble, "task_cpu_s" -> c.cpuNs.sum / 1e9,
        "gc_s" -> c.gcMs.sum / 1e3,
        "shuffle_write_mb" -> c.shuffleBytes.sum / 1048576.0)
        .map { case (k, v) => s"${Report.str(k)}:${Report.num(v)}" }
        .mkString("{", ",", "}"))
      out.raw("spans", tracer.spans.sortBy(_.startNs).map { s =>
        Seq(s.id.toString, s.parent.toString, Report.str(s.req),
          Report.str(s.name), s.startNs.toString,
          s.endNs.toString, c.jobsOf(s.id).toString,
          c.stagesOf(s.id).toString).mkString("[", ",", "]")
      }.mkString("[", ",", "]"))
    }
    out.num("rss_peak_mb", peakRssMb())
    Files.writeString(Paths.get(a("out")), out.render)
    spark.stop()
    sys.exit(0)
  }

  /** VmHWM of this process, in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}
