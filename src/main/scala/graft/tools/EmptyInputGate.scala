package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Fs
import graft.queries.Registry

/** Empty-input robustness gate: every registry query must run to
  * completion (typically to an empty result) against a ZERO-ROW mirror of
  * the testdata tables. At 100 TB a daily pipeline will eventually meet
  * an empty partition, a source outage, or a filter matching nothing —
  * "crashes on the empty Sunday batch" is the classic 3am page, and a
  * driver-side `.collect()(0)` or an `array()` over an empty model set is
  * exactly the kind of bug a populated test corpus can never catch.
  *
  * Usage: runMain graft.tools.EmptyInputGate [templateSfDir]
  * (builds the empty mirror from the template's schemas, default
  * sf0.001). Exits non-zero if any query throws.
  */
object EmptyInputGate {
  def main(args: Array[String]): Unit = {
    val template = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)

    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    graft.core.Fs.list(spark, template)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        Fs.readParquet(spark, f.getPath.toString).limit(0)
          .coalesce(1).write.parquet(s"$dir/${f.getPath.getName}")
      }

    val failures = Registry.all.flatMap { q =>
      try { q.spark(spark, dir).collect(); None }
      catch { case e: Throwable =>
        System.err.println(s"EMPTY-INPUT FAIL ${q.name}: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
        Some(q.name)
      }
    }
    println(s"""{"metric":"empty_input_gate","queries":${Registry.all.length},""" +
      s""""failures":${failures.length}}""")
    if (failures.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
