package graft.core

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{DateType, LongType}

import graft.SparkSpec
import graft.sink.ParquetDirSink

/** `Fs.readParquet` opens a Parquet source under the schema Spark would
  * infer, read from one footer on the driver: the same schema and rows
  * as `spark.read.parquet`, the same errors, and no Spark job.
  */
class ParquetOpenSpec extends SparkSpec {

  private val Tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** Spark jobs started on this thread while `body` runs (jobs carry the
    * thread's local properties, so other threads' jobs are not counted).
    */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.open") == tag)
          n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.open", tag)
    try { body; ListenerBusDrain(sc); n.get }
    finally {
      sc.setLocalProperty("graft.test.open", null)
      sc.removeSparkListener(listener)
    }
  }

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(got.collect().map(_.toString).sorted ===
      want.collect().map(_.toString).sorted)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def logDir(): String = {
    val dir = tmp("open_log")
    val sink = new ParquetDirSink(spark, dir)
    Seq(1700000000000L, 1700100000000L).zipWithIndex.foreach { case (ms, b) =>
      sink.write((1 to 5).map(i => LogEntry(new Timestamp(ms), s"r$b-$i",
        "", "", "llm_end", "{}", s"""{"i":$i}""")))
    }
    dir
  }

  test("the ten testdata tables open with the inferred schema and rows") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.foreach { t =>
      val p = s"${sf()}/$t.parquet"
      assertSame(Fs.readParquet(spark, p), spark.read.parquet(p))
      assert(Fs.parquetSchema(spark, p) === spark.read.parquet(p).schema, t)
    }
  }

  test("a TIMESTAMP(NANOS) events.ts opens as a ns-long under nanosAsLong") {
    val dir = tmp("open_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(new Configuration).build()
    val groups = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      writer.write(groups.newGroup().append("event_id", i)
        .append("ts", 1705300200123456789L + i))
    } finally writer.close()
    val df = graft.queries.tbl(spark, dir, "events")
    assert(df.schema("ts").dataType === LongType)
    assertSame(df, spark.read.parquet(s"$dir/events.parquet"))
    assert(df.orderBy("event_id").head().getLong(1) === 1705300200123456790L)
  }

  test("a ParquetDirSink directory keeps date as a trailing DateType") {
    val dir = logDir()
    val df = Fs.readParquet(spark, dir)
    assertSame(df, spark.read.parquet(dir))
    assert(df.schema.last.name === "date")
    assert(df.schema.last.dataType === DateType)
  }

  test("a basePath read of several partitions keeps the partition column") {
    val dir = logDir()
    val parts = Seq(s"$dir/date=2023-11-14", s"$dir/date=2023-11-16")
    assertSame(Fs.readParquetUnder(spark, dir, parts: _*),
      spark.read.option("basePath", dir).parquet(parts: _*))
    assert(Fs.readParquetUnder(spark, dir, parts: _*).count() === 10)
  }

  test("a multi-file directory and a list of its files open the same") {
    import spark.implicits._
    val dir = tmp("open_multi") + "/t"
    (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3).write.parquet(dir)
    val files = Fs.listDataFiles(spark, dir)
    assert(files.size === 3)
    assertSame(Fs.readParquet(spark, dir), spark.read.parquet(dir))
    assertSame(Fs.readParquet(spark, files: _*), spark.read.parquet(files: _*))
  }

  test("the footer is the first data file in path order, as inference's") {
    import spark.implicits._
    // "k=a-b/…" sorts before "k=a/…" ('-' < '/') though "k=a" < "k=a-b"
    val dir = tmp("open_order")
    Seq(1L).toDF("x").write.parquet(s"$dir/k=a")
    Seq((2L, "y")).toDF("x", "y").write.parquet(s"$dir/k=a-b")
    assertSame(Fs.readParquet(spark, dir), spark.read.parquet(dir))
    assert(Fs.readParquet(spark, dir).columns.toSeq === Seq("x", "y", "k"))
  }

  test("under spark.sql.parquet.mergeSchema the schema is merged as Spark's") {
    import spark.implicits._
    val dir = tmp("open_merge")
    Seq(1L).toDF("x").write.parquet(s"$dir/k=a")
    Seq((2L, "y")).toDF("x", "y").write.parquet(s"$dir/k=b")
    assert(Fs.readParquet(spark, dir).columns.toSeq === Seq("x", "k"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertSame(Fs.readParquet(spark, dir), spark.read.parquet(dir))
      assert(Fs.readParquet(spark, dir).columns.toSeq === Seq("x", "y", "k"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a data column named like its partition directory opens the same") {
    import spark.implicits._
    val dir = tmp("open_overlap")
    Seq((1L, "7")).toDF("x", "k").write.parquet(s"$dir/k=1")
    assertSame(Fs.readParquet(spark, dir), spark.read.parquet(dir))
  }

  test("opening a source runs no Spark job") {
    val log = logDir()
    val table = s"${sf()}/orders.parquet"
    assert(jobs(Fs.readParquet(spark, table)) === 0)
    assert(jobs(Fs.readParquet(spark, log)) === 0)
    assert(jobs(Fs.readParquetUnder(spark, log, s"$log/date=2023-11-14")) === 0)
    assert(jobs(Fs.parquetSchema(spark, table)) === 0)
    assert(jobs(graft.queries.tbl(spark, sf(), "events")) === 0)
    // the listener does see the job schema inference runs
    assert(jobs(spark.read.parquet(table)) > 0)
  }

  test("a missing path and a _SUCCESS-only directory fail as Spark's read") {
    val missing = tmp("open_missing") + "/nope"
    val empty = tmp("open_empty")
    Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    for (p <- Seq(missing, empty)) {
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Fs.readParquet(spark, p))
      assert(got.getCondition === want.getCondition, p)
      assert(intercept[AnalysisException](Fs.parquetSchema(spark, p))
        .getCondition === want.getCondition, p)
    }
  }
}
