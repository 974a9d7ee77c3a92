package graft.query

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.LogEntry

/** ShreddedLog contract: the store equals shred-on-the-fly of the source
  * log; incremental appendNew picks up exactly the new files and a
  * replayed append is idempotent (dynamic partition overwrite, no
  * duplicate rows); reads of typed columns carry NO JSON machinery in the
  * physical plan.
  */
class ShreddedLogSpec extends SparkSpec {

  private def entry(i: Int, withUsage: Boolean): LogEntry = LogEntry(
    new java.sql.Timestamp(1700000000000L + i * 86400000L),
    s"run-$i", "", s"cust-${i % 3}", if (i % 2 == 0) "llm_end" else "llm_start",
    """{"job":"spec"}""",
    if (withUsage)
      s"""{"event_type":"llm_end","data":{"model":"m${i % 2}","llm_type":"chat",
         |"usage_metadata":{"input_tokens":${10 * i},"output_tokens":$i,
         |"total_tokens":${11 * i}}}}""".stripMargin.replace("\n", "")
    else
      s"""{"event_type":"llm_start","data":{"model":"m${i % 2}",
         |"error":{"message":"boom-$i","type":"Timeout"}}}"""
        .stripMargin.replace("\n", ""))

  private def writeBatch(logDir: String, is: Range, usage: Boolean): Unit = {
    import spark.implicits._
    new graft.sink.ParquetDirSink(spark, logDir)
      .writeDataset(is.map(entry(_, usage)).toDF())
  }

  test("store equals shred-on-the-fly; appendNew is incremental and " +
    "replay-idempotent") {
    val root = java.nio.file.Files.createTempDirectory("shred").toString
    val logDir = s"$root/log"
    val storeDir = s"$root/store"

    writeBatch(logDir, 0 until 40, usage = true)
    val n0 = ShreddedLog.appendNew(spark, logDir, storeDir)
    assert(n0 > 0)
    // nothing new → zero files processed, store unchanged
    assert(ShreddedLog.appendNew(spark, logDir, storeDir) === 0)

    // a second ingest batch lands; only ITS files are shredded
    writeBatch(logDir, 40 until 60, usage = false)
    val n1 = ShreddedLog.appendNew(spark, logDir, storeDir)
    assert(n1 > 0 && n1 < n0 + n1)

    val store = ShreddedLog.read(spark, storeDir)
    val direct = ShreddedLog.shred(
      LogTable.read(spark, logDir).df).drop("src")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("run_id", "event_type", "model", "input_tokens",
        "total_tokens", "error_message", "error_type")
      .collect().map(_.toString).sorted
    assert(key(store) === key(direct))
    assert(store.count() === 60L)
    // typed nulls survive: batch 2 has no usage, batch 1 no errors
    assert(store.filter(col("error_message").isNotNull).count() === 20L)
    assert(store.filter(col("total_tokens").isNotNull).count() === 40L)

    // crash replay: re-shredding ALL source files overwrites the same
    // date=/src= partitions — row count must not move
    val fresh = graft.core.Fs.delete(spark, storeDir)
    ShreddedLog.appendNew(spark, logDir, storeDir)
    ShreddedLog.build(spark, logDir, storeDir) // full rebuild == same rows
    assert(ShreddedLog.read(spark, storeDir).count() === 60L)
  }

  test("typed-column reads have no JSON parsing in the physical plan " +
    "and push filters to the scan") {
    val root = java.nio.file.Files.createTempDirectory("shredplan").toString
    writeBatch(s"$root/log", 0 until 30, usage = true)
    ShreddedLog.build(spark, s"$root/log", s"$root/store")
    val q = ShreddedLog.read(spark, s"$root/store")
      .filter(col("model") === "m1" && col("total_tokens") > 50L)
      .groupBy("custom_id").agg(sum("total_tokens").as("tok"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("from_json") && !plan.contains("FromJson") &&
      !plan.contains("get_json_object") && !plan.contains("GetJsonObject"),
      s"JSON machinery leaked into the shredded read plan:\n$plan")
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("IsNotNull(model)"),
      s"typed filters not pushed to the parquet scan:\n$plan")
    // and the answer matches the parse-on-read path
    val want = LogTable.read(spark, s"$root/log").parsed
      .filter(col("p.data.model") === "m1" &&
        col("p.data.usage_metadata.total_tokens") > 50L)
      .groupBy("custom_id")
      .agg(sum("p.data.usage_metadata.total_tokens").as("tok"))
    assert(q.collect().map(_.toString).sorted ===
      want.collect().map(_.toString).sorted)
  }

  test("prefer-shredded builders: token usage and error drill-down " +
    "route through typed columns when the store exists (JSON-free " +
    "plan), fall back to parse-on-read when it doesn't, same answers") {
    val root = java.nio.file.Files.createTempDirectory("shredroute").toString
    val logDir = s"$root/log"
    val storeDir = s"$root/store"
    writeBatch(logDir, 0 until 30, usage = true)  // llm_end + tokens
    writeBatch(logDir, 30 until 45, usage = false) // errors, no usage

    // BEFORE the store exists: fallback = the classic parse-on-read
    val fallbackTok = LogTable
      .tokenUsagePreferShredded(spark, logDir, storeDir)
    assert(fallbackTok.queryExecution.executedPlan.toString
      .contains("from_json") ||
      fallbackTok.queryExecution.executedPlan.toString.contains("FromJson"),
      "without a store the builder must parse-on-read")
    val wantTok = fallbackTok.collect().map(_.toString)
    val wantErr = LogTable.errorsPreferShredded(spark, logDir, storeDir)
      .collect().map(_.toString)

    // AFTER maintenance: typed path, no JSON machinery, same rows
    ShreddedLog.build(spark, logDir, storeDir)
    val tok = LogTable.tokenUsagePreferShredded(spark, logDir, storeDir)
    val err = LogTable.errorsPreferShredded(spark, logDir, storeDir)
    Seq(tok, err).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("from_json") && !plan.contains("FromJson") &&
        !plan.contains("get_json_object") && !plan.contains("GetJsonObject"),
        s"JSON machinery leaked into a shredded-routed plan:\n$plan")
    }
    assert(tok.collect().map(_.toString) === wantTok)
    assert(err.collect().map(_.toString) === wantErr)
    assert(wantErr.nonEmpty && wantTok.nonEmpty, "fixture must exercise both")
  }

  test("a live sink's stage is not a source file: appendNew skips " +
    "part files under .staging-") {
    val root = java.nio.file.Files.createTempDirectory("shredstage").toString
    val logDir = s"$root/log"
    writeBatch(logDir, 0 until 20, usage = true)
    val landed = graft.core.Fs.listDataFiles(spark, logDir)
    // a part file that a concurrent append has staged but not yet moved
    val staged = java.nio.file.Paths.get(logDir, ".staging-x",
      "date=2023-11-14", "part-00000-staged.snappy.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(landed.head)), staged)

    assert(graft.core.Fs.listDataFiles(spark, logDir) === landed)
    assert(ShreddedLog.appendNew(spark, logDir, s"$root/store") === landed.size)
    assert(ShreddedLog.read(spark, s"$root/store").count() === 20L)
    assert(LogRollup.appendNew(spark, logDir, s"$root/rollup") === landed.size)
  }

  test("appendNew finds nothing new in a store built from a recursive " +
    "listFiles scan: source fingerprints do not depend on the listing") {
    val root = java.nio.file.Files.createTempDirectory("shredfp").toString
    val logDir = s"$root/log"
    val storeDir = s"$root/store"
    writeBatch(logDir, 0 until 30, usage = true)
    writeBatch(logDir, 30 until 45, usage = false)
    // build the store from the file list a FileSystem.listFiles walk gives
    val fs = graft.core.Fs(spark, logDir)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(logDir), true)
    val files = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (!p.getName.startsWith("_") && !p.getName.startsWith("."))
        files += p.toString
    }
    val src = spark.read.option("basePath", logDir)
      .schema(graft.core.LogSchema.schema.add("date",
        org.apache.spark.sql.types.DateType))
      .parquet(files.result(): _*)
    ShreddedLog.shred(src.drop("date")).write.mode("overwrite")
      .partitionBy("date", "src").parquet(storeDir)

    assert(ShreddedLog.appendNew(spark, logDir, storeDir) === 0)
    assert(ShreddedLog.read(spark, storeDir).count() === 45L)
  }
}
