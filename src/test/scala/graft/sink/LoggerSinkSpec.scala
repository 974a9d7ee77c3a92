package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{EventType, FixedClock, LogEntry}
import graft.ingest.ParquetLogger

class LoggerSinkSpec extends SparkSpec {

  private def newLogger(dir: String, bufferSize: Int = 100,
      types: Set[String] = EventType.Default,
      metadata: Map[String, Any] = Map.empty,
      clock: FixedClock = FixedClock(1700000000000000L)) = {
    val parquet = new ParquetDirSink(spark, dir)
    val buffered = new BufferedSink(parquet.write, bufferSize)
    new ParquetLogger(buffered, types, metadata, clock)
  }

  private def readLog(dir: String) = spark.read.parquet(dir)

  test("buffer flushes at threshold (reference tests/test_core.py:41-73)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 3)
    (1 to 2).foreach(i => logger.onLlmStart(
      Map("kwargs" -> Map("model_name" -> "m")), Seq(s"p$i"), s"run-$i"))
    assert(!new java.io.File(dir).exists() ||
      readLogCountSafe(dir) === 0L) // below threshold: nothing written
    logger.onLlmStart(Map.empty, Seq("p3"), "run-3")
    assert(readLog(dir).count() === 3L) // threshold reached: one batch
  }

  private def readLogCountSafe(dir: String): Long =
    try readLog(dir).count() catch { case _: Throwable => 0L }

  test("manual flush and close flush the tail (test_core.py:75-115)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 1000)
    logger.onLlmStart(Map.empty, Seq("p"), "r1")
    logger.flush()
    assert(readLog(dir).count() === 1L)
    logger.onLlmEnd(Map("llm_output" -> Map("token_usage" ->
      Map("total_tokens" -> 10))), "r1")
    logger.close()
    assert(readLog(dir).count() === 2L)
  }

  test("date partitioning produces hive layout; flat mode doesn't " +
    "(test_core.py:117-159)") {
    val dir = Files.createTempDirectory("log").toString
    val clock = FixedClock(1700000000000000L) // 2023-11-14 UTC
    val logger = newLogger(dir, bufferSize = 1, clock = clock)
    logger.onLlmStart(Map.empty, Seq("p"), "r1")
    val partDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("date="))
    assert(partDirs.map(_.getName).toSeq === Seq("date=2023-11-14"))
    // partition pruning is live on the read side
    val pruned = readLog(dir).filter(col("date") === "2023-11-14")
    assert(pruned.count() === 1L)

    val flatDir = Files.createTempDirectory("logflat").toString
    val flatSink = new ParquetDirSink(spark, flatDir, partitionOnDate = false)
    val flat = new ParquetLogger(new BufferedSink(flatSink.write, 1))
    flat.onLlmStart(Map.empty, Seq("p"), "r1")
    assert(!new java.io.File(flatDir).listFiles()
      .exists(_.getName.startsWith("date=")))
  }

  test("envelope: empty-string sentinels, metadata round-trip, payload " +
    "shape (test_core.py:161-222, test_enhanced_logging.py:427-444)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 1,
      metadata = Map("experiment" -> "e1", "v" -> 2))
    logger.onLlmStart(Map("kwargs" -> Map("model_name" -> "gpt-test")),
      Seq("Test prompt"), "test-run-123",
      tags = Seq("logger_custom_id:cust-9", "test-tag"),
      metadata = Map("test" -> "metadata"))
    val row = readLog(dir).head()
    assert(row.getAs[String]("run_id") === "test-run-123")
    assert(row.getAs[String]("parent_run_id") === "") // never null
    assert(row.getAs[String]("custom_id") === "cust-9") // from tags
    assert(row.getAs[String]("event_type") === "llm_start")
    assert(row.getAs[String]("logger_metadata") ===
      """{"experiment":"e1","v":2}""")
    val payload = row.getAs[String]("payload")
    assert(payload.contains(""""prompts":["Test prompt"]"""))
    assert(payload.contains(""""model":"gpt-test""""))
    assert(payload.contains(""""tags":["logger_custom_id:cust-9","test-tag"]"""))
    assert(payload.contains(""""raw":{"""))
  }

  test("a pre-1970 clock lands its event with the right instant in the " +
    "row and the payload") {
    Seq(-1L -> "1969-12-31T23:59:59.999999Z",
      -1500000L -> "1969-12-31T23:59:58.500Z").foreach { case (us, iso) =>
      val dir = Files.createTempDirectory("log").toString
      val logger = newLogger(dir, bufferSize = 1, types = EventType.All,
        clock = FixedClock(us))
      logger.onChainEnd(Map("answer" -> "ok"), s"r$us")
      val row = readLog(dir).head()
      assert(row.getAs[java.sql.Timestamp]("timestamp").toInstant ===
        java.time.Instant.parse(iso))
      assert(row.getAs[String]("payload")
        .contains(s""""timestamp":"$iso""""))
      assert(row.getAs[java.sql.Date]("date").toString === "1969-12-31")
    }
  }

  test("event-type gate drops unconfigured events " +
    "(test_enhanced_logging.py:19-49)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 1,
      types = Set(EventType.LlmEnd))
    logger.onLlmStart(Map.empty, Seq("p"), "r1") // filtered out
    logger.onChainStart(Map.empty, Map.empty, "r2") // filtered out
    logger.onLlmEnd(Map.empty, "r3")
    val types = readLog(dir).select("event_type")
      .collect().map(_.getString(0)).toSeq
    assert(types === Seq("llm_end"))
  }

  test("usage metadata lift from nested generations " +
    "(test_usage_metadata.py:13-63)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 1)
    logger.onLlmEnd(Map(
      "generations" -> Seq(Seq(Map(
        "text" -> "hi",
        "message" -> Map(
          "usage_metadata" -> Map("input_tokens" -> 3,
            "output_tokens" -> 7, "total_tokens" -> 10),
          "response_metadata" -> Map("model_name" -> "m-x"))))),
      "llm_output" -> Map("token_usage" -> Map("total_tokens" -> 10),
        "model_name" -> "m-x")), "r1")
    val payload = readLog(dir).head().getAs[String]("payload")
    assert(payload.contains(""""usage_metadata":{"input_tokens":3"""))
    assert(payload.contains(""""response_metadata":{"model_name":"m-x"}"""))
    assert(payload.contains(""""usage":{"total_tokens":10}"""))
  }

  test("error events carry error struct (test_raw_capture.py:111-135)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 1,
      types = EventType.Default + EventType.ToolError)
    logger.onLlmError(new RuntimeException("Test error"), "r1")
    logger.onToolError(new IllegalStateException("bad tool"), "r2",
      parentRunId = Some("r1"))
    val rows = readLog(dir).orderBy("run_id").collect()
    assert(rows(0).getAs[String]("payload").contains(
      """"error":{"message":"Test error","type":"RuntimeException"}"""))
    assert(rows(1).getAs[String]("parent_run_id") === "r1")
  }

  test("hierarchy fixture: chain → llm → tool parent chain " +
    "(test_enhanced_logging.py:322-388)") {
    val dir = Files.createTempDirectory("log").toString
    val logger = newLogger(dir, bufferSize = 6, types = EventType.All)
    logger.onChainStart(Map("name" -> "c"), Map("q" -> "x"), "chain-1")
    logger.onLlmStart(Map.empty, Seq("p"), "llm-1", Some("chain-1"))
    logger.onToolStart(Map("name" -> "t"), "in", "tool-1", Some("llm-1"))
    logger.onToolEnd("out", "tool-1", Some("llm-1"))
    logger.onLlmEnd(Map.empty, "llm-1", Some("chain-1"))
    logger.onChainEnd(Map("a" -> 1), "chain-1")
    logger.close()
    val df = readLog(dir)
    assert(df.count() === 6L)
    assert(df.filter(col("parent_run_id") === "").count() === 2L) // chain rows
    assert(df.filter(col("parent_run_id") === "chain-1").count() === 2L)
    assert(df.filter(col("parent_run_id") === "llm-1").count() === 2L)
  }

  test("RetryingStorage: backoff then error vs continue " +
    "(test_s3_integration.py:16-141)") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val failing: Seq[LogEntry] => Unit = _ => { calls += 1; sys.error("io") }
    val st = new RetryingStorage(failing, retryAttempts = 3,
      onFailure = "error", sleep = sleeps += _)
    intercept[RuntimeException](st(Seq.empty))
    assert(calls === 3)
    assert(sleeps.toSeq === Seq(2000L, 4000L)) // 2^1, 2^2 seconds

    calls = 0
    val cont = new RetryingStorage(failing, retryAttempts = 2,
      onFailure = "continue", sleep = _ => ())
    cont(Seq.empty) // swallowed
    assert(calls === 2 && cont.failures.get() === 1L)

    // composite fans out to all backends
    var a = 0; var b = 0
    new CompositeStorage(Seq(_ => a += 1, _ => b += 1))(Seq.empty)
    assert(a === 1 && b === 1)
  }
}
