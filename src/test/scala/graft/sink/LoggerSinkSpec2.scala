package graft.sink

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{EventType, FixedClock}
import graft.ingest.ParquetLogger

class LoggerSinkSpec2 extends SparkSpec {

  test("chat_model_start and agent events carry their payload shapes " +
    "(test_enhanced_logging.py:213-320, E11/E12)") {
    val dir = Files.createTempDirectory("log2").toString
    val logger = new ParquetLogger(
      new BufferedSink(new ParquetDirSink(spark, dir).write, 1),
      EventType.All, Map.empty, FixedClock(1700000000000000L))
    logger.onChatModelStart(
      Map("_type" -> "chat-openai", "kwargs" -> Map("model_name" -> "c-1")),
      messages = Seq(Map("role" -> "user", "content" -> "hi")), "r1")
    logger.onAgentAction("search", Map("q" -> "spark"), "thought: look", "r2")
    logger.onAgentFinish(Map("output" -> "done"), "final", "r3")

    val byRun = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("run_id") ->
        (r.getAs[String]("event_type"), r.getAs[String]("payload"))).toMap
    assert(byRun("r1")._1 === "chat_model_start")
    assert(byRun("r1")._2.contains(""""llm_type":"chat-openai""""))
    assert(byRun("r1")._2.contains(""""model":"c-1""""))
    assert(byRun("r2")._1 === "agent_action")
    assert(byRun("r2")._2.contains(
      """"action":{"tool":"search","tool_input":{"q":"spark"},"log":"thought: look"}"""))
    assert(byRun("r3")._2.contains(
      """"finish":{"return_values":{"output":"done"},"log":"final"}"""))
  }

  test("BufferedSink under concurrent appends loses nothing") {
    val landed = new ConcurrentHashMap[String, Integer]
    val writes = new ConcurrentLinkedQueue[Seq[String]] // run ids per write
    val sink = new BufferedSink(entries => {
      entries.foreach(e => landed.merge(e.run_id, 1, (a, b) => a + b))
      writes.add(entries.map(_.run_id))
    }, bufferSize = 7)
    val writtenOnReturn = ConcurrentHashMap.newKeySet[String]()
    val pool = Executors.newFixedThreadPool(8)
    val n = 2000
    (1 to n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val id = s"r$i"
          sink.append(graft.core.LogEntry(
            new java.sql.Timestamp(0), id, "", "", "llm_end", "{}", "{}"))
          if (landed.containsKey(id)) writtenOnReturn.add(id)
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    sink.close()
    val batches = writes.asScala.toSeq
    // every row id written exactly once
    assert(landed.asScala.toMap === (1 to n).map(i => s"r$i" -> (1: Integer)).toMap)
    // a boundary-crossing append returns only after its own row is written.
    // Each write takes the whole buffer in append order and none failed,
    // so a row at index k of its write left k + 1 rows in the buffer.
    val boundaries = batches.flatMap(_.zipWithIndex.collect {
      case (id, k) if (k + 1) % 7 == 0 => id })
    assert(boundaries.nonEmpty)
    assert(boundaries.filterNot(writtenOnReturn.contains) === Nil)
    // group commit: each write holds at least one full buffer, plus close()
    assert(batches.size >= 1 && batches.size <= n / 7 + 1)
  }
}
