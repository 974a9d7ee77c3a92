package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.core.LogEntry
import graft.sink.ParquetDirSink

class LogStreamSpec extends SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  private def llmEnd(minute: Int, customId: String, tokens: Long) =
    LogEntry(ts(minute), s"run-$minute-$customId", "", customId, "llm_end",
      "{}", s"""{"event_type":"llm_end","data":{"usage_metadata":{"input_tokens":1,"output_tokens":1,"total_tokens":$tokens}}}""")

  private def chainStart(minute: Int) =
    LogEntry(ts(minute), s"run-c$minute", "", "", "chain_start", "{}",
      """{"event_type":"chain_start"}""")

  test("growing log dir feeds incremental token-usage and event-count " +
    "aggregates: appended files arrive as new micro-batches, history is " +
    "not rescanned") {
    val dir = java.nio.file.Files.createTempDirectory("log_stream").toString
    val sink = new ParquetDirSink(spark, dir)
    // first generation of log files
    sink.write(Seq(
      llmEnd(1, "userA", 100), llmEnd(2, "userA", 50),
      llmEnd(3, "userB", 30), chainStart(4)))

    val stream = LogStream.read(spark, dir, maxFilesPerTrigger = 4)
    assert(stream.isStreaming)
    val usage = LogStream.tokenUsage(stream, windowLength = "1 hour")
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("live_usage").start()
    val counts = LogStream.eventCounts(stream, windowLength = "1 hour")
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("live_counts").start()
    try {
      usage.processAllAvailable()
      counts.processAllAvailable()
      val u1 = spark.table("live_usage").orderBy("custom_id").collect()
      assert(u1.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
        === Seq(("userA", 150L, 2L), ("userB", 30L, 1L)))

      // the log dir GROWS: a second flush lands new files only
      sink.write(Seq(
        llmEnd(5, "userA", 25), llmEnd(6, "userC", 7), chainStart(7)))
      usage.processAllAvailable()
      counts.processAllAvailable()

      val u2 = spark.table("live_usage").orderBy("custom_id").collect()
      assert(u2.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
        === Seq(("userA", 175L, 3L), ("userB", 30L, 1L), ("userC", 7L, 1L)))
      val c2 = spark.table("live_counts").orderBy("event_type").collect()
      assert(c2.map(r => (r.getString(1), r.getLong(2))).toSeq
        === Seq(("chain_start", 2L), ("llm_end", 5L)))

      // incrementality: across all micro-batches the source read each row
      // of both flushes exactly once (4 from the first, 3 from the second;
      // each flush is one file, so its chain_start row is read and then
      // dropped by the event-type filter) — a history rescan would read
      // the first flush again, 11 rows
      val batchRows = usage.recentProgress
        .filter(_.numInputRows > 0).map(_.numInputRows)
      assert(batchRows.length >= 2)
      assert(batchRows.sum === 7L)
    } finally { usage.stop(); counts.stop() }
  }

  test("streaming aggregate agrees with the batch LogTable on the same " +
    "closed dir (read-side twin consistency)") {
    val dir = java.nio.file.Files.createTempDirectory("log_stream_twin").toString
    val sink = new ParquetDirSink(spark, dir)
    sink.write(Seq(
      llmEnd(1, "a", 10), llmEnd(2, "a", 20), llmEnd(3, "b", 5),
      chainStart(4), llmEnd(60 * 24 * 2, "a", 1))) // a second date partition

    val q = LogStream.tokenUsage(LogStream.read(spark, dir))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("twin_usage").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("twin_usage")
        .groupBy("custom_id")
        .agg(org.apache.spark.sql.functions.sum("total_tokens").as("t"),
          org.apache.spark.sql.functions.sum("n_calls").as("n"))
        .orderBy("custom_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val batch = graft.query.LogTable.read(spark, dir)
        .tokenUsageByCustomId.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed === batch)
      assert(batch === Seq(("a", 31L, 3L), ("b", 5L, 1L)))
    } finally q.stop()
  }
}
