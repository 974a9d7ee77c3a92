package graft.query

import java.nio.file.Files

import graft.SparkSpec
import graft.core.{EventType, FixedClock}
import graft.ingest.ParquetLogger
import graft.sink.{BufferedSink, ParquetDirSink}

class LogTableSpec extends SparkSpec {

  /** Write a small trace through the real ingest path, then query it. */
  private lazy val logDir: String = {
    val dir = Files.createTempDirectory("logq").toString
    val clock = FixedClock(1700000000000000L)
    val logger = new ParquetLogger(
      new BufferedSink(new ParquetDirSink(spark, dir).write, 100),
      EventType.All, Map("job" -> "test"), clock)
    def usage(total: Long) = Map(
      "llm_output" -> Map("token_usage" -> Map("total_tokens" -> total)))
    logger.onChainStart(Map("name" -> "c"), Map("q" -> "x"), "chain-1")
    clock.advance(1000)
    logger.onLlmStart(Map.empty, Seq("p1"), "llm-1", Some("chain-1"),
      tags = Seq("logger_custom_id:alice"))
    clock.advance(1000)
    logger.onLlmEnd(usage(10), "llm-1", Some("chain-1"),
      tags = Seq("logger_custom_id:alice"))
    clock.advance(1000)
    logger.onToolStart(Map("name" -> "t"), "in", "tool-1", Some("llm-1"))
    clock.advance(1000)
    logger.onLlmStart(Map.empty, Seq("p2"), "llm-2", Some("chain-1"),
      tags = Seq("logger_custom_id:bob"))
    clock.advance(1000)
    logger.onLlmEnd(usage(32), "llm-2", Some("chain-1"),
      tags = Seq("logger_custom_id:bob"))
    clock.advance(1000)
    logger.onLlmEnd(usage(5), "llm-3", None,
      tags = Seq("logger_custom_id:alice"))
    logger.onChainEnd(Map("a" -> 1), "chain-1")
    logger.close()
    dir
  }

  private lazy val logs = LogTable.read(spark, logDir)

  test("Q1/Q7/Q6: filter, counts, distinct") {
    assert(logs.byEventType("llm_end").df.count() === 3L)
    val counts = logs.eventCounts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("llm_end") === 3L && counts("chain_start") === 1L)
    // chain_start, llm_start, llm_end, tool_start, chain_end
    assert(logs.distinctEventTypes.count() === 5L)
  }

  test("Q7/Q6 sort in one partition: no range exchange, same rows") {
    import org.apache.spark.sql.functions._
    val pairs = Seq(
      logs.eventCounts -> logs.df.groupBy("event_type")
        .agg(count(lit(1)).as("n")).orderBy("event_type"),
      logs.distinctEventTypes -> logs.df.select("event_type").distinct()
        .orderBy("event_type"))
    pairs.foreach { case (q, ranged) =>
      val rows = q.collect().toSeq
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"), plan)
      assert(ranged.queryExecution.executedPlan.toString
        .contains("rangepartitioning"))
      assert(rows === ranged.collect().toSeq)
    }
  }

  test("Q2/Q3 flagship: token usage per custom id from parsed payload") {
    val rows = logs.tokenUsageByCustomId.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows === Array(("alice", 15L, 2L), ("bob", 32L, 1L)))
  }

  test("Q5: trace, roots, children, subtree") {
    assert(logs.roots.count() === 3L) // chain-1 start+end, llm-3 end
    assert(logs.childrenOf("chain-1").count() === 4L)
    assert(logs.trace("chain-1").count() === 6L)
    val sub = logs.subtree("chain-1")
    // chain-1 (2 events) + its llm children (4 events) + tool-1 (1 event)
    assert(sub.count() === 7L)
    assert(logs.subtree("llm-1").count() === 3L) // llm-1 x2 + tool-1
  }

  test("variant payload path answers schemaless queries (Spark 4)") {
    import org.apache.spark.sql.functions._
    val rows = logs.byEventType("llm_end").parsedVariant
      .select(
        expr("variant_get(v, '$.execution.custom_id', 'string')").as("cid"),
        expr("variant_get(v, '$.data.usage.total_tokens', 'long')").as("tok"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(_.toString())
    assert(rows.toSeq === Seq(("alice", 10L), ("alice", 5L), ("bob", 32L)))
  }

  test("partition pruning on date survives the read path") {
    val plan = logs.df
      .filter(org.apache.spark.sql.functions.col("date") === "2023-11-14")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(date"), plan)
  }

  test("hour-grain sink: date=/hour= layout, BOTH keys in the scan's " +
    "partition filters, date-only filters still prune") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("log_hourly").toString
    val sink = new graft.sink.ParquetDirSink(spark, dir, hourGrain = true)
    def entry(minute: Int) = graft.core.LogEntry(
      new java.sql.Timestamp(1700000000000L + minute * 60000L),
      s"run-$minute", "", "", "chain_start", "{}",
      """{"event_type":"chain_start"}""")
    // 22:13 and 23:23 UTC on 2023-11-14, plus one row two days later
    sink.write(Seq(entry(0), entry(70), entry(60 * 48)))

    val dates = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dates === Array("date=2023-11-14", "date=2023-11-16"))
    val hours = new java.io.File(s"$dir/date=2023-11-14").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(hours === Array("hour=22", "hour=23"))

    val df = spark.read.parquet(dir)
    val both = df.filter(col("date") === "2023-11-14" && col("hour") === 23)
    assert(both.count() === 1L)
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(date"), plan)
    assert(plan.contains("(hour"), "hour key missing from partition filters:\n" + plan)

    // prefix pruning: a date-only predicate still reaches PartitionFilters
    val dOnly = df.filter(col("date") === "2023-11-16")
    assert(dOnly.count() === 1L)
    assert(dOnly.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(date"))
  }
}
