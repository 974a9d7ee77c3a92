package graft.sink

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.LogEntry

/** Structured-Streaming twin of the buffered sink (SURVEY §2.7): an
  * unbounded event stream micro-batched into date-partitioned parquet via
  * `foreachBatch`, each batch landed by [[ParquetDirSink.writeDataset]]
  * (a staged append: a batch lands whole or not at all, and concurrent
  * writers to `dir` never share a temporary directory). Delivery is
  * at-least-once per batch, like the reference's buffer: the checkpoint
  * marks a batch done only after its write, and the write does not
  * check the batch id, so a batch re-run after a crash between the two
  * lands a second time.
  *
  * `stop()` drains in-flight data before shutdown, the streaming analog of
  * the reference's atexit flush.
  */
final class StreamingLogWriter(
    spark: SparkSession,
    dir: String,
    checkpointDir: String,
    triggerInterval: String = "1 second") {

  import spark.implicits._

  private val source =
    MemoryStream(implicitly[org.apache.spark.sql.Encoder[LogEntry]], spark)

  private var query: StreamingQuery = _

  private val sink = new ParquetDirSink(spark, dir)

  def start(): this.type = {
    query = source.toDF()
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink.writeDataset(batch)
      }
      .start()
    this
  }

  def log(entries: LogEntry*): Unit = source.addData(entries)

  /** Synchronously process everything logged so far (test/drain hook). */
  def processAllAvailable(): Unit = query.processAllAvailable()

  def stop(): Unit = {
    if (query != null) {
      query.processAllAvailable() // don't drop the tail buffer
      query.stop()
    }
  }
}
