package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Fs

/** End-to-end write-path fidelity check, oracle-checked: build log entries
  * from the `events` table (payload = JSON envelope, custom_id from tags,
  * date from event time), write them as a date-partitioned snappy parquet
  * log via the engine's sink path, read the directory back, and answer the
  * flagship token-usage query from the parsed payload.
  *
  * The DuckDB oracle computes the same aggregate straight from `events` —
  * so the comparison proves the ingest→partitioned-sink→scan→JSON-parse
  * loop loses nothing.
  */
object LogRoundtripQuery {

  val roundtrip = Q(
    "q_log_roundtrip",
    (s, dir) => {
      val out = Files.createTempDirectory("graft_log_roundtrip").toString
      val events = tbl(s, dir, "events")
      // ingest projection: events → 7-column envelope (columnar analog of
      // PayloadBuilder for bulk backfill; the row-at-a-time path is
      // graft.ingest.ParquetLogger)
      val entries = events.select(
        timestamp_micros(tsMicros).as("timestamp"),
        concat(lit("run-"), col("event_id")).as("run_id"),
        lit("").as("parent_run_id"),
        col("user_id").cast("string").as("custom_id"),
        col("event_type").as("event_type"),
        lit("""{"job":"roundtrip"}""").as("logger_metadata"),
        to_json(struct(
          col("event_type"),
          struct(
            concat(lit("run-"), col("event_id")).as("run_id"),
            col("user_id").cast("string").as("custom_id")).as("execution"),
          struct(get_json_object(col("props"), "$.k").cast("long").as("k"),
            col("value").as("value")).as("data"))).as("payload"))
      if (entries.limit(1).count() == 0L) {
        // nothing to write: a zero-file dir has no inferable schema, so
        // answer the degenerate aggregate directly (EmptyInputGate)
        import org.apache.spark.sql.types._
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("custom_id", StringType),
            StructField("total_k", LongType),
            StructField("n_events", LongType))))
      } else {
      entries
        .withColumn("date", to_date(col("timestamp")))
        .write.mode("overwrite").partitionBy("date")
        .option("compression", "snappy").parquet(out)
      // read side: full-directory scan, filter, JSON-parse, aggregate
      Fs.readParquet(s, out)
        .filter(col("event_type") === "click")
        .select(col("custom_id"),
          coalesce(get_json_object(col("payload"), "$.data.k").cast("long"),
            lit(0L)).as("k"))
        .groupBy("custom_id")
        .agg(sum("k").cast("long").as("total_k"), cnt("n_events"))
        .orderBy("custom_id")
      }
    },
    Some("""SELECT CAST(user_id AS VARCHAR) AS custom_id,
                   CAST(SUM(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS total_k,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events WHERE event_type = 'click'
            GROUP BY user_id ORDER BY custom_id"""))
}
