package graft.retrieve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Commit, Fs}

/** Checkpointed background-response retrieval (SURVEY §2.4), re-expressed
  * Spark-first:
  *
  *   - A1: the processed-id skip is a **left-anti join** of the input
  *     against the checkpoint (the reference does per-row set membership —
  *     that's a broadcast-able join at scale, not a driver-side set);
  *   - A3: retry with classified backoff runs inside `mapPartitions`;
  *   - A8: checkpoint compaction is union + window keep-last with an
  *     explicit `seq` order (pandas keep-last relies on row order).
  */
final case class RetrievalResult(
    response_id: String,
    custom_id: String,
    status: String, // completed | failed | error | already_processed
    openai_response: String,
    error: String)

/** Pluggable response API (the real OpenAI client is out of scope;
  * interfaces + fakes, per SURVEY §7.5).
  */
trait ResponseClient extends Serializable {
  /** @return serialized response body for a completed response
    * @throws RetrievalException classified failures
    */
  def retrieve(responseId: String): String
}

sealed abstract class RetrievalException(msg: String) extends Exception(msg)
final class TimeoutException(msg: String) extends RetrievalException(msg)
final class RateLimitException(msg: String, val retryAfterMs: Long = 0)
    extends RetrievalException(msg)
final class ServerException(val code: Int, msg: String)
    extends RetrievalException(msg)
final class ClientException(val code: Int, msg: String)
    extends RetrievalException(msg)

/** A3: retry classification (background_retrieval.py:161-248): timeout and
  * 5xx back off exponentially; 429 backs off with jitter capped at 60 s;
  * other 4xx fail immediately.
  */
final case class RetryPolicy(
    maxRetries: Int = 3,
    sleep: Long => Unit = Thread.sleep,
    jitter: () => Double = () => scala.util.Random.nextDouble()) {

  def run[T](op: () => T): Either[String, T] = {
    var attempt = 0
    while (true) {
      try return Right(op())
      catch {
        case e: ClientException =>
          return Left(s"client_error_${e.code}: ${e.getMessage}")
        case e: RetrievalException =>
          attempt += 1
          if (attempt > maxRetries) return Left(
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          val backoffMs = e match {
            case _: RateLimitException =>
              math.min(60000L, (math.pow(2, attempt) * 1000 *
                (1 + 0.1 * jitter())).toLong)
            case _ => (math.pow(2, attempt) * 1000).toLong
          }
          sleep(backoffMs)
      }
    }
    sys.error("unreachable")
  }
}

object Retriever {

  /** Results plus the synthetic per-attempt event log (A10): both views
    * share one persisted computation — call `unpersist()` when done.
    */
  final case class RetrievalOutput(
      results: DataFrame,
      events: DataFrame,
      private val backing: org.apache.spark.sql.Dataset[_]) {
    def unpersist(): Unit = backing.unpersist()
  }

  /** Main entry (background_retrieval.py:28-349). Produces the result
    * table (response_id, custom_id, status, openai_response, error) and
    * the background_retrieval_* event log. `ratePerSecond` installs an A4
    * per-partition token bucket sized from the global budget.
    */
  def retrieve(
      spark: SparkSession,
      input: DataFrame, // response_id, custom_id
      client: ResponseClient,
      checkpoint: CheckpointStore,
      policy: RetryPolicy = RetryPolicy(),
      ratePerSecond: Option[Double] = None,
      clock: graft.core.Clock = graft.core.SystemClock): RetrievalOutput = {
    import spark.implicits._

    val processed = checkpoint.load()
      .select(col("response_id").as("__ckpt_id"))
    val todo = input.join(processed,
      col("response_id") === col("__ckpt_id"), "left_anti")
    val skipped = input.join(processed,
      col("response_id") === col("__ckpt_id"), "left_semi")
      .select(col("response_id"), col("custom_id"),
        lit("already_processed").as("status"),
        lit("").as("openai_response"), lit("").as("error"))

    val numParts = math.max(1, todo.rdd.getNumPartitions)
    val fetched = todo.select("response_id", "custom_id").as[(String, String)]
      .mapPartitions { rows =>
        val limiter = ratePerSecond.map(r =>
          new RateLimiter(math.max(0.1, r / numParts)))
        rows.map { case (rid, cid) =>
          val sink = new graft.batch.CollectingSink
          val logger = new graft.ingest.ParquetLogger(sink,
            Set.empty, Map.empty, clock)
          logger.logEvent(graft.core.EventType.BackgroundRetrievalAttempt,
            rid, cid, graft.ingest.Json.obj("response_id" -> rid))
          limiter.foreach(_.acquire())
          val result = policy.run(() => client.retrieve(rid)) match {
            case Right(body) =>
              logger.logEvent(graft.core.EventType.BackgroundRetrievalComplete,
                rid, cid, graft.ingest.Json.obj(
                  "response_id" -> rid, "status" -> "completed"))
              RetrievalResult(rid, cid, "completed", body, "")
            case Left(err) =>
              logger.logEvent(graft.core.EventType.BackgroundRetrievalError,
                rid, cid, graft.ingest.Json.obj(
                  "response_id" -> rid, "error" -> err))
              RetrievalResult(rid, cid, "error", "", err)
          }
          (result, sink.entries.toVector)
        }
      }.persist()

    val results = fetched.map(_._1).toDF().unionByName(skipped)
    val events = fetched.flatMap(_._2).toDF()
    RetrievalOutput(results, events, fetched)
  }
}

/** A1/A7/A8: parquet-backed checkpoint table with keep-last compaction. */
final class CheckpointStore(spark: SparkSession, path: String) {
  import spark.implicits._

  def load(): DataFrame =
    if (graft.core.Fs.nonEmptyDir(spark, path)) {
      Commit.read(spark, path)
    } else {
      Seq.empty[(String, Boolean, String, Long)]
        .toDF("response_id", "processed", "error", "seq")
    }

  /** A7: append a batch of (response_id, processed, error) rows. `seq` is a
    * monotonically-increasing batch stamp making "last" explicit.
    */
  def append(rows: Seq[(String, Boolean, String)]): Unit = {
    val seq = System.nanoTime()
    Fs.stagedAppend(rows.toDF("response_id", "processed", "error")
      .withColumn("seq", lit(seq)), Nil, path)
    ()
  }

  /** A8: compaction — keep the last row per response_id (explicit order by
    * seq desc; the window shuffles on the key, no driver involvement).
    * One committed rewrite of the files listed now ([[graft.core.Commit]]),
    * so a batch appended meanwhile survives and [[load]] stays exact
    * across a crash at any step.
    */
  def compact(): Unit = {
    Commit.healAndSweep(spark, path)
    val files = Commit.dataFilesIn(spark, path).map(_.getPath)
    val w = Window.partitionBy("response_id").orderBy(col("seq").desc)
    if (files.nonEmpty)
      Commit.rewrite(spark, path, files.map(_.getName))(
        Fs.readParquet(spark, files.map(_.toString): _*)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn")
          .write.parquet(_))
  }

  /** A9: summary counts by status. */
  def summary(): DataFrame =
    load().groupBy("processed").agg(count(lit(1)).as("n"))
}
