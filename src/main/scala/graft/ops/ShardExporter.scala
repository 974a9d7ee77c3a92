package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** Materialized token-balanced shard export — the last step of the
  * curation pipeline: deal documents into `n` shards in
  * longest-processing-time-first order (global rank by weight
  * descending, round-robin) and write them as `shard=K/` parquet
  * partitions, so a training run reads one balanced partition directory
  * per worker group.
  *
  * Scale shape: the deal runs on [[GlobalRank.withRowNumber]] (a
  * range-partitioned sort, never a single-partition window), and the
  * write is one pass partitioned by the shard column. Balance quality is
  * LPT's: per-shard weight within ~max-item-weight of the mean.
  */
object ShardExporter {

  final case class ShardStats(
      shard: Long, nDocs: Long, weight: Long, balanceRatio: Double)

  /** Deal `df` into `n` shards balanced on `weightCol` (LongType) and
    * write to `path` partitioned by `shard`. `tieCols` pins the total
    * order under equal weights (determinism). Returns per-shard stats,
    * `balanceRatio` = shard weight ÷ ideal equal share.
    */
  def export(
      df: DataFrame,
      weightCol: String,
      tieCols: Seq[Column],
      n: Int,
      path: String): Seq[ShardStats] = {
    require(n > 0, "shard count must be positive")
    val ranked = GlobalRank.withRowNumber(
      df, col(weightCol).desc +: tieCols, "__rn")
    val sharded = ranked
      .withColumn("shard", ((col("__rn") - 1) % n).cast("long"))
      .drop("__rn")
    sharded.write.mode("overwrite").partitionBy("shard").parquet(path)
    // partition-dir type inference reads shard= back as int
    val written = Fs.readParquet(df.sparkSession, path)
      .withColumn("shard", col("shard").cast("long"))
    val total = math.max(1L,
      Option(written.agg(sum(col(weightCol))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    written.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col(weightCol)).as("w"))
      .orderBy("shard").collect()
      .map(r => ShardStats(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(2).toDouble * n / total))
      .toSeq
  }
}
