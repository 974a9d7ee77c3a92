package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[ClusteredStore.maintain]] decides to compact by the same files
  * [[ClusteredStore.compact]] folds: deletion vectors count, so a store
  * whose files are mostly masked gets compacted even though every file
  * is full-size on disk.
  */
class MaintainMaskSpec extends SparkSpec {
  import spark.implicits._

  test("maintain compacts files that deletion vectors made mostly dead") {
    val dir = java.nio.file.Files.createTempDirectory("maintmask").toString
    ClusteredStore.init(
      (0 until 2000).toDF("id")
        .withColumn("a", col("id").cast("long") * 7919 % 1000)
        .withColumn("b", col("id").cast("long") * 104729 % 1000)
        .withColumn("payload", concat(lit("row"), col("id"))),
      Seq("a", "b"), 4, dir)
    // mask 90% of the rows of two of the four files
    val byFile = ClusteredStore.read(spark, dir)
      .groupBy(input_file_name().as("f"))
      .agg(sort_array(collect_list(col("id").cast("long"))).as("ids"))
      .orderBy("f").collect().map(_.getSeq[Long](1))
    assert(byFile.length === 4)
    val masked = byFile.take(2).flatMap(ids => ids.drop(ids.size / 10))
    assert(ClusteredStore.deleteKeysDV(spark, dir, "id", masked.toSeq)
      .rewritten === 0)
    val live = 2000L - masked.size

    val r = ClusteredStore.maintain(spark, dir)
    assert(r.compactedFiles === 2, s"$r")
    assert(r.version === 3)
    val now = ClusteredStore.manifest(spark, dir)
    assert(now.count() === 3L)
    assert(now.filter(col("dv_rows").isNotNull && col("dv_rows") > 0)
      .count() === 0L, "the masks were folded out")
    assert(ClusteredStore.read(spark, dir).count() === live)
    assert(ClusteredStore.read(spark, dir)
      .filter(col("id").isin(masked.take(50): _*)).count() === 0L)
  }
}
