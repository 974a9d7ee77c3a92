package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MergeStoreSpec extends SparkSpec {

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("merge_store").toString + "/t"

  private def state(path: String): Map[Long, (Long, Double)] =
    MergeStore.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("seq"), r.getAs[Double]("v"))).toMap

  private def changes(rows: (Long, Long, Boolean, Double)*) = {
    import spark.implicits._
    rows.toDF("k", "seq", "is_delete", "v")
  }

  test("upsert, update, delete across batches converge to LWW state") {
    val path = tmp()
    MergeStore.merge(spark, path,
      changes((1L, 10L, false, 1.0), (2L, 11L, false, 2.0)), "k", 4)
    MergeStore.merge(spark, path,
      changes((1L, 20L, false, 1.5), (3L, 21L, false, 3.0)), "k", 4)
    MergeStore.merge(spark, path,
      changes((2L, 30L, true, 0.0)), "k", 4)
    assert(state(path) === Map(1L -> (20L, 1.5), 3L -> (21L, 3.0)))
  }

  test("replaying an old batch is a no-op (LWW + tombstones)") {
    val path = tmp()
    val b1 = changes((1L, 10L, false, 1.0), (2L, 11L, false, 2.0))
    val b2 = changes((1L, 20L, false, 1.5), (2L, 21L, true, 0.0))
    MergeStore.merge(spark, path, b1, "k", 4)
    MergeStore.merge(spark, path, b2, "k", 4)
    val after = state(path)
    assert(after === Map(1L -> (20L, 1.5)))
    // replay b1: the stale upsert must NOT resurrect deleted key 2 or
    // roll back key 1 — exactly what tombstones + stored seq guarantee
    MergeStore.merge(spark, path, b1, "k", 4)
    assert(state(path) === after)
  }

  test("merge touches only the batch's buckets; lookup prunes to one") {
    import spark.implicits._
    val path = tmp()
    MergeStore.merge(spark, path,
      changes((1L to 40L).map(i => (i, i, false, i.toDouble)): _*),
      "k", 8)
    val touched = MergeStore.merge(spark, path,
      changes((5L, 100L, false, 50.0)), "k", 8)
    val kb5 = Seq(5L).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(8L))).as[Long].head()
    assert(touched === Seq(kb5))

    val look = MergeStore.lookup(spark, path, "k", 5L, 8)
    assert(look.collect().map(_.getAs[Double]("v")).toSeq === Seq(50.0))
    val plan = look.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("kb"), plan)
  }

  test("purgeTombstones drops deleted keys physically, state unchanged") {
    val path = tmp()
    MergeStore.merge(spark, path,
      changes((1L, 1L, false, 1.0), (2L, 2L, false, 2.0),
        (2L, 3L, true, 0.0)), "k", 4)
    val before = state(path)
    val rawBefore = spark.read.parquet(path).count()
    MergeStore.purgeTombstones(spark, path)
    assert(state(path) === before)
    assert(spark.read.parquet(path).count() === rawBefore - 1)
  }

  test("empty change batches never create a store; readOrEmpty degrades") {
    val path = tmp()
    val empty = changes() // zero rows, full schema
    assert(MergeStore.merge(spark, path, empty, "k", 4) === Seq.empty)
    // the store must not exist (nothing to give it a schema) …
    assert(!new java.io.File(path).exists())
    // … and the guarded read returns a typed empty frame, not a crash
    val out = MergeStore.readOrEmpty(spark, path, empty)
    assert(out.count() === 0)
    assert(out.columns.toSeq === Seq("k", "seq", "v"))
    // once a real merge lands, readOrEmpty IS read
    MergeStore.merge(spark, path, changes((1L, 1L, false, 1.0)), "k", 4)
    assert(MergeStore.readOrEmpty(spark, path, empty).count() === 1)
  }

  test("init snapshot then incremental merge equals direct merges") {
    val path = tmp()
    MergeStore.init(
      changes((1L, 1L, false, 1.0), (2L, 2L, false, 2.0)), "k", path, 4)
    MergeStore.merge(spark, path, changes((1L, 5L, false, 9.0)), "k", 4)
    assert(state(path) === Map(1L -> (5L, 9.0), 2L -> (2L, 2.0)))
  }

  /** Makes every rename into a live `kb=` dir fail — the roll-forward
    * of a committed merge or purge — while renames inside its stage
    * (Spark's own commit of the staged write) still pass.
    */
  private def refuseRollForward[A](body: => A): A = {
    FalseRenameFs.refuse = p => p.getParent.getName.startsWith("kb=") &&
      !p.toString.contains("/.purge.")
    try body finally FalseRenameFs.refuse = _ => false
  }

  private def rows(path: String): Seq[(Long, Long, Boolean, Double)] =
    spark.read.parquet(path).collect().map(r => (r.getAs[Long]("k"),
      r.getAs[Long]("seq"), r.getAs[Boolean]("is_delete"),
      r.getAs[Double]("v"))).toSeq.sorted

  private def debris(path: String): Seq[String] =
    graft.core.Fs.list(spark, path).map(_.getPath.getName)
      .filter(n => n.startsWith("_PURGE.") || n.startsWith("."))

  test("a merge whose roll-forward rename fails heals to its merge") {
    val path = FalseRenameFs.dir("msrn") + "/t"
    MergeStore.merge(spark, path,
      changes((1L, 1L, false, 1.0), (2L, 2L, false, 2.0)), "k", 1)
    intercept[java.io.IOException](refuseRollForward(
      MergeStore.merge(spark, path, changes((1L, 5L, false, 1.5)), "k", 1)))
    assert(debris(path).exists(_.startsWith("_PURGE.")),
      "the committed marker stays for the heal")
    // the gate already serves the committed merge; the next merge call
    // (an empty batch) rolls it forward with no row lost or doubled
    assert(state(path) === Map(1L -> (5L, 1.5), 2L -> (2L, 2.0)))
    MergeStore.merge(spark, path, changes(), "k", 1)
    assert(rows(path) === Seq((1L, 5L, false, 1.5), (2L, 2L, false, 2.0)))
    assert(debris(path).isEmpty)
  }

  test("a purge whose roll-forward rename fails heals to its purge") {
    val path = FalseRenameFs.dir("msrn") + "/t"
    MergeStore.merge(spark, path, changes((1L, 1L, false, 1.0),
      (2L, 2L, false, 2.0), (2L, 3L, true, 0.0), (3L, 4L, false, 3.0)),
      "k", 2)
    intercept[java.io.IOException](refuseRollForward(
      MergeStore.purgeTombstones(spark, path)))
    assert(debris(path).exists(_.startsWith("_PURGE.")))
    assert(MergeStore.read(spark, path).count() === 2L)
    MergeStore.merge(spark, path, changes(), "k", 2)
    assert(rows(path) === Seq((1L, 1L, false, 1.0), (3L, 4L, false, 3.0)))
    assert(debris(path).isEmpty)
  }
}
