package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SpanScrubSpec extends SparkSpec {

  private def row(df: org.apache.spark.sql.DataFrame, id: Long) =
    df.filter(col("doc_id") === id).head()

  test("later occurrences of a tile are deleted, remainder re-stitched") {
    import spark.implicits._
    // tile size 3: doc 1 = [A][B], doc 2 repeats tile A then unique C,
    // doc 3 = A B again entirely → scrubs to empty
    val docs = Seq(
      (1L, "a b c d e f"),              // tiles: "a b c", "d e f"
      (2L, "a b c x y z"),              // "a b c" dup → "x y z"
      (3L, "a b c d e f"),              // both dup → ""
      (4L, "tail one two three fo")     // 5 words: ["tail one two","three fo"]
    ).toDF("doc_id", "text")
    val out = SpanScrub.scrub(docs, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(row(SpanScrub.scrub(docs, "doc_id", "text", 3), 1L)
      .getAs[String]("scrubbed_text") === "a b c d e f")
    assert(out.map(_.getAs[String]("scrubbed_text")).toSeq ===
      Seq("a b c d e f", "x y z", "", "tail one two three fo"))
    assert(out.map(_.getAs[Long]("n_removed")).toSeq === Seq(0L, 1L, 2L, 0L))
    assert(out.map(_.getAs[Long]("n_tiles")).toSeq === Seq(2L, 2L, 2L, 2L))
  }

  test("within-document repetition: only the first copy survives") {
    import spark.implicits._
    val docs = Seq((7L, "p q r p q r p q r")).toDF("doc_id", "text")
    val out = SpanScrub.scrub(docs, "doc_id", "text", 3).head()
    assert(out.getAs[String]("scrubbed_text") === "p q r")
    assert(out.getAs[Long]("n_removed") === 2L)
  }

  test("incremental ledger ≡ one-shot scrub, and the ledger only grows by novel tiles") {
    import spark.implicits._
    val docs = graft.queries.tbl(spark, sf(), "documents")
      .select("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("scrub_ledger").toString + "/ledger"
    val b1 = docs.filter(col("doc_id") < 200)
    val b2 = docs.filter(col("doc_id") >= 200)
    val inc1 = SpanScrub.scrubIncremental(b1, "doc_id", "text", 12, path)
    val ledgerAfter1 = spark.read.parquet(path).count()
    val inc2 = SpanScrub.scrubIncremental(b2, "doc_id", "text", 12, path)
    val got = inc1.unionByName(inc2).orderBy("doc_id").collect()
    val want = SpanScrub.scrub(docs, "doc_id", "text", 12)
      .orderBy("doc_id").collect()
    assert(got.toSeq === want.toSeq)
    // ledger holds exactly the distinct tile hashes of the corpus
    val ledger = spark.read.parquet(path)
    assert(ledger.count() === ledger.distinct().count())
    assert(ledger.count() > ledgerAfter1)
    // a replayed batch scrubs to nothing new: every tile is a ledger hit
    val replay = SpanScrub.scrubIncremental(b1, "doc_id", "text", 12, path)
    assert(replay.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.length(col("scrubbed_text"))))
      .head().getLong(0) === 0L)
    assert(spark.read.parquet(path).count() === ledger.count())
  }

  test("two concurrent incremental batches lose no ledger append") {
    // the old write.mode("append") path shared `ledger/_temporary`
    // between concurrent appenders — one could delete the other's
    // in-flight task output. The staged unique-dir append
    // (Fs.stagedAppend) removes the shared path; this test runs two
    // batches GENUINELY concurrently (same pattern as Bm25Spec) and
    // proves no append is lost: a replay of both batches afterwards
    // must find every one of its tiles already in the ledger.
    val docs = graft.queries.tbl(spark, sf(), "documents")
      .select("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("scrub_ledger_conc").toString + "/ledger"
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    SpanScrub.scrubIncremental(b0, "doc_id", "text", 12, path)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(b1, b2).map(b => Future {
      SpanScrub.scrubIncremental(b, "doc_id", "text", 12, path)
    })), 5.minutes)

    // every corpus tile hash is in the ledger — a lost append would
    // leave b1's or b2's novel hashes missing and the replay would
    // keep (re-emit) those tiles instead of scrubbing them
    val replay = SpanScrub
      .scrubIncremental(b1.unionByName(b2), "doc_id", "text", 12, path)
    assert(replay.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.length(col("scrubbed_text"))))
      .head().getLong(0) === 0L)
    // no staging residue left beside the ledger, and the ledger is
    // non-trivially populated
    val parent = new java.io.File(path).getParentFile
    assert(!parent.listFiles().exists(_.getName.startsWith(".staging-")))
    assert(spark.read.parquet(path).count() > 0)
  }

  test("ledger compaction folds files + replay duplicates, answers unchanged") {
    val docs = graft.queries.tbl(spark, sf(), "documents")
      .select("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("scrub_ledger_cmp").toString + "/ledger"
    val b1 = docs.filter(col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150)
    SpanScrub.scrubIncremental(b1, "doc_id", "text", 12, path)
    SpanScrub.scrubIncremental(b2, "doc_id", "text", 12, path)
    // simulate a crash-replayed append: duplicate hashes in the ledger
    val dup = spark.read.parquet(path).limit(5)
    graft.core.Fs.stagedAppend(dup, Nil, path)
    val before = spark.read.parquet(path)
    val distinctBefore = before.distinct().count()
    assert(before.count() > distinctBefore) // dups really present

    val report = SpanScrub.compactLedger(spark, path).get
    assert(report.filesBefore > report.filesAfter)
    val after = spark.read.parquet(path)
    // set semantics preserved exactly; physical dups gone
    assert(after.count() === distinctBefore)
    assert(after.count() === after.distinct().count())
    // a replay of the whole corpus still scrubs to nothing new
    val replay = SpanScrub.scrubIncremental(docs, "doc_id", "text", 12, path)
    assert(replay.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.length(col("scrubbed_text"))))
      .head().getLong(0) === 0L)
    // missing ledger → None, not a crash
    assert(SpanScrub.compactLedger(spark, path + "_nope").isEmpty)
  }

  test("result is partition-count invariant and window-free") {
    val docs = graft.queries.tbl(spark, sf(), "documents")
      .select("doc_id", "text")
    val a = SpanScrub.scrub(docs, "doc_id", "text", 12)
      .orderBy("doc_id").collect()
    val b = SpanScrub.scrub(docs.repartition(13), "doc_id", "text", 12)
      .orderBy("doc_id").collect()
    assert(a.nonEmpty)
    assert(a.toSeq === b.toSeq)
    // first-occurrence resolution must be the skew-safe agg+join, not a
    // per-hash row_number window (a boilerplate tile would serialize on
    // one window task)
    val plan = SpanScrub.scrub(docs, "doc_id", "text", 12)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
  }
}
