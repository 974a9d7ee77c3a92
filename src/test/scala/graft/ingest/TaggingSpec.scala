package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ExtractCustomId

class TaggingSpec extends SparkSpec {

  test("withTags merges and extends (reference tests/test_core.py:243-295)") {
    val cfg = Tagging.withTags("42", Some("batch run"),
      existingTags = Seq("keep"), additionalTags = Seq("extra"))
    assert(cfg("tags") === Seq("keep", "extra",
      "logger_custom_id:42", "custom_id_description:batch run"))
    val replaced = Tagging.withTags("42", existingTags = Seq("keep"),
      extend = false)
    assert(replaced("tags") === Seq("logger_custom_id:42"))
  }

  test("extractCustomId scalar (reference tests/test_core.py:224-240)") {
    assert(Tagging.extractCustomId(Seq("x", "logger_custom_id:abc")) === "abc")
    assert(Tagging.extractCustomId(Seq("x")) === "")
    assert(Tagging.extractCustomId(Nil) === "")
  }

  test("a null tag is skipped, not thrown on: scalar and callback path") {
    assert(Tagging.extractCustomId(Seq(null, "logger_custom_id:x")) === "x")
    import spark.implicits._
    val col = Seq(Tuple1(Seq(null, "logger_custom_id:x"))).toDF("tags")
      .select(Tagging.extractCustomIdCol($"tags")).as[String].head()
    assert(col === "x", "the scalar and columnar forms agree")
    val sink = new graft.batch.CollectingSink
    new ParquetLogger(sink, graft.core.EventType.All)
      .onChainEnd("x", "r1", tags = Seq(null, "x"))
    assert(sink.entries.size === 1, "the event must land, not be lost")
  }

  test("ExtractCustomId expression: eval, codegen, null safety") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "logger_custom_id:one")),
      (2L, Seq("none-here")),
      (3L, Seq.empty[String]),
      (4L, null.asInstanceOf[Seq[String]])
    ).toDF("id", "tags")
    val out = df.select($"id", ExtractCustomId($"tags").as("cid"))
      .orderBy("id").collect().map(r => r.getString(1))
    assert(out === Array("one", "", "", ""))

    // whole-stage codegen path actually exercised (no fallback) — force a
    // non-local plan (LocalTableScan bypasses codegen entirely) and read
    // the AQE final plan post-execution
    val qdf = df.repartition(2).select(ExtractCustomId($"tags"))
    qdf.collect()
    val plan = qdf.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen stage in plan rendering
    assert(plan.contains("*(1) Project [extract_custom_id"), plan)
  }

  test("columnar tag construction round-trips through the expression") {
    import spark.implicits._
    val df = Seq((7L, Seq("env:prod"))).toDF("id", "tags")
    val out = df.select(
      ExtractCustomId(Tagging.withCustomIdTag($"tags", $"id")).as("cid"))
      .head().getString(0)
    assert(out === "7")
  }
}
