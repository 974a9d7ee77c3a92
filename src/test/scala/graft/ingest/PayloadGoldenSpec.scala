package graft.ingest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.CollectingSink
import graft.core.{EventType, FixedClock}

/** Pins the exact bytes `ParquetLogger` writes for every callback (E1–E12)
  * and the synthetic `logEvent`, over inputs that exercise every escape
  * and fallback of the payload writer. The expected rows in
  * `payload_golden.txt` were captured from a builder that put the whole
  * payload in nested maps and walked them with `Json.write`, so they
  * hold the envelope writer, the escaping and the ISO timestamp to those
  * bytes.
  */
class PayloadGoldenSpec extends AnyFunSuite {

  test("every callback's row matches the golden bytes") {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("payload_golden.txt"), "UTF-8")
    val expected = try src.getLines().toVector finally src.close()
    val actual = PayloadGolden.lines()
    assert(actual.size === expected.size)
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a === e, s"row $i")
    }
  }
}

object PayloadGolden {

  /** A value whose string form is itself written by [[Json.write]]. */
  final class Reentrant {
    override def toString: String =
      Json.write(Json.obj("inner" -> "q\"\n", "n" -> 1))
  }

  /** Every char below U+0020, the two escaped printables, DEL, a
    * non-BMP emoji, a Latin-1 letter and the line separator.
    */
  val odd: String = (0 until 0x20).map(_.toChar).mkString +
    "\"\\\u007f" + new String(Character.toChars(0x1F600)) + "é\u2028"

  /** One line per landed row: the row's instant, then its string
    * columns, tab-separated (payloads escape their tabs).
    */
  def lines(): Vector[String] = {
    val sink = new CollectingSink // in memory: no Spark session needed
    val clock = FixedClock(1700000000000000L)
    val logger = new ParquetLogger(sink, EventType.All,
      Map("app" -> "golden \"spec\"\n", "version" -> 2, "odd" -> odd), clock)
    // whole second, whole millisecond, arbitrary microsecond, next second
    val steps = Iterator.continually(Seq(0L, 1000L, 123456L, 875544L)).flatten
    def tick(): Unit = clock.advance(steps.next())

    val tags = Seq("t1", Tagging.CustomIdPrefix + "cust-7", "odd" + odd)
    val serialized = Map("_type" -> "openai-chat", "name" -> "qa",
      "description" -> "a tool", "kwargs" -> Map("model_name" -> "gpt-x"))
    tick(); logger.onLlmStart(serialized, Seq("hello", odd), "r-llm",
      Some("r-chain"), tags, Map("m" -> 1.5, "none" -> None),
      Map("invocation_params" -> Map("temperature" -> 0.0),
        "tools" -> Seq("search"), "extra" -> Some(3L)))
    tick(); logger.onChatModelStart(serialized,
      Seq(Seq(Map("role" -> "user", "content" -> odd))), "r-chat",
      None, Nil, Map.empty, Map("invocation_params" -> Map("n" -> 2)))
    tick(); logger.onLlmEnd(Map(
        "generations" -> Seq(Seq(Map("text" -> "out",
          "message" -> Map("response_metadata" -> Map("finish" -> "stop"),
            "usage_metadata" -> Map("total_tokens" -> 9L))))),
        "llm_output" -> Map("model_name" -> "gpt-x",
          "token_usage" -> Map("total_tokens" -> 9L))),
      "r-llm", Some("r-chain"), tags, Map("run_extra" -> true))
    tick(); logger.onLlmError(new RuntimeException("bad \"thing\"\n"),
      "r-llm", Some("r-chain"), tags)
    tick(); logger.onChainStart(serialized,
      Map("question" -> odd, "nan" -> Double.NaN, "inf" -> Double.NegativeInfinity,
        "integral" -> 42.0, "big" -> 1e300, "small" -> -0.25f,
        "dec" -> BigDecimal("12.3400"), "some" -> Some("x"), "none" -> None,
        "null" -> null, "arr" -> Array(1, 2), "char" -> 'c',
        "reentrant" -> new Reentrant),
      "r-chain", None, tags, Map("k" -> Seq(1, 2L, "3")))
    tick(); logger.onChainEnd(Map("answer" -> odd, "n" -> 7), "r-chain",
      tags = tags)
    tick(); logger.onChainError(new IllegalStateException(odd), "r-chain")
    tick(); logger.onToolStart(serialized, odd, "r-tool", Some("r-chain"),
      tags, Map("null" -> null))
    tick(); logger.onToolEnd(Seq(odd, new Reentrant), "r-tool",
      Some("r-chain"))
    tick(); logger.onToolError(new RuntimeException(null: String), "r-tool",
      Some("r-chain"))
    tick(); logger.onAgentAction("search", Map("q" -> odd), "thought\n",
      "r-agent", Some("r-chain"), tags)
    tick(); logger.onAgentFinish(Map("output" -> odd), "done", "r-agent",
      Some("r-chain"), tags)
    tick(); logger.logEvent(EventType.BackgroundRetrievalComplete,
      "resp-1", "cust-\"9\"", Json.obj("response_id" -> "resp-1",
        "usage" -> Json.obj("total_tokens" -> 5), "odd" -> odd))
    tick(); logger.onChainEnd(odd, null, Some(null), tags = Seq("x"))

    sink.entries.map { r =>
      Seq(r.timestamp.toInstant.toString, r.run_id, r.parent_run_id,
        r.custom_id, r.event_type, r.logger_metadata, r.payload)
        .mkString("\t")
    }.toVector
  }
}
