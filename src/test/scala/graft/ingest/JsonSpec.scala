package graft.ingest

import java.time.Instant
import java.time.format.DateTimeFormatter

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("primitives and order-preserving objects") {
    assert(Json.write(Json.obj("b" -> 1, "a" -> "x")) === """{"b":1,"a":"x"}""")
    assert(Json.write(Seq(1, "two", true, null)) === """[1,"two",true,null]""")
    assert(Json.write(None) === "null")
    assert(Json.write(Some(2L)) === "2")
    assert(Json.write(3.5) === "3.5")
    assert(Json.write(4.0) === "4") // integral doubles stay integral
  }

  test("string escaping covers control chars") {
    assert(Json.write("a\"b\\c\nd") === "\"a\\\"b\\\\c\\nd\\u0001\"")
  }

  test("fallback chain: throwable and arbitrary objects never fail") {
    // mirrors _safe_json_dumps fallback (reference logger.py:152-166)
    assert(Json.write(new RuntimeException("boom")) ===
      """{"message":"boom","type":"RuntimeException"}""")
    final class Opaque { override def toString = "opaque-1" }
    assert(Json.write(new Opaque) === "\"opaque-1\"")
  }

  test("nested maps and sequences") {
    val payload = Json.obj(
      "execution" -> Json.obj("tags" -> Seq("t1", "t2"), "metadata" -> Map.empty),
      "data" -> Json.obj("usage" -> Json.obj("total_tokens" -> 10)))
    assert(Json.write(payload) ===
      """{"execution":{"tags":["t1","t2"],"metadata":{}},"data":{"usage":{"total_tokens":10}}}""")
  }

  /** A char-by-char escaper: the reference the property below holds the
    * writer's bulk-append scan to.
    */
  private def referenceStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  test("string escaping equals a char-by-char reference on random strings") {
    val char = Gen.frequency(
      8 -> Gen.choose(0, 0xff).map(i => i.toChar.toString),
      1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))),
      1 -> Gen.const("\u2028"))
    val text = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, char))
      .map(_.mkString)
    val samples = (0 until 2000)
      .flatMap(i => text.apply(Gen.Parameters.default, Seed(7L + i)))
    assert(samples.exists(_.exists(_ < ' ')))
    samples.foreach { s =>
      assert(Json.write(s) === referenceStr(s), s.map(_.toInt))
      assert(Json.write(Seq(s, Map(s -> s))) ===
        s"[${referenceStr(s)},{${referenceStr(s)}:${referenceStr(s)}}]")
    }
  }

  test("a value whose toString calls Json.write serializes inside a write") {
    final class Nested(depth: Int) {
      override def toString: String =
        if (depth == 0) Json.write("leaf\n")
        else Json.write(Json.obj("d" -> depth, "in" -> new Nested(depth - 1)))
    }
    assert(Json.write(Seq("a", new Nested(0), "b")) ===
      """["a","\"leaf\\n\"","b"]""")
    assert(Json.write(Json.obj("x" -> new Nested(1))) ===
      """{"x":"{\"d\":1,\"in\":\"\\\"leaf\\\\n\\\"\"}"}""")
  }

  test("the cached ISO second prints what ISO_INSTANT prints") {
    def iso(us: Long) = DateTimeFormatter.ISO_INSTANT.format(
      Instant.ofEpochSecond(us / 1000000, (us % 1000000) * 1000))
    def cached(us: Long) = {
      val sb = new java.lang.StringBuilder
      IsoMicros.appendTo(sb, us)
      sb.toString
    }
    val rnd = new scala.util.Random(17)
    val wholeSeconds = Seq(0L, 1700000000L, -1L, -86400L, 253402300800L)
      .map(_ * 1000000L)
    val wholeMillis = Seq(1L, 999L, -1L, -999L, 1700000000123L, -1500L)
      .map(_ * 1000L)
    val arbitrary = Seq(1L, 999999L, 1700000000123456L, 1700000000000010L) ++
      Seq.fill(500)(rnd.nextLong() % 4000000000000000000L)
    val negative = Seq(-1L, -999999L, -1000001L, -1500000L, -123456789L)
    (wholeSeconds ++ wholeMillis ++ arbitrary ++ negative ++
      arbitrary.map(_ / 1000 * 1000) ++ arbitrary.map(_ / 1000000 * 1000000))
      .foreach(us => assert(cached(us) === iso(us), us))
    // the same second again, and seconds alternating, hit the slot
    assert(cached(1700000000000001L) === "2023-11-14T22:13:20.000001Z")
    assert(cached(1700000000500000L) === "2023-11-14T22:13:20.500Z")
    assert(cached(-1L) === "1969-12-31T23:59:59.999999Z")
    assert(cached(1700000000000000L) === "2023-11-14T22:13:20Z")
  }
}
