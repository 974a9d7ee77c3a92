package graft.ingest

import java.lang.StringBuilder

import scala.collection.immutable.ListMap

/** Minimal deterministic JSON writer for payload construction.
  *
  * Mirrors the reference's serialization fallback chain
  * (logger.py:103-166 `_serialize_any` / `_safe_json_dumps`): structured
  * values serialize structurally; anything unrecognized falls back to its
  * string form rather than failing — an event must never be lost to a
  * serialization error. Key order is insertion order (ListMap/Seq), so
  * payload bytes are deterministic for testing and hashing.
  *
  * Hand-rolled (~60 LoC) rather than depending on a JSON library so the
  * escape rules and key ordering are pinned — payload JSON fidelity is the
  * #1 hard part (SURVEY §7.4).
  */
object Json {

  /** A JSON object with preserved key order. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def write(v: Any): String = {
    val sb = new StringBuilder(64)
    any(sb, v)
    sb.toString()
  }

  /** Appends `v`'s JSON to `sb`: the walk behind [[write]], for callers
    * that write a fixed frame around generic values.
    */
  private[ingest] def any(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case None => sb.append("null")
    case Some(x) => any(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(if (b) "true" else "false")
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(sb, d.toString)
      else if (d == d.floor && math.abs(d) < 1e15) sb.append(d.toLong)
      else sb.append(d)
    case f: Float => any(sb, f.toDouble)
    case b: BigDecimal => sb.append(b.toString)
    case m: collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, String.valueOf(k))
        sb.append(':')
        any(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        any(sb, x)
      }
      sb.append(']')
    case xs: Array[_] => any(sb, xs.toSeq)
    case e: Throwable =>
      // error-info struct, mirroring _add_error_info (logger.py:189-194)
      any(sb, obj("message" -> e.getMessage, "type" -> e.getClass.getSimpleName))
    case other =>
      // final fallback: stringify, like _safe_json_dumps default=str
      str(sb, other.toString)
  }

  /** Appends `s` as a JSON string literal, or `null` for null. Each run of
    * chars that needs no escape is copied with one bulk append; only `"`,
    * `\` and chars below U+0020 are escaped (short forms where JSON has
    * one, else lowercase `\u00xx`).
    */
  private[ingest] def str(sb: StringBuilder, s: String): Unit =
    if (s == null) sb.append("null")
    else {
      sb.append('"')
      var from = 0
      var i = 0
      val n = s.length
      while (i < n) {
        val c = s.charAt(i)
        if (c < ' ' || c == '"' || c == '\\') {
          sb.append(s, from, i)
          c match {
            case '"' => sb.append("\\\"")
            case '\\' => sb.append("\\\\")
            case '\n' => sb.append("\\n")
            case '\r' => sb.append("\\r")
            case '\t' => sb.append("\\t")
            case '\b' => sb.append("\\b")
            case '\f' => sb.append("\\f")
            case _ =>
              sb.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
          }
          from = i + 1
        }
        i += 1
      }
      sb.append(s, from, n).append('"')
    }

  private val Hex = "0123456789abcdef".toCharArray
}
