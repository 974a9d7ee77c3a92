package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one generation layout: the names of the streaming
  * pipeline's batch and generation directories, and the fold marker,
  * are spelled only in [[graft.query.Generations]], so no other module
  * grows its own copy of the fold's rules. A string literal holding
  * `_FOLDED`, `gen-`, `batch-` or a `batch=` name built by interpolation
  * fails outside that file; there is no allow-list. The `batch=<id>`
  * directories of [[graft.streaming.IdempotentSink]] are their own
  * protocol, exempt by exact site.
  */
class GenerationLayoutGuardSpec extends AnyFunSuite {

  private val module = "graft/query/Generations.scala"

  /** (file, literal) sites of other protocols that reuse the words. */
  private val exempt = Set(
    "graft/streaming/IdempotentSink.scala" -> "\"$path/batch=$batchId\"")

  // in the scanned code, string contents are blanked to spaces
  private val Literal = "\"\"\"[^\"]*\"\"\"|\"[^\"\n]*\"".r
  private val LayoutWord = """_FOLDED|gen-|batch-|batch=\$""".r

  /** (1-based line, literal as written) of every string literal in one
    * source that spells part of the generation layout.
    */
  def layoutSites(src: String): Seq[(Int, String)] = {
    val code = SourceScan.codeOnly(src)
    Literal.findAllMatchIn(code).toSeq.flatMap { m =>
      val text = src.substring(m.start, m.end)
      LayoutWord.findFirstIn(text)
        .map(_ => (code.substring(0, m.start).count(_ == '\n') + 1, text))
    }
  }

  test("the scanner finds layout words in literals, not in comments, " +
    "code or other names") {
    val src = Seq(
      "val m = \"_FOLDED\"",
      "val d = s\"$dir/src=gen-${n}c\"",
      "lit(s\"batch-$id\") // batch- in a comment",
      "val g = s\"$dir/batch=${n}c\"; val b = s\"$p/batch=$id\"",
      "/* \"_FOLDED\" */ val x = gen - 1",
      "val ok = \"batch=*\"; val no = \"regenerate\"",
      "val t = \"\"\"a \"gen-\" b\"\"\"").mkString("\n")
    assert(layoutSites(src) === Seq(
      1 -> "\"_FOLDED\"",
      2 -> "\"$dir/src=gen-${n}c\"",
      3 -> "\"batch-$id\"",
      4 -> "\"$dir/batch=${n}c\"",
      4 -> "\"$p/batch=$id\"",
      7 -> "\"\"\"a \"gen-\" b\"\"\""))
  }

  test("src/main spells the generation layout only in query/Generations") {
    val sites = SourceScan.mainSources().filterNot(_._1 == module)
      .flatMap { case (rel, src) =>
        layoutSites(src).map { case (line, lit) => (rel, line, lit) }
      }
    val found = sites.filterNot(s => exempt(s._1 -> s._3))
    assert(found.isEmpty, "generation layout spelled outside " +
      s"$module (go through graft.query.Generations):\n" +
      found.map { case (rel, line, lit) => s"$rel (line $line): $lit" }
        .mkString("\n"))
    assert(sites.map(s => s._1 -> s._3).toSet === exempt,
      "an exempt site no longer spells the layout: drop it from the list")
  }
}
