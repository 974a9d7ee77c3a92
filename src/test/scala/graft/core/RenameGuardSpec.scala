package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one commit protocol: a store that swaps files in with its
  * own `rename` grows its own commit and heal, so outside `core/Fs.scala`
  * and `core/Commit.scala` a rewrite goes through [[Commit]]. The
  * allow-list names the two renames that are not file swaps, by file and
  * enclosing `def`.
  */
class RenameGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    // the lease steal: a stale claim is renamed aside and checked
    "graft/ops/ClusteredStore.scala#breakStaleClaim",
    // the compacted batch dir's `_COMMITTED` marker publication
    "graft/streaming/IdempotentSink.scala#compactCommitted")

  private val exempt = Set("graft/core/Fs.scala", "graft/core/Commit.scala")

  private val RenameCall = """\b(rename|renameOrThrow)\s*\(""".r
  private val Def = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** (1-based line, enclosing `def`) of every rename call in one source;
    * the enclosing def is the last `def` before the call ("" if none).
    */
  def renameSites(src: String): Seq[(Int, String)] = {
    val code = SourceScan.codeOnly(src)
    RenameCall.findAllMatchIn(code).toSeq.map { m =>
      val before = code.substring(0, m.start)
      (before.count(_ == '\n') + 1,
        Def.findAllMatchIn(before).toSeq.lastOption.fold("")(_.group(1)))
    }
  }

  test("the scanner finds rename calls and their def, not comments, " +
    "strings or other names") {
    val src = Seq(
      "def swap(fs: FileSystem) = {",
      "  fs.rename(a, b)",
      "  Fs.renameOrThrow (fs, a, b)",
      "}",
      "def other() = {",
      "  // fs.rename(a, b)",
      "  val s = s\"rename($dir) failed\"",
      "  Commit.renameStaged(spark, a, b); renameColumn(x)",
      "  /* fs.rename(a, b) */ fs.rename(c, d)",
      "}").mkString("\n")
    assert(renameSites(src) === Seq((2, "swap"), (3, "swap"), (9, "other")))
    assert(renameSites("fs.rename(a, b)") === Seq((1, "")))
  }

  test("src/main renames files only in core/Fs and core/Commit") {
    val sites = SourceScan.mainSources().filterNot(f => exempt(f._1))
      .flatMap { case (rel, src) =>
        renameSites(src).map { case (line, d) => (s"$rel#$d", line) }
      }
    val found = sites.filterNot(s => allowed(s._1))
    assert(found.isEmpty, "renames outside core/Fs and core/Commit (go " +
      "through graft.core.Commit):\n" +
      found.map { case (site, line) => s"$site (line $line)" }.mkString("\n"))
    assert(sites.map(_._1).toSet === allowed,
      "an allow-listed site no longer renames: drop it from the list")
  }
}
