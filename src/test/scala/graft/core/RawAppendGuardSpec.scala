package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one append idiom: a raw `mode("append")` write shares
  * `dir/_temporary` with every concurrent appender and can leave a
  * failed job's partial files in `dir`, so outside `core/Fs.scala` a
  * store directory is appended to through [[Fs.stagedAppend]] (or a sink
  * built on it). The allow-list names the one raw append that writes
  * generated input, not a store.
  */
class RawAppendGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    // writes the example's generated input files
    "graft/examples/StreamingCurationPipeline.scala")

  private val exempt = "graft/core/Fs.scala"

  private val ModeCall = """(?<![A-Za-z0-9_])mode\s*\(\s*"""".r
  private val SaveModeAppend = """\bSaveMode\s*\.\s*Append\b""".r

  /** 1-based lines of every append-mode write in one source. String
    * contents are blanked in the scanned code, so a `mode("...")`
    * literal is read back from the raw source at the same offset.
    */
  def appendSites(src: String): Seq[Int] = {
    val code = SourceScan.codeOnly(src)
    val modes = ModeCall.findAllMatchIn(code).filter { m =>
      val close = src.indexOf('"', m.end)
      close > 0 && src.substring(m.end, close).equalsIgnoreCase("append")
    }.map(_.start)
    val saveModes = SaveModeAppend.findAllMatchIn(code).map(_.start)
    (modes ++ saveModes).toSeq.sorted
      .map(at => code.substring(0, at).count(_ == '\n') + 1)
  }

  test("the scanner finds append-mode writes, not comments, strings, " +
    "other modes or streaming output modes") {
    val src = Seq(
      "df.write.mode(\"append\").parquet(p)",
      "df.write.mode( \"Append\" ).parquet(p)",
      "df.write.mode(SaveMode.Append).parquet(p)",
      "// df.write.mode(\"append\")",
      "val s = \"mode(\\\"append\\\")\"",
      "df.write.mode(\"overwrite\").parquet(p)",
      "stream.writeStream.outputMode(\"append\").start()",
      "/* df.write.mode(\"append\") */ x.mode(\"append\")").mkString("\n")
    assert(appendSites(src) === Seq(1, 2, 3, 8))
  }

  test("src/main appends to store directories only through Fs") {
    val sites = SourceScan.mainSources().filterNot(_._1 == exempt)
      .flatMap { case (rel, src) => appendSites(src).map(rel -> _) }
    val found = sites.filterNot(s => allowed(s._1))
    assert(found.isEmpty, "raw append-mode writes outside core/Fs (go " +
      "through graft.core.Fs.stagedAppend):\n" +
      found.map { case (rel, line) => s"$rel (line $line)" }.mkString("\n"))
    assert(sites.map(_._1).toSet === allowed,
      "an allow-listed file no longer appends raw: drop it from the list")
  }
}
