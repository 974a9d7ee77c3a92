package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Shared scanner of the source guards ([[SchemaLessReadGuardSpec]],
  * [[RenameGuardSpec]], [[RawAppendGuardSpec]],
  * [[GenerationLayoutGuardSpec]]).
  */
object SourceScan {

  /** Source with comments and string literal contents blanked (newlines
    * kept), so neither can fake or hide a call.
    */
  def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(c: Char): Unit = out += (if (c == '\n') '\n' else ' ')
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') { blank(src(i)); i += 1 }
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var done = false
        while (i < src.length && !done) {
          if (src.startsWith("/*", i)) { depth += 1; blank(' '); blank(' '); i += 2 }
          else if (src.startsWith("*/", i)) {
            depth -= 1; blank(' '); blank(' '); i += 2; done = depth == 0
          } else { blank(src(i)); i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        out ++= "\"\"\""; i += 3
        while (i < src.length && !src.startsWith("\"\"\"", i)) { blank(src(i)); i += 1 }
        if (i < src.length) { out ++= "\"\"\""; i += 3 }
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { blank(' '); i += 1 }
          blank(src(i)); i += 1
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= "' '"; i += 3 // a char literal such as '(' or '"'
      } else if (src.startsWith("'\\", i) && i + 3 < src.length &&
          src(i + 3) == '\'') {
        out ++= "'  '"; i += 4 // an escaped one such as '\n' or '\''
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Every `.scala` file under `src/main/scala`, as (path relative to
    * that root with `/` separators, source text). Run from the project
    * root.
    */
  def mainSources(): Seq[(String, String)] = {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100)
    files.map(f => root.relativize(f).iterator().asScala.mkString("/") ->
      new String(Files.readAllBytes(f), "UTF-8"))
  }
}
