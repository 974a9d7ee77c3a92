package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one Parquet read idiom: a `spark.read…parquet(…)` without a
  * `.schema(…)` makes Spark infer the schema with a one-task job on every
  * open, so outside `core/Fs.scala` a source is opened through
  * `Fs.readParquet`/`Fs.readParquetUnder` (or under a declared schema).
  */
class SchemaLessReadGuardSpec extends AnyFunSuite {

  /** `file:line` sites allowed to read Parquet without a schema. */
  private val allowed = Set.empty[String]

  private val exempt = Paths.get("graft", "core", "Fs.scala")

  /** Source with comments and string literal contents blanked (newlines
    * kept), so neither can fake or hide a call.
    */
  private def codeOnly(src: String): String = {
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

  private val ParquetCall = """\.parquet\s*\(""".r
  private val Stage = """\.(readStream|writeStream|read|write)\b""".r

  /** 1-based lines of schema-less Parquet reads in one source: for each
    * `.parquet(` the receiver chain is walked back to its start, and the
    * call is a read when the chain's last `.read`/`.write` is a read. A
    * read passes only with a `.schema(` after that `.read`; a chain with
    * neither (a reader held in a variable) cannot be checked and fails.
    */
  def schemaLessReads(src: String): Seq[Int] = {
    val code = codeOnly(src)
    ParquetCall.findAllMatchIn(code).toSeq.flatMap { m =>
      var i = m.start - 1
      var depth = 0
      var stop = false
      while (i >= 0 && !stop) {
        code(i) match {
          case ')' | ']' | '}' => depth += 1
          case '(' | '[' | '{' => if (depth == 0) stop = true else depth -= 1
          case '=' | ',' | ';' if depth == 0 => stop = true
          case _ =>
        }
        if (!stop) i -= 1
      }
      val chain = code.substring(i + 1, m.start)
      val checked = Stage.findAllMatchIn(chain).toSeq.lastOption match {
        case Some(s) if s.group(1).startsWith("write") => true
        case Some(s) => chain.indexOf(".schema(", s.end) >= 0
        case None => false
      }
      if (checked) None else Some(code.substring(0, m.start).count(_ == '\n') + 1)
    }
  }

  test("the scanner tells schema-less reads from declared ones and writes") {
    val flagged = Seq(
      "val a = spark.read.parquet(p)",
      "spark.read\n  .option(\"basePath\", b)\n  .parquet(p: _*)",
      "f(s.read.option(\"k\", g(x)).parquet(p))",
      "val r = spark.read; r.parquet(p)",
      "x.coalesce(1).write.parquet(q); spark.read.parquet(p)",
      "spark.read.schema(st).parquet(a)\nspark.read.parquet(b)")
    val passed = Seq(
      "spark.read.schema(st).parquet(p)",
      "spark.read.schema(\n  a.add(\"d\", DateType))\n  .parquet(p)",
      "spark.readStream.schema(st)\n  .option(\"m\", 4).parquet(dir)",
      "df.write.mode(\"overwrite\").partitionBy(\"d\")\n  .parquet(out)",
      "spark.read.schema(st).parquet(a).coalesce(2)\n  .write.parquet(b)",
      "Fs.readParquet(spark, p)",
      "// spark.read.parquet(p)\n/* spark.read.parquet(q) */ val s = \"read.parquet(\"")
    flagged.foreach(s => assert(schemaLessReads(s).nonEmpty, s))
    passed.foreach(s => assert(schemaLessReads(s).isEmpty, s))
    assert(schemaLessReads("val x = 1\nval d = spark.read.parquet(p)") === Seq(2))
  }

  test("src/main reads Parquet without a schema only through core/Fs") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100)
    val found = files.filterNot(_.endsWith(exempt)).flatMap { f: Path =>
      val rel = root.relativize(f).toString
      schemaLessReads(new String(Files.readAllBytes(f), "UTF-8"))
        .map(line => s"$rel:$line")
    }.filterNot(allowed)
    assert(found.isEmpty, "schema-less Parquet reads (open them with " +
      "Fs.readParquet or declare a schema):\n" + found.mkString("\n"))
  }
}
