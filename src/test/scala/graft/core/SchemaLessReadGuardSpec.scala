package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one Parquet read idiom: a `spark.read…parquet(…)` without a
  * `.schema(…)` makes Spark infer the schema with a one-task job on every
  * open, so outside `core/Fs.scala` a source is opened through
  * `Fs.readParquet`/`Fs.readParquetUnder` (or under a declared schema).
  */
class SchemaLessReadGuardSpec extends AnyFunSuite {

  /** `file:line` sites allowed to read Parquet without a schema. */
  private val allowed = Set.empty[String]

  private val exempt = "graft/core/Fs.scala"

  private val ParquetCall = """\.parquet\s*\(""".r
  private val Stage = """\.(readStream|writeStream|read|write)\b""".r

  /** 1-based lines of schema-less Parquet reads in one source: for each
    * `.parquet(` the receiver chain is walked back to its start, and the
    * call is a read when the chain's last `.read`/`.write` is a read. A
    * read passes only with a `.schema(` after that `.read`; a chain with
    * neither (a reader held in a variable) cannot be checked and fails.
    */
  def schemaLessReads(src: String): Seq[Int] = {
    val code = SourceScan.codeOnly(src)
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
    val found = SourceScan.mainSources().filterNot(_._1 == exempt)
      .flatMap { case (rel, src) =>
        schemaLessReads(src).map(line => s"$rel:$line")
      }.filterNot(allowed)
    assert(found.isEmpty, "schema-less Parquet reads (open them with " +
      "Fs.readParquet or declare a schema):\n" + found.mkString("\n"))
  }
}
