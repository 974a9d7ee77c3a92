package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

import graft.queries.{Q, Registry}

/** Closed loop, one client: headline Registry queries over the generated
  * tables, each fully materialized through the `noop` sink as `graft.Bench`
  * does. Passes run in a seed-shuffled order as long as they fit in the
  * run's seconds (at least two); a query's wall is its median over passes.
  *
  * Each `prepare` regenerates the tables into a fresh directory. The
  * warm-up then runs every query once untimed, collecting its output: that
  * pass builds the fixtures the timed passes read, and its outputs are the
  * ones checked against the stored golden hashes. One more untimed pass
  * through the `noop` sink follows.
  */
final class Queries(ctx: Ctx) extends Workload {
  import ctx._

  private val queries: Seq[Q] = opts("queries").split(',').toSeq.map(n =>
    Registry.all.find(_.name == n).getOrElse(sys.error(s"no query $n")))
  private var data: String = _
  /** A median over one pass would be one sample; a slow run still gets two. */
  private val MinPasses = 2
  private var hashes = Map.empty[String, String]
  private var errors = Map.empty[String, String]

  override def prepare(rep: Int): Unit = {
    if (data != null) graft.core.Fs.delete(spark, data)
    data = dir(s"data-$rep")
    Tables.write(spark, data)
  }

  override def warm(): Unit = {
    val results = queries.map { q =>
      val r = try Right(Queries.hash(q.spark(spark, data)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      spark.catalog.clearCache()
      q.name -> r
    }
    hashes = results.collect { case (n, Right(h)) => n -> h }.toMap
    errors = results.collect { case (n, Left(m)) => n -> m.take(300) }.toMap
    // the timed passes write through the noop sink, whose code paths the
    // collecting pass does not warm: without this pass the first timed
    // pass ran 20-30% slower than the next ones
    queries.foreach { q =>
      try noop(q) catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
  }

  private def noop(q: Q): Unit =
    q.spark(spark, data).write.format("noop").mode("overwrite").save()

  override def run(out: Report): Unit = {
    val walls = queries.map(_.name -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var failed = 0
    var attempted = 0
    val passSums = window {
      val t0 = System.nanoTime()
      val sums = scala.collection.mutable.ArrayBuffer.empty[Double]
      var pass = 0
      // a pass starts only if one more, as long as the last, still ends
      // inside the window
      while (pass < MinPasses ||
          (System.nanoTime() - t0) / 1e9 + sums.last <= seconds) {
        val order = new scala.util.Random(seed * 7919 + pass).shuffle(queries)
        sums += order.map { q =>
          attempted += 1
          val q0 = System.nanoTime()
          try tracer.span(s"q.${q.name}", s"pass-$pass") {
            noop(q)
          } catch { case _: Throwable => failed += 1 }
          val s = (System.nanoTime() - q0) / 1e9
          spark.catalog.clearCache()
          walls(q.name) += s
          s
        }.sum
        pass += 1
      }
      sums
    }
    out.bool("correct", errors.isEmpty)
    out.strs("failed_checks", errors.map { case (n, m) => s"$n: $m" })
    out.int("attempted", attempted)
    out.int("failed", failed)
    out.int("passes", passSums.size)
    out.nums("pass_s", passSums)
    out.raw("query_s", walls.map { case (n, w) =>
      s"${Report.str(n)}:${w.map(Report.num).mkString("[", ",", "]")}" }.mkString("{", ",", "}"))
    out.raw("hashes", hashes.map { case (n, h) =>
      s"${Report.str(n)}:${Report.str(h)}" }.mkString("{", ",", "}"))
  }
}

object Queries {
  /** Order-insensitive hash of a query's output: the schema, the row count
    * and the 64-bit sum of per-row hashes of a canonical rendering.
    */
  def hash(df: DataFrame): String = {
    val rows = df.collect()
    val sum = rows.foldLeft(0L)((acc, r) => acc + rowHash(r))
    f"${df.schema.simpleString.hashCode}%08x-${rows.length}-$sum%016x"
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 17).toLong << 32) |
      (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "~"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
