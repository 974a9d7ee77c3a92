package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.core.Fs

/** Testdata schema-contract gate: reads every table in a testdata dir and
  * asserts the engine's ACCEPTED shapes, failing loudly with a diff when
  * the driver regenerates the data with a new physical schema.
  *
  * Motivation (round 5): the driver silently regenerated `/root/testdata`
  * with `events.ts` as TIMESTAMP(MICROS) instead of TIMESTAMP(NANOS);
  * every long-arithmetic ts site failed analysis and the regression cost a
  * full round. This runner turns the same drift into a minutes-to-diagnose
  * start-of-round signal. The engine itself is type-adaptive
  * ([[graft.queries.normalizeTs]] accepts ns-long OR µs-timestamp/NTZ) —
  * the gate exists so the NEXT unexpected shape (string ts, int32 ids,
  * renamed column) is caught before any query runs.
  *
  * Usage: runMain graft.tools.SchemaContract [sfDir...]
  * (default: all three /root/testdata SFs). Exits non-zero on violation.
  */
object SchemaContract {

  /** Column contracts per table: name → set of accepted Spark types.
    * Only the columns the engine's queries actually depend on are pinned;
    * extra/auxiliary columns are allowed to drift freely.
    */
  private val longLike: Set[DataType] = Set(LongType, IntegerType)
  private val tsLike: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType) // ns-long or µs-timestamp
  private val textLike: Set[DataType] = Set(StringType)
  private val doubleLike: Set[DataType] = Set(DoubleType, FloatType)
  // the driver has shipped date columns as DATE and as (NTZ) timestamps;
  // date_trunc/comparison sites accept all of these
  private val dateLike: Set[DataType] =
    Set(DateType, StringType, TimestampType, TimestampNTZType)

  private val contract: Map[String, Map[String, Set[DataType]]] = Map(
    "events" -> Map(
      "event_id" -> longLike, "user_id" -> longLike, "ts" -> tsLike,
      "event_type" -> textLike, "value" -> doubleLike, "props" -> textLike),
    "documents" -> Map(
      "doc_id" -> longLike, "text" -> textLike, "lang" -> textLike,
      "source" -> textLike),
    "embeddings" -> Map(
      // label has shipped as STRING and as INT; grouping sites accept both
      "vec_id" -> longLike, "label" -> (textLike ++ longLike),
      "embedding" -> Set(ArrayType(FloatType, true),
        ArrayType(FloatType, false), ArrayType(DoubleType, true),
        ArrayType(DoubleType, false))),
    "lineitem" -> Map(
      "l_orderkey" -> longLike, "l_quantity" -> doubleLike,
      "l_extendedprice" -> doubleLike, "l_discount" -> doubleLike,
      "l_returnflag" -> textLike, "l_shipdate" -> dateLike),
    "orders" -> Map(
      "o_orderkey" -> longLike, "o_custkey" -> longLike,
      "o_totalprice" -> doubleLike, "o_orderdate" -> dateLike),
    "customer" -> Map("c_custkey" -> longLike, "c_nationkey" -> longLike),
    "supplier" -> Map("s_suppkey" -> longLike, "s_nationkey" -> longLike),
    "part" -> Map("p_partkey" -> longLike, "p_brand" -> textLike),
    "nation" -> Map("n_nationkey" -> longLike, "n_regionkey" -> longLike),
    "region" -> Map("r_regionkey" -> longLike)
  )

  /** Returns violation strings for one testdata dir (empty = clean). */
  def check(spark: SparkSession, dir: String): Seq[String] =
    contract.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val path = s"$dir/$table.parquet"
      if (!graft.core.Fs.exists(spark, path))
        Seq(s"$dir: table $table MISSING")
      else {
        // same read config as graft.queries.tbl — the gate must see the
        // same post-flag schema the engine sees
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val schema = Fs.parquetSchema(spark, path)
        cols.toSeq.sortBy(_._1).flatMap { case (col, accepted) =>
          schema.fields.find(_.name == col) match {
            case None =>
              Some(s"$dir/$table: column `$col` MISSING " +
                s"(have: ${schema.fieldNames.mkString(", ")})")
            case Some(f) if !accepted.contains(f.dataType) =>
              Some(s"$dir/$table: column `$col` is ${f.dataType.sql}, " +
                s"accepted: ${accepted.map(_.sql).mkString(" | ")}")
            case _ => None
          }
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val violations = dirs.flatMap(check(spark, _))
    violations.foreach(v => System.err.println(s"SCHEMA-CONTRACT FAIL $v"))
    val tsTypes = dirs.map { d =>
      val t = Fs.parquetSchema(spark, s"$d/events.parquet")
        .find(_.name == "ts").map(_.dataType.sql).getOrElse("MISSING")
      s""""$d":"$t""""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"schema_contract","dirs":${dirs.length},""" +
      s""""violations":${violations.length},"events_ts":$tsTypes}""")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
