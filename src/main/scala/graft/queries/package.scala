package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Shared helpers for the oracle-checked query registry.
  *
  * Cross-engine determinism rules (Spark result must hash-match DuckDB):
  *   - Sums of doubles are order-dependent; cast operands to exact decimals
  *     first, round the exact decimal sum, then cast to double. Both engines
  *     then produce bit-identical values.
  *   - Never emit raw timestamps (engines disagree on sub-second rendering
  *     and timezone attachment). Emit `unix_micros`/`epoch_us` bigints or
  *     formatted strings instead, and order by those.
  *   - Every query ends in a total ORDER BY over a unique key set.
  */
package object queries {

  /** One registry entry: the Spark implementation plus (optionally) the
    * equivalent DuckDB oracle SQL. `None` oracle → driver records a
    * rows-only check.
    */
  final case class Q(
      name: String,
      spark: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      bench: Boolean = false)

  def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    // testdata `events.ts` has shipped as both TIMESTAMP(NANOS) (which
    // Spark only reads as a ns-epoch long under the legacy flag) and
    // TIMESTAMP(MICROS). Accept both and normalize below.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NTZ→Timestamp casts in normalizeTs use the session zone; pin UTC so
    // the derived epochs match DuckDB's epoch_us over the same naive values.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    graft.functions.GraftFunctions.ensureRegistered(s)
    normalizeTs(graft.core.Fs.readParquet(s, s"$dir/$name.parquet"))
  }

  /** Engine-internal contract: `ts` is a ns-epoch long. The testdata has
    * shipped it as ns-long (legacy nanos parquet) and as a µs timestamp /
    * TIMESTAMP_NTZ; normalize every accepted shape to the ns-long contract
    * so downstream arithmetic (`ts div 1000`, ns-epoch literals) is
    * type-stable. 2026 ns epochs are ~1.8e18, well inside Long range.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  /** events.ts (ns-epoch long after [[normalizeTs]]) → µs-epoch long,
    * matching DuckDB epoch_us. */
  def tsMicros: Column = expr("ts div 1000")

  /** Exact money-ish operand: double → DECIMAL(14,4). */
  def decPrice(c: Column): Column = c.cast(DecimalType(14, 4))

  /** Exact rate operand in [0,1]: double → DECIMAL(7,4). */
  def decRate(c: Column): Column = c.cast(DecimalType(7, 4))

  /** (1 - rate) as exact DECIMAL(8,4). */
  def oneMinus(c: Column): Column = (lit(1) - decRate(c)).cast(DecimalType(8, 4))

  /** (1 + rate) as exact DECIMAL(8,4). */
  def onePlus(c: Column): Column = (lit(1) + decRate(c)).cast(DecimalType(8, 4))

  /** Exact decimal sum → rounded → double (deterministic across engines). */
  def sumRound(c: Column, scale: Int = 2): Column =
    round(sum(c), scale).cast("double")

  /** count(*) as bigint under a stable name. */
  def cnt(name: String = "n"): Column = count(lit(1)).as(name)

  // DuckDB-side fragments mirroring the Scala helpers above.
  /** SUM over exact decimal, rounded, as DOUBLE. */
  def sqlSumRound(inner: String, scale: Int = 2): String =
    s"CAST(ROUND(SUM($inner), $scale) AS DOUBLE)"
  def sqlPrice(col: String): String = s"CAST($col AS DECIMAL(14,4))"
  def sqlOneMinus(col: String): String =
    s"CAST(1 - CAST($col AS DECIMAL(7,4)) AS DECIMAL(8,4))"
  def sqlOnePlus(col: String): String =
    s"CAST(1 + CAST($col AS DECIMAL(7,4)) AS DECIMAL(8,4))"
}
