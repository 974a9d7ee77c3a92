package perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The query workload's input: the ten tables the Registry queries read,
  * with the column names, types and value shapes of graft's test data, at
  * roughly the 0.001 scale factor (6000 lineitem rows). Drawn from one
  * fixed seed, so the outputs have stored golden hashes.
  */
object Tables {
  val Seed = 42L

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new java.util.Random(Seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, k) => Row(k, n) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 150).map(k => Row(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
        money(-999, 9999), pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(k => Row(k.toLong, f"Supplier#$k%09d", rnd.nextInt(25),
        money(-999, 9999))))
    val retail = (0 until 200).map(k => math.round((900 + k * 0.1) * 100) / 100.0)
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 200).map(k => Row(k.toLong,
        pick(Seq("cold", "small", "large", "hot", "shiny", "green")) + " " +
          pick(Seq("widget", "bolt", "gear", "valve", "pipe")),
        s"Brand#${1 + rnd.nextInt(25)}",
        pick(Seq("ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE")),
        1 + rnd.nextInt(50), retail(k))))

    val day0 = LocalDate.of(1995, 1, 1)
    val orderDates = (0 until 1500).map(_ => day0.plusDays(rnd.nextInt(2557)))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      orderDates.zipWithIndex.map { case (d, k) => Row(k.toLong, rnd.nextInt(150).toLong,
        pick(Seq("F", "O", "P")), money(1000, 400000), d.atStartOfDay(),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))) })
    val lines = orderDates.zipWithIndex.flatMap { case (d, o) =>
      (1 to 1 + rnd.nextInt(7)).map { j =>
        val part = rnd.nextInt(200)
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.toLong, part.toLong, rnd.nextInt(10).toLong, j, qty,
          math.round(qty * retail(part) * 100) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, pick(Seq("R", "A", "N")), pick(Seq("O", "F")),
          d.plusDays(1 + rnd.nextInt(121)).atStartOfDay())
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines)

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val offsetsUs = Seq.fill(1000)((rnd.nextDouble() * 30 * 86400e6).toLong).sorted
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      offsetsUs.zipWithIndex.map { case (us, k) => Row(k.toLong, t0.plusNanos(us * 1000),
        rnd.nextInt(15).toLong, pick(Seq("signup", "click", "error", "purchase", "view")),
        money(0, 200), s"""{"k": ${rnd.nextInt(100)}}""") })

    // about one document in five repeats an earlier one, exactly or with
    // one word changed, so the dedup queries have pairs to find
    val vocab = ("the a fast slow big small key order sort table scan merge part " +
      "window hash join batch stream spark data row column filter group agg " +
      "query value line vector customer dup").split(' ').toSeq
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { k =>
      val u = rnd.nextDouble()
      texts += (if (k > 0 && u < 0.05) texts(rnd.nextInt(k))
      else if (k > 0 && u < 0.2) {
        val w = texts(rnd.nextInt(k)).split(' ')
        w(rnd.nextInt(w.length)) = pick(vocab)
        w.mkString(" ")
      } else Seq.fill(20 + rnd.nextInt(80))(pick(vocab)).mkString(" "))
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, k) => Row(k.toLong, t,
        pick(Seq("en", "en", "en", "de", "fr", "es", "zh")), s"src${rnd.nextInt(20)}",
        t.length.toLong) }.toSeq)

    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(64)(rnd.nextGaussian())))
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until 500).map { k =>
        val label = rnd.nextInt(10)
        val v = unit(centers(label).map(_ + 0.3 * rnd.nextGaussian() / 8))
        Row(k.toLong, v.map(_.toFloat).toSeq, label)
      })
  }
}
