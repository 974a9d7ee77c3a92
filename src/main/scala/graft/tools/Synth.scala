package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** Synthesize a larger scale-factor leg of the driver's testdata, written
  * by the engine itself, so scale curves can be fitted over more than the
  * two shipped decades (VERDICT r7 item 1: "measure the scale story
  * instead of extrapolating it").
  *
  * Method: tile the largest shipped leg (sf0.1) `factor`× with per-replica
  * key offsets — a distributed `union` of offset projections, no driver
  * loops — which preserves every base distribution exactly (value
  * histograms, join fan-outs, null rates, skew) while scaling the
  * cardinalities the way the driver's own generator does between its legs
  * (profiled sf0.001 → sf0.01 → sf0.1):
  *
  *   - TPC-H tables + events scale linearly per decade; keys are
  *     contiguous 0..N-1, so replica k offsets every PK and FK by
  *     k·N(base) — referential integrity holds by construction and join
  *     selectivity per key is unchanged.
  *   - `region`/`nation` are fixed dimensions (25/5 rows at every sf) —
  *     copied, not tiled.
  *   - event/order timestamps keep the base range at every shipped sf
  *     (events: the same 30 days of 2024; orders: 1995–2001) — scaling
  *     densifies time, it does not extend it — so replicas keep ts.
  *   - `documents.text` is ~99.8% distinct at sf0.1; naive tiling would
  *     make every doc a 10-way exact dup and collapse the dedup queries'
  *     selectivity. Replica k>0 instead ROTATES the word sequence by 7k
  *     (deterministic, content-derived): token counts, char counts and
  *     unigram histograms are exactly preserved, while SHINGLE-based
  *     keys (MinHash, n-gram fingerprints, exact-text hashes) change —
  *     base-replica dup pairs stay dups, cross-replica pairs don't,
  *     keeping the shingle-family dup RATE at the base's per-decade
  *     value. BAG-invariant fingerprints (simhash over unigrams) see
  *     every replica group as a 10-clone cluster by construction — a
  *     deliberate high-duplicate-density stress leg for that family
  *     (measured in SCALE.md r8: the hamming-0 pair floor grows ~2·10⁵×
  *     at sf1 while q_dedup_simhash60's runtime grows 15.7×, and
  *     SkewGuard's bucket cap stays untouched). Docs whose word count
  *     divides 7k rotate to identity and stay exact dups — a handful,
  *     and realistic.
  *   - `embeddings.embedding` vectors are unit-norm; replica k rotates
  *     the 64 coordinates by k positions — norms and coordinate
  *     distributions are exactly preserved, cosine structure is not
  *     (rotated copies are near-orthogonal in random high-dim), so ANN
  *     probe selectivity scales like real data rather than collapsing
  *     onto 10-way exact-duplicate clusters.
  *   - `Customer#%09d` / `Supplier#%09d` name columns are re-derived from
  *     the offset key so name↔key stays bijective.
  *
  * Row counts at factor=10 over sf0.1 (matching the generator's linear
  * leg-to-leg trend): lineitem 6M, orders 1.5M, customer 150k, part 200k,
  * supplier 10k, events 1M (15k users), documents 50k, embeddings 20k.
  *
  * Each table is written with enough output files for local[32] to read
  * it in parallel (repartition before write on the big tables only).
  * After writing, the main re-reads every table and verifies counts and
  * FK closure (zero orphans), then prints one JSON summary line.
  *
  * Usage: runMain graft.tools.Synth [baseDir] [outDir] [factor]
  *   defaults: /root/testdata/sf0.1 /root/repo/testdata_synth/sf1 10
  */
object Synth {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption
      .getOrElse("/root/repo/testdata_synth/sf1")
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val counts = synth(spark, base, out, factor)
    val fkOrphans = verify(spark, out)
    println(
      counts.map { case (t, n) => s""""$t":$n""" }
        .mkString(s"""{"metric":"synth","base":"$base","out":"$out",""" +
          s""""factor":$factor,"fk_orphans":$fkOrphans,"rows":{""", ",", "}}"))
    if (fkOrphans != 0) sys.exit(1)
    spark.stop()
  }

  /** Tile every table of `base` `factor`× into `out`; returns per-table
    * row counts of what was written.
    */
  def synth(spark: SparkSession, base: String, out: String,
      factor: Int): Seq[(String, Long)] = {
    def rd(t: String): DataFrame = Fs.readParquet(spark, s"$base/$t.parquet")
    def baseMax(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val customer = rd("customer")
    val supplier = rd("supplier")
    val part = rd("part")
    val orders = rd("orders")
    val lineitem = rd("lineitem")
    val events = rd("events")
    val documents = rd("documents")
    val embeddings = rd("embeddings")
    val nCust = baseMax(customer, "c_custkey")
    val nSupp = baseMax(supplier, "s_suppkey")
    val nPart = baseMax(part, "p_partkey")
    val nOrd = baseMax(orders, "o_orderkey")
    val nEvt = baseMax(events, "event_id")
    val nUser = events.agg(max(col("user_id"))).head.getLong(0) + 1L
    val nDoc = baseMax(documents, "doc_id")
    val nVec = baseMax(embeddings, "vec_id")

    /** Union of `factor` offset replicas; `mut(k)` rewrites replica k. */
    def tile(df: DataFrame)(mut: Int => DataFrame => DataFrame): DataFrame =
      (0 until factor).map(k => mut(k)(df)).reduce(_ union _)

    def off(c: String, n: Long, k: Int): org.apache.spark.sql.Column =
      (col(c) + lit(n * k)).as(c)

    val tables: Seq[(String, DataFrame, Int)] = Seq(
      ("region", rd("region"), 1),
      ("nation", rd("nation"), 1),
      ("customer", tile(customer) { k => df =>
        df.select(off("c_custkey", nCust, k),
          format_string("Customer#%09d", col("c_custkey") + lit(nCust * k))
            .as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      }, 1),
      ("supplier", tile(supplier) { k => df =>
        df.select(off("s_suppkey", nSupp, k),
          format_string("Supplier#%09d", col("s_suppkey") + lit(nSupp * k))
            .as("s_name"),
          col("s_nationkey"), col("s_acctbal"))
      }, 1),
      ("part", tile(part) { k => df =>
        df.select(off("p_partkey", nPart, k), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), col("p_retailprice"))
      }, 2),
      ("orders", tile(orders) { k => df =>
        df.select(off("o_orderkey", nOrd, k), off("o_custkey", nCust, k),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }, 8),
      ("lineitem", tile(lineitem) { k => df =>
        df.select(off("l_orderkey", nOrd, k), off("l_partkey", nPart, k),
          off("l_suppkey", nSupp, k), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      }, 32),
      ("events", tile(events) { k => df =>
        df.select(off("event_id", nEvt, k), col("ts"),
          off("user_id", nUser, k), col("event_type"), col("value"),
          col("props"))
      }, 8),
      ("documents", tile(documents) { k => df =>
        val words = split(col("text"), " ")
        val n = size(words)
        // rotate by 7k mod n: slice(w, r+1, n-r) ++ slice(w, 1, r)
        val r = lit(7 * k) % n
        val rotated = concat(slice(words, r + lit(1), n - r),
          slice(words, lit(1), r))
        // sparse token mutation (every 17th position, phase-shifted per
        // replica, gets a replica-tagged suffix): rotation alone is
        // UNIGRAM-BAG-INVARIANT, so bag-based fingerprints (simhash over
        // unigrams) saw every replica group as an exact clone cluster —
        // the r8 "dup storm" regime. Mutating ~6% of tokens per replica
        // varies the bag AND the shingles while keeping token counts,
        // and near-exactly char counts, at the base's values — so every
        // dup family (shingle, bag, exact-hash) scales with per-decade
        // selectivity like the driver's own legs instead of degenerate
        // clone clusters. Within one replica the rule is deterministic,
        // so base dup PAIRS stay dup pairs.
        val mutated = concat_ws(" ",
          transform(rotated, (w, i) =>
            when((i + lit(k % 17)) % 17 === 0,
              concat(w, lit(s"x$k"))).otherwise(w)))
        val text = if (k == 0) col("text") else
          when(col("text").isNull, col("text")).otherwise(mutated)
        df.select(off("doc_id", nDoc, k), text.as("text"), col("lang"),
          col("source"), length(coalesce(text, lit("")))
            .cast("long").as("n_chars"))
      }, 2),
      ("embeddings", tile(embeddings) { k => df =>
        val dim = 64
        val r = k % dim
        val rot = if (k == 0) col("embedding") else
          concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        // factor > dim would repeat rotations (replica k and k-dim
        // would carry EXACT-duplicate vectors — a synthetic dup storm
        // for the semantic legs); negate the second lap so every
        // replica's map is distinct while norms and coordinate
        // distributions stay exactly preserved
        val mapped = if (k < dim) rot
          else transform(rot, x => -x)
        df.select(off("vec_id", nVec, k), mapped.as("embedding"),
          col("label"))
      }, 2))

    tables.map { case (name, df, nFiles) =>
      val sized = if (nFiles > 1) df.repartition(nFiles) else df.coalesce(1)
      sized.write.mode("overwrite").parquet(s"$out/$name.parquet")
      name -> Fs.readParquet(spark, s"$out/$name.parquet").count()
    }
  }

  /** FK closure over the written leg: zero orphans expected. */
  def verify(spark: SparkSession, dir: String): Long = {
    def rd(t: String): DataFrame = Fs.readParquet(spark, s"$dir/$t.parquet")
    val cust = rd("customer").select(col("c_custkey"))
    val supp = rd("supplier").select(col("s_suppkey"))
    val part = rd("part").select(col("p_partkey"))
    val ord = rd("orders")
    val li = rd("lineitem")
    val orphanOrd = ord
      .join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti").count()
    val orphanLiOrd = li
      .join(ord.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"),
        "left_anti").count()
    val orphanLiPart = li
      .join(part.select(col("p_partkey").as("l_partkey")), Seq("l_partkey"),
        "left_anti").count()
    val orphanLiSupp = li
      .join(supp.select(col("s_suppkey").as("l_suppkey")), Seq("l_suppkey"),
        "left_anti").count()
    val orphanNation = rd("customer")
      .join(rd("nation").select(col("n_nationkey").as("c_nationkey")),
        Seq("c_nationkey"), "left_anti").count()
    orphanOrd + orphanLiOrd + orphanLiPart + orphanLiSupp + orphanNation
  }
}
