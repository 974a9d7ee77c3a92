package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Fs

import CurationQueries.{duckRecompute, kmK, kmIters}
import PqQuery.{dim, m, ds, k, iters}

/** Append-only PQ index maintenance, measured — the two halves of the
  * "frozen codebooks on a growing corpus" story:
  *
  *   - `q_pq_drift`: the store is BUILT on the first half of the corpus
  *     (codebooks + coarse centroids trained there) and the second half
  *     arrives through the real append path
  *     ([[graft.ops.ProductQuantizer.appendToStore]] — frozen-model
  *     encode, staged writes into the same `bucket=` partitions). The
  *     query reads the store back, reconstructs every row from its
  *     codes, and reports exact fixed-point mean quantization error
  *     `1 − cos(v, reconstruction)` per leg (train vs append) — the
  *     drift metric that tells an append-only deployment when the
  *     frozen books have decayed enough to warrant a retrain-rebuild
  *     (recall sags silently otherwise; cf. the IVFADC maintenance
  *     discussion in Jégou et al., "Product Quantization for Nearest
  *     Neighbor Search", TPAMI 2011).
  *
  *   - `q_pq_append_recall`: the same built-then-appended store SERVED —
  *     per-query recall@10 and reciprocal rank against the brute-force
  *     truth (`q_knn_brute`), the `q_ann_recall`-shaped row for the
  *     appended-index state, at the same k as the IVF/int8 legs.
  *
  * Both DuckDB oracles replay the HALF-corpus trainings (all four PQ
  * subspace Lloyd chains; for the recall leg also the coarse k-means),
  * then assign/encode the FULL corpus against those frozen models —
  * exactly what append-to-store does — so a hash match proves
  * append ≡ rebuild end-to-end cross-engine, not just row counts.
  *
  * Scale shape: trainings are bounded-model scans over half the corpus;
  * encode/append is map-only + staged file moves; the drift aggregate is
  * a map-side-combining fixed-point sum; the probe reads `nprobe`
  * bucket partitions via DPP. Nothing here is all-pairs.
  */
object PqDriftQuery {

  private val nQueries = SimilarityQueries.nQueries // 8, shared with brute
  private val nProbe = 2
  private val topK = 10

  private def corpus(s: org.apache.spark.sql.SparkSession, dir: String) =
    tbl(s, dir, "embeddings")
      .filter(col("embedding").isNotNull) // defined null semantic: excluded
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("dot_product(v, v)"))

  /** Build-on-half + append-half store, returned as (path, books, cents);
    * None when the corpus is empty (empty-input gate).
    */
  private def appendedStore(
      s: org.apache.spark.sql.SparkSession, dir: String): Option[(String,
      Seq[graft.ops.ProductQuantizer.Codebook],
      Seq[graft.ops.VectorIndex.Centroid], Long)] = {
    val e = corpus(s, dir)
    val half = Option(e.agg(max("vec_id")).head().get(0))
      .map(_.asInstanceOf[Long] / 2L).getOrElse(-1L)
    val tr = e.filter(col("vec_id") <= half)
    val ap = e.filter(col("vec_id") > half)
    // independent trainings overlapped (guide §2.6) — same recipe and
    // bit-identical-models argument as IvfPqQuery
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fCents = Future { graft.ops.KMeans.lloyd(tr, kmK, kmIters) }
    val books = graft.ops.ProductQuantizer.train(tr, "v", dim, m, k, iters)
    val cents = Await.result(fCents,
      scala.concurrent.duration.Duration.Inf)
    if (books.isEmpty || cents.isEmpty) None
    else {
      // unique store per invocation: concurrent Verify sweeps must not
      // clobber each other's build+append sequence
      val path = java.nio.file.Files
        .createTempDirectory("graft_pq_append_").resolve("store").toString
      graft.ops.ProductQuantizer.buildStore(tr, "v", books, cents, path)
      graft.ops.ProductQuantizer.appendToStore(ap, "v", books, cents, path)
      Some((path, books, cents, half))
    }
  }

  /** PQ subspace chain trained on CTE `tr`, final assignment over the
    * FULL corpus CTE `e` — the oracle twin of frozen-codebook append
    * (same seed/round/tie-break rules as [[PqQuery.duckSubspace]], which
    * trains and assigns on one corpus).
    */
  private def subspaceSplit(s: Int): String = {
    val lo = s * ds + 1
    val hi = (s + 1) * ds
    val rounds = (1 to iters).map { i =>
      PqQuery.duckAssign(s"t$s", s"b${s}_${i - 1}", s"a${s}_$i") + ",\n" +
        PqQuery.duckRecompute(s"a${s}_$i", s"b${s}_$i")
    }.mkString(",\n")
    s"""t$s AS (SELECT vec_id, v[$lo:$hi] AS sv FROM tr),
        s$s AS (SELECT vec_id, v[$lo:$hi] AS sv FROM e),
        b${s}_0 AS (SELECT vec_id AS cid, sv AS cv,
                           list_sum([x * x for x in sv]) AS cn
                    FROM t$s WHERE vec_id < $k),
        $rounds,
        f$s AS (
          SELECT vec_id, cv FROM (
            SELECT t.vec_id, c.cv,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id
                     ORDER BY ${PqQuery.dot("t.sv", "c.cv")} - c.cn / 2 DESC,
                              c.cid) AS arn
            FROM s$s t CROSS JOIN b${s}_$iters c) WHERE arn = 1)"""
  }

  /** One coarse Lloyd assignment of CTE `from` against centroid CTE
    * `cin` — [[CurationQueries.duckAssign]] with the corpus
    * parameterized, so training rounds can run on `tr` while the final
    * bucket assignment runs on `e`.
    */
  private def coarseAssign(from: String, cin: String, aout: String): String =
    s"""$aout AS (
         SELECT vec_id, v, nrm, cid AS bucket, cos FROM (
           SELECT t.vec_id, t.v, t.nrm, c.cid,
                  ${CurationQueries.duckDot("t.v", "c.cv")}
                    / sqrt(t.nrm * c.cn) AS cos,
                  ROW_NUMBER() OVER (PARTITION BY t.vec_id
                    ORDER BY ${CurationQueries.duckDot("t.v", "c.cv")}
                               / sqrt(t.nrm * c.cn) DESC, c.cid) AS arn
           FROM $from t CROSS JOIN $cin c) WHERE arn = 1)"""

  private val duckHalf = "(SELECT MAX(vec_id) // 2 FROM e)"

  private val duckCorpus =
    """SELECT vec_id, embedding::DOUBLE[] AS v,
              list_sum([x * x for x in embedding::DOUBLE[]]) AS nrm
       FROM embeddings WHERE embedding IS NOT NULL"""

  private def emptyDrift(s: org.apache.spark.sql.SparkSession) = {
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("leg", StringType),
        StructField("n", LongType), StructField("mean_qerr", DoubleType))))
  }

  val pqDrift = Q(
    "q_pq_drift",
    (s, dir) =>
      appendedStore(s, dir) match {
        case None => emptyDrift(s)
        case Some((path, books, _, half)) =>
          val decoded = graft.ops.ProductQuantizer
            .decodeFromCodes(Fs.readParquet(s, path), books)
            .select("vec_id", "dv", "dn")
          graft.ops.ProductQuantizer.driftReport(
            decoded.join(corpus(s, dir), "vec_id")
              .withColumn("leg",
                when(col("vec_id") <= half, "train")
                  .otherwise("append")),
            "leg")
            .orderBy("leg")
      },
    Some(s"""WITH e AS ($duckCorpus),
            tr AS (SELECT * FROM e WHERE vec_id <= $duckHalf),
            ${(0 until m).map(subspaceSplit).mkString(",\n")},
            dec AS (
              SELECT e.vec_id,
                     ${(0 until m).map(s => s"f$s.cv").mkString(" || ")}
                       AS dv
              FROM e ${(0 until m).map(s =>
                s"JOIN f$s ON e.vec_id = f$s.vec_id").mkString(" ")}),
            dn AS (SELECT vec_id, dv,
                          list_sum([x * x for x in dv]) AS dn FROM dec),
            err AS (
              SELECT CASE WHEN e.vec_id <= $duckHalf THEN 'train'
                          ELSE 'append' END AS leg,
                     CAST(floor((1 - ${PqQuery.dot("e.v", "d.dv")}
                       / sqrt(e.nrm * d.dn)) * 1e9) AS BIGINT) AS qfp
              FROM e JOIN dn d ON e.vec_id = d.vec_id)
            SELECT leg, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(CAST(SUM(qfp) AS DOUBLE) / 1e9
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_qerr
            FROM err GROUP BY leg ORDER BY leg"""))

  private def emptyRecall(s: org.apache.spark.sql.SparkSession) = {
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("idx", StringType),
        StructField("query_id", LongType), StructField("n_hit", LongType),
        StructField("brute_n", LongType), StructField("recall", DoubleType),
        StructField("rr", DoubleType))))
  }

  val pqAppendRecall = Q(
    "q_pq_append_recall",
    (s, dir) =>
      appendedStore(s, dir) match {
        case None => emptyRecall(s)
        case Some((path, books, cents, _)) =>
          val e = corpus(s, dir)
          val q = e.filter(col("vec_id") < nQueries)
            .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qn"))
          val probed = graft.ops.ProductQuantizer
            .probeStore(s, path, q, books, cents, nProbe, topK)
          val brute = SimilarityQueries.knnBrute.spark(s, dir)
            .select(col("query_id"), col("neighbor_id"))
          val bn = brute.groupBy("query_id").agg(cnt("brute_n"))
          val hits = probed.join(brute, Seq("query_id", "neighbor_id"))
            .groupBy("query_id")
            .agg(cnt("n_hit"), min(col("rnk").cast("long")).as("first_hit"))
          // zero-hit queries must still emit a row — a silently absent
          // query is how a broken appended index ships
          bn.join(hits, Seq("query_id"), "left")
            .select(lit("pq_append").as("idx"), col("query_id"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("brute_n"),
              round(coalesce(col("n_hit"), lit(0L)).cast("double")
                / col("brute_n").cast("double"), 6).as("recall"),
              round(coalesce(lit(1.0) / col("first_hit").cast("double"),
                lit(0.0)), 6).as("rr"))
            .orderBy("query_id")
      },
    Some(s"""WITH e AS ($duckCorpus),
            tr AS (SELECT * FROM e WHERE vec_id <= $duckHalf),
            c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM tr
                   WHERE vec_id < $kmK),
            ${(1 to kmIters).map(i =>
              coarseAssign("tr", s"c${i - 1}", s"ca$i") + ",\n" +
                duckRecompute(s"ca$i", s"c$i")).mkString(",\n")},
            ${coarseAssign("e", s"c$kmIters", "af")},
            ${(0 until m).map(subspaceSplit).mkString(",\n")},
            dec AS (
              SELECT e.vec_id,
                     ${(0 until m).map(s => s"f$s.cv").mkString(" || ")}
                       AS dv
              FROM e ${(0 until m).map(s =>
                s"JOIN f$s ON e.vec_id = f$s.vec_id").mkString(" ")}),
            dn AS (SELECT vec_id, dv,
                          list_sum([x * x for x in dv]) AS dn FROM dec),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
                  WHERE vec_id < $nQueries),
            pr AS (
              SELECT query_id, qv, qn, cid AS bucket FROM (
                SELECT q.query_id, q.qv, q.qn, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                         ORDER BY ${CurationQueries.duckDot("q.qv", "c.cv")}
                                    / sqrt(q.qn * c.cn) DESC, c.cid) AS prn
                FROM q CROSS JOIN c$kmIters c) WHERE prn <= $nProbe),
            scored AS (
              SELECT pr.query_id, a.vec_id,
                     ${CurationQueries.duckDot("pr.qv", "d.dv")}
                       / sqrt(pr.qn * d.dn) AS approx_cos
              FROM pr JOIN af a
                ON a.bucket = pr.bucket AND a.vec_id <> pr.query_id
              JOIN dn d ON d.vec_id = a.vec_id),
            ranked AS (
              SELECT query_id, vec_id, approx_cos,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_cos DESC, vec_id) AS BIGINT) AS rnk
              FROM scored),
            probed AS (SELECT query_id, vec_id AS neighbor_id, rnk
                       FROM ranked WHERE rnk <= $topK),
            brute AS (${SimilarityQueries.knnBrute.oracle.get}),
            bn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS brute_n
                   FROM brute GROUP BY query_id),
            hits AS (
              SELECT p.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
                     MIN(p.rnk) AS first_hit
              FROM probed p JOIN brute b
                ON p.query_id = b.query_id
                AND p.neighbor_id = b.neighbor_id
              GROUP BY p.query_id)
            SELECT 'pq_append' AS idx, bn.query_id,
                   COALESCE(n_hit, 0) AS n_hit, brute_n,
                   ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE)
                     / CAST(brute_n AS DOUBLE), 6) AS recall,
                   ROUND(COALESCE(1.0 / CAST(first_hit AS DOUBLE), 0.0), 6)
                     AS rr
            FROM bn LEFT JOIN hits ON bn.query_id = hits.query_id
            ORDER BY bn.query_id"""))

  val all: Seq[Q] = Seq(pqDrift, pqAppendRecall)
}
