package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Commit, Fs}
import graft.ops.{Bm25, ClusteredStore, Forget, SignatureStore, Tombstones}

/** Oracle check for the unified takedown orchestrator
  * ([[graft.ops.Forget]]): a forget request propagated across the
  * PRIMARY store and two derived serving stores, CRASHED between them,
  * then replayed to convergence — every store must afterwards agree
  * with DuckDB over the complement corpus, and the captured mid-crash
  * state must show the unpropagated store still serving the banned ids
  * (proving the crash was real, the ack ledger caught it, and replay —
  * not a rebuild — fixed it).
  */
object ForgetQueries {

  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def memo(key: String, sfDir: String)(build: String => Unit): String =
    fixtures.compute(s"$key|$sfDir", (_, prev) => {
      if (prev != null) prev
      else {
        val base = java.nio.file.Files
          .createTempDirectory(s"graft_$key").toString
        build(base)
        base
      }
    })

  private def bannedPred(c: org.apache.spark.sql.Column) =
    pmod(c, lit(89L)) === 5

  /** (store, n_alive, n_banned) over a frame carrying doc_id. */
  private def leg(name: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.agg(
        count(lit(1)).cast("long").as("n_alive"),
        coalesce(sum(when(bannedPred(col("doc_id")), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n_banned"))
      .select(lit(name).as("store"), col("n_alive"), col("n_banned"))

  val forgetReplay = Q(
    "q_forget_replay",
    (s, dir) => {
      val base = memo("forget", dir) { b =>
        val docs = tbl(s, dir, "documents")
        ClusteredStore.init(docs, Seq("doc_id", "n_chars"), 8,
          s"$b/primary", bloomCols = Seq("doc_id"))
        Bm25.buildIndex(docs, "doc_id", "text", s"$b/bm25")
        SignatureStore.build(docs, s"$b/sigs")
        val banned = docs.filter(bannedPred(col("doc_id")))
          .select(col("doc_id").cast("long")).collect()
          .map(_.getLong(0)).toSeq
        val ledger = s"$b/forget_ledger"
        val primaryT = Forget.clusteredTarget(s, s"$b/primary", "doc_id")
        val bm25T = Forget.bm25Target(s, s"$b/bm25", "doc_id")
        val sigsT = Forget.signatureTarget(s, s"$b/sigs")
        // the crash: the signature store's takedown dies BEFORE doing
        // any work — primary and BM25 have acked, sigs has not. The
        // crashing stand-in records the REAL store's registry
        // coordinates (the process-loss story: closures die, the
        // ledger's kind/path rows survive).
        val crash = new Forget.Target(sigsT.name, sigsT.kind,
          sigsT.path, sigsT.arg,
          _ => throw new RuntimeException("injected crash"))
        try Forget.forget(s, ledger, "takedown-89-5", banned,
          Seq(primaryT, bm25T, crash))
        catch {
          case e: RuntimeException if e.getMessage == "injected crash" =>
        }
        // pin the mid-crash evidence: the unpropagated store still
        // serves every banned id (deterministic counts, recomputable by
        // the oracle), while the ledger names exactly one store unacked.
        // If the protocol ever broke (crash not visible in the ledger),
        // poison the count so the oracle hash FAILS rather than
        // silently passing.
        import s.implicits._
        val sigsLive = SignatureStore.load(s, s"$b/sigs")
        val pending = Forget.status(s, ledger,
            Seq(primaryT.name, bm25T.name, sigsT.name))
          .filter(!col("acked")).count()
        val crashVisible = banned.isEmpty || pending == 1L
        val beforeBanned =
          if (crashVisible) sigsLive.filter(bannedPred(col("doc_id"))).count()
          else -1000000L
        Seq(("sigs_before_replay", sigsLive.count(), beforeBanned))
          .toDF("store", "n_alive", "n_banned")
          .write.mode("overwrite").parquet(s"$b/before")
        // replay with the REAL targets converges every store
        Forget.replay(s, ledger, Seq(primaryT, bm25T, sigsT))
        // physical disposal on the flat store through the
        // marker-committed purge (r13) — answer-invariant
        SignatureStore.purge(s, s"$b/sigs")
        ()
      }
      val primary = leg("primary", ClusteredStore.read(s, s"$base/primary"))
      val hasPostings = graft.core.Fs.list(s, s"$base/bm25/postings")
        .exists(f => f.isDirectory && f.getPath.getName.startsWith("tb="))
      val bm25Docs =
        if (!hasPostings) s.range(0).select(col("id").as("doc_id"))
        else Tombstones.mask(s, s"$base/bm25",
          Commit.read(s, s"$base/bm25/postings"), "doc_id")
          .select("doc_id").distinct()
      val sigs = leg("sigs", SignatureStore.load(s, s"$base/sigs"))
      primary
        .unionByName(leg("bm25_postings", bm25Docs))
        .unionByName(sigs)
        .unionByName(Fs.readParquet(s, s"$base/before"))
        .orderBy("store")
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE text IS NOT NULL)
            SELECT * FROM (
              SELECT 'primary' AS store,
                     CAST(COUNT(*) AS BIGINT) AS n_alive,
                     CAST(0 AS BIGINT) AS n_banned
              FROM documents WHERE doc_id % 89 <> 5
              UNION ALL
              SELECT 'bm25_postings', CAST(COUNT(*) AS BIGINT),
                     CAST(0 AS BIGINT)
              FROM d WHERE doc_id % 89 <> 5
              UNION ALL
              SELECT 'sigs', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
              FROM d WHERE len(w) >= 3 AND doc_id % 89 <> 5
              UNION ALL
              SELECT 'sigs_before_replay', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN doc_id % 89 = 5 THEN 1 ELSE 0 END)
                       AS BIGINT)
              FROM d WHERE len(w) >= 3)
            ORDER BY store"""))

  /** Oracle check for the LOG-pipeline forget (r13 verdict missing #1):
    * a real streamed log (three ticks, one compacted `_FOLDED`
    * generation) built from the events table with known per-custom-id
    * token contributions; one `forget(custom_ids)` across the rollup
    * re-fold, the detail purge, and the shred purge, CRASHED at the
    * shred store (rollup and detail acked); mid-crash evidence pinned
    * with a poisoned-count tripwire; then a REGISTRY-FREE
    * `Forget.replay(ledgerDir)` — no caller closures — converges the
    * shred purge. Every leg hash-matches DuckDB recomputing the same
    * counts and token sums over the COMPLEMENT event set: detail row
    * counts + parsed payload token sums, shredded typed sums, and the
    * rollup's re-folded aggregates (subtraction, not masking).
    */
  val forgetLog = Q(
    "q_forget_log",
    (s, dir) => {
      val base = memo("forgetlog", dir) { b =>
        val ev = tbl(s, dir, "events")
          .withColumn("eid", col("event_id").cast("long"))
          .withColumn("in_tok",
            coalesce(get_json_object(col("props"), "$.k").cast("long"),
              lit(0L)))
          .withColumn("out_tok", pmod(col("eid") * 13, lit(97L)))
        val rows = ev.select(
          timestamp_micros(tsMicros).as("timestamp"),
          concat(lit("run-"), col("eid")).as("run_id"),
          lit("").as("parent_run_id"),
          col("user_id").cast("string").as("custom_id"),
          col("event_type"),
          lit("""{"job":"forget"}""").as("logger_metadata"),
          to_json(struct(
            col("event_type"),
            struct(
              concat(lit("m"), pmod(col("eid"), lit(3L))).as("model"),
              struct(
                col("in_tok").as("input_tokens"),
                col("out_tok").as("output_tokens"),
                (col("in_tok") + col("out_tok")).as("total_tokens"))
                .as("usage_metadata")).as("data"))).as("payload"),
          pmod(col("eid"), lit(3L)).as("slice"))
        val (log, shred, roll) = (s"$b/log", s"$b/shred", s"$b/roll")
        (0 until 3).foreach { k =>
          graft.streaming.LogStreamPipeline.tick(
            rows.filter(col("slice") === k).drop("slice"),
            k.toLong, log, shred, roll, compactEvery = 2)
        }
        val banned = ev.filter(pmod(col("user_id"), lit(31L)) === 4)
          .select("user_id").distinct()
          .collect().map(_.getLong(0)).toSeq
        val ledger = s"$b/ledger"
        val Seq(rollT, detailT, shredT) =
          Forget.logTargets(s, log, shred, roll)
        // the crash: the SHRED purge dies before doing any work —
        // rollup re-fold and detail purge have acked, shred has not.
        // The stand-in records the real store's registry coordinates
        // (the process-loss story: closures die, the ledger survives).
        val crash = new Forget.Target(shredT.name, shredT.kind,
          shredT.path, shredT.arg,
          _ => throw new RuntimeException("injected crash"))
        try Forget.forget(s, ledger, "gdpr-31-4", banned,
          Seq(rollT, detailT, crash))
        catch {
          case e: RuntimeException if e.getMessage == "injected crash" =>
        }
        // pin the mid-crash evidence: the shred store still serves
        // EVERY banned row (deterministic counts the oracle recomputes)
        // while the ledger names exactly one store unacked. If the ack
        // protocol ever missed the crash, poison the counts so the
        // oracle hash FAILS rather than silently passing.
        import s.implicits._
        val pending = Forget.status(s, ledger,
            Seq(rollT.name, detailT.name, shredT.name))
          .filter(!col("acked")).count()
        val crashVisible = banned.isEmpty || pending == 1L
        // typed-empty-safe read (the empty Sunday batch: a zero-event
        // sweep leaves a store with no data files)
        val shredLive = graft.query.ShreddedLog.read(s, shred)
        val (nBefore, nBannedBefore) =
          if (crashVisible)
            (shredLive.count(),
              shredLive.filter(
                pmod(col("custom_id").cast("long"), lit(31L)) === 4)
                .count())
          else (-1000000L, -1000000L)
        Seq(("shred_before_replay", nBefore, nBannedBefore))
          .toDF("store", "n_rows", "tok")
          .write.mode("overwrite").parquet(s"$b/before")
        // process loss: a REGISTRY-FREE replay from the ledger dir
        // alone reconstructs the shred target and converges
        Forget.replay(s, ledger)
        ()
      }
      val detail = {
        import s.implicits._
        // a zero-event sweep leaves no data files — serve the typed
        // zero leg instead of crashing schema inference
        if (graft.core.Fs.listDataFiles(s, s"$base/log").isEmpty)
          Seq(("log_detail", 0L, 0L)).toDF("store", "n_rows", "tok")
        else Fs.readParquet(s, s"$base/log")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            coalesce(sum(get_json_object(col("payload"),
                "$.data.usage_metadata.input_tokens").cast("long")),
              lit(0L)).cast("long").as("tok"))
          .select(lit("log_detail").as("store"), col("n_rows"),
            col("tok"))
      }
      val shredF = graft.query.ShreddedLog.read(s, s"$base/shred")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(col("input_tokens")), lit(0L)).cast("long")
            .as("tok"))
        .select(lit("shred").as("store"), col("n_rows"), col("tok"))
      val rollF = graft.query.LogRollup.read(s, s"$base/roll",
          Seq("model"))
        .agg(coalesce(sum(col("n_events")), lit(0L)).cast("long")
            .as("n_rows"),
          coalesce(sum(col("tot_tokens")), lit(0L)).cast("long")
            .as("tok"))
        .select(lit("rollup").as("store"), col("n_rows"), col("tok"))
      detail.unionByName(rollF).unionByName(shredF)
        .unionByName(Fs.readParquet(s, s"$base/before"))
        .orderBy("store")
    },
    Some("""WITH e AS (
              SELECT CAST(event_id AS BIGINT) AS eid, user_id,
                     COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                       AS BIGINT), 0) AS in_tok,
                     (CAST(event_id AS BIGINT) * 13) % 97 AS out_tok
              FROM events),
            c AS (SELECT * FROM e
                  WHERE user_id IS NULL OR user_id % 31 <> 4)
            SELECT * FROM (
              SELECT 'log_detail' AS store,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(in_tok) AS BIGINT) AS tok FROM c
              UNION ALL
              SELECT 'rollup', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(in_tok + out_tok) AS BIGINT) FROM c
              UNION ALL
              SELECT 'shred', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(in_tok) AS BIGINT) FROM c
              UNION ALL
              SELECT 'shred_before_replay', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN user_id % 31 = 4 THEN 1 ELSE 0
                       END) AS BIGINT) FROM e)
            ORDER BY store"""))

  /** Oracle check for the STRING id domain (r14 verdict missing #1 —
    * the reference's `custom_id` is an arbitrary string,
    * `tagging.py:85-98`, `tests/test_core.py:224-240`): the same
    * three-store streamed log keyed on NON-NUMERIC custom ids
    * (`user_<k>` — a bigint pin would parse every one of them to null),
    * one `forgetStrings` across rollup re-fold + detail purge + shred
    * purge, CRASHED at the shred store, mid-crash evidence pinned with
    * a poisoned-count tripwire, then a REGISTRY-FREE
    * `Forget.replay(ledgerDir)` — the arbitrary-string request rides
    * the exact crash-replayable ledger the bigint domain gets.
    */
  val forgetString = Q(
    "q_forget_string",
    (s, dir) => {
      val base = memo("forgetstring", dir) { b =>
        val ev = tbl(s, dir, "events")
          .withColumn("eid", col("event_id").cast("long"))
          .withColumn("in_tok",
            coalesce(get_json_object(col("props"), "$.k").cast("long"),
              lit(0L)))
          .withColumn("out_tok", pmod(col("eid") * 13, lit(97L)))
        val rows = ev.select(
          timestamp_micros(tsMicros).as("timestamp"),
          concat(lit("run-"), col("eid")).as("run_id"),
          lit("").as("parent_run_id"),
          // NON-NUMERIC custom ids: the reference's arbitrary-string
          // shape ("user_123"); NULL user_ids stay null on both engines
          concat(lit("user_"), col("user_id")).as("custom_id"),
          col("event_type"),
          lit("""{"job":"forget"}""").as("logger_metadata"),
          to_json(struct(
            col("event_type"),
            struct(
              concat(lit("m"), pmod(col("eid"), lit(3L))).as("model"),
              struct(
                col("in_tok").as("input_tokens"),
                col("out_tok").as("output_tokens"),
                (col("in_tok") + col("out_tok")).as("total_tokens"))
                .as("usage_metadata")).as("data"))).as("payload"),
          pmod(col("eid"), lit(3L)).as("slice"))
        val (log, shred, roll) = (s"$b/log", s"$b/shred", s"$b/roll")
        (0 until 3).foreach { k =>
          graft.streaming.LogStreamPipeline.tick(
            rows.filter(col("slice") === k).drop("slice"),
            k.toLong, log, shred, roll, compactEvery = 2)
        }
        val banned = ev.filter(pmod(col("user_id"), lit(29L)) === 7)
          .select(concat(lit("user_"), col("user_id")).as("cid"))
          .distinct().collect().map(_.getString(0)).toSeq
        val ledger = s"$b/ledger"
        val Seq(rollT, detailT, shredT) =
          Forget.logTargets(s, log, shred, roll)
        val crash = new Forget.Target(shredT.name, shredT.kind,
          shredT.path, shredT.arg, shredT.domain,
          _ => throw new RuntimeException("injected crash"))
        try Forget.forgetStrings(s, ledger, "gdpr-29-7-str", banned,
          Seq(rollT, detailT, crash))
        catch {
          case e: RuntimeException if e.getMessage == "injected crash" =>
        }
        import s.implicits._
        val pending = Forget.status(s, ledger,
            Seq(rollT.name, detailT.name, shredT.name))
          .filter(!col("acked")).count()
        val crashVisible = banned.isEmpty || pending == 1L
        val shredLive = graft.query.ShreddedLog.read(s, shred)
        val (nBefore, nBannedBefore) =
          if (crashVisible)
            (shredLive.count(),
              shredLive.filter(
                pmod(regexp_extract(col("custom_id"), "^user_(\\d+)$", 1)
                  .cast("long"), lit(29L)) === 7).count())
          else (-1000000L, -1000000L)
        Seq(("shred_before_replay", nBefore, nBannedBefore))
          .toDF("store", "n_rows", "tok")
          .write.mode("overwrite").parquet(s"$b/before")
        // process loss: registry-free replay — the string-domain pin
        // reconstructs the shred target and converges
        Forget.replay(s, ledger)
        ()
      }
      legsOverLog(s, base)
    },
    Some("""WITH e AS (
              SELECT CAST(event_id AS BIGINT) AS eid, user_id,
                     COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                       AS BIGINT), 0) AS in_tok,
                     (CAST(event_id AS BIGINT) * 13) % 97 AS out_tok
              FROM events),
            c AS (SELECT * FROM e
                  WHERE user_id IS NULL OR user_id % 29 <> 7)
            SELECT * FROM (
              SELECT 'log_detail' AS store,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(in_tok) AS BIGINT) AS tok FROM c
              UNION ALL
              SELECT 'rollup', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(in_tok + out_tok) AS BIGINT) FROM c
              UNION ALL
              SELECT 'shred', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(in_tok) AS BIGINT) FROM c
              UNION ALL
              SELECT 'shred_before_replay', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN user_id % 29 = 7 THEN 1 ELSE 0
                       END) AS BIGINT) FROM e)
            ORDER BY store"""))

  /** Oracle check for RUN-SCOPED forget (r14 verdict missing #2 —
    * "delete this run and its descendants", the reference's
    * run-hierarchy shape, `tests/test_enhanced_logging.py:322-388`):
    * events form 9-run trees (root → 4 children → 4 grandchildren,
    * keyed by eid block); banned roots expand through
    * [[graft.ops.LogForget.expandRunSubtree]] BEFORE the ledger pins
    * the set (the detail purge destroys the parent-pointer evidence a
    * replay-time expansion would need), the expansion itself is a
    * hash-checked leg, and the run-keyed purge crashes at the shred
    * store then converges via registry-free replay.
    */
  val forgetRun = Q(
    "q_forget_run",
    (s, dir) => {
      val base = memo("forgetrun", dir) { b =>
        val ev = tbl(s, dir, "events")
          .withColumn("eid", col("event_id").cast("long"))
          .withColumn("in_tok",
            coalesce(get_json_object(col("props"), "$.k").cast("long"),
              lit(0L)))
          .withColumn("out_tok", pmod(col("eid") * 13, lit(97L)))
          // 9-run blocks: r=0 root; r=1..4 children of the root;
          // r=5..8 grandchildren (child of block-run r-4)
          .withColumn("blk", floor(col("eid") / 9))
          .withColumn("r", pmod(col("eid"), lit(9L)))
        val rows = ev.select(
          timestamp_micros(tsMicros).as("timestamp"),
          concat(lit("run-"), col("eid")).as("run_id"),
          when(col("r") === 0, lit(""))
            .when(col("r") <= 4, concat(lit("run-"), col("blk") * 9))
            .otherwise(concat(lit("run-"),
              col("blk") * 9 + col("r") - 4)).as("parent_run_id"),
          col("user_id").cast("string").as("custom_id"),
          col("event_type"),
          lit("""{"job":"forget"}""").as("logger_metadata"),
          to_json(struct(
            col("event_type"),
            struct(
              concat(lit("m"), pmod(col("eid"), lit(3L))).as("model"),
              struct(
                col("in_tok").as("input_tokens"),
                col("out_tok").as("output_tokens"),
                (col("in_tok") + col("out_tok")).as("total_tokens"))
                .as("usage_metadata")).as("data"))).as("payload"),
          pmod(col("eid"), lit(3L)).as("slice"))
        val (log, shred, roll) = (s"$b/log", s"$b/shred", s"$b/roll")
        (0 until 3).foreach { k =>
          graft.streaming.LogStreamPipeline.tick(
            rows.filter(col("slice") === k).drop("slice"),
            k.toLong, log, shred, roll, compactEvery = 2)
        }
        // ban whole TREES: every block with blk % 7 == 3, by its root
        val roots = ev.filter(pmod(col("blk"), lit(7L)) === 3 &&
            col("r") === 0)
          .select(concat(lit("run-"), col("eid")).as("root")).distinct()
        // EXPANSION BEFORE THE PIN — and pin the expansion's size as a
        // hash-checked leg (the oracle recomputes the expected closure
        // arithmetically, so a narrowed or inflated expansion fails the
        // row instead of silently purging the wrong set)
        val expanded = graft.ops.LogForget
          .expandRunSubtree(s, log, roots).persist()
        import s.implicits._
        Seq(("expanded", expanded.count(),
            roots.count()))
          .toDF("store", "n_rows", "tok")
          .write.mode("overwrite").parquet(s"$b/expanded")
        val ledger = s"$b/ledger"
        val Seq(rollT, detailT, shredT) =
          Forget.logRunTargets(s, log, shred, roll)
        val crash = new Forget.Target(shredT.name, shredT.kind,
          shredT.path, shredT.arg, shredT.domain,
          _ => throw new RuntimeException("injected crash"))
        try Forget.forgetFrame(s, ledger, "gdpr-blk-7-3",
          Some(expanded), Seq(rollT, detailT, crash), Forget.DomString)
        catch {
          case e: RuntimeException if e.getMessage == "injected crash" =>
        }
        val pending = Forget.status(s, ledger,
            Seq(rollT.name, detailT.name, shredT.name))
          .filter(!col("acked")).count()
        val hadBanned = expanded.limit(1).count() > 0
        val crashVisible = !hadBanned || pending == 1L
        val shredLive = graft.query.ShreddedLog.read(s, shred)
        val (nBefore, nBannedBefore) =
          if (crashVisible)
            (shredLive.count(),
              shredLive.join(expanded,
                shredLive("run_id") === expanded("_fg_id"), "left_semi")
                .count())
          else (-1000000L, -1000000L)
        expanded.unpersist()
        Seq(("shred_before_replay", nBefore, nBannedBefore))
          .toDF("store", "n_rows", "tok")
          .write.mode("overwrite").parquet(s"$b/before")
        // process loss: registry-free replay rebuilds the RUN-keyed
        // targets from the ledger's closed-enum registry rows
        Forget.replay(s, ledger)
        ()
      }
      legsOverLog(s, base)
        .unionByName(Fs.readParquet(s, s"$base/expanded"))
        .orderBy("store")
    },
    Some("""WITH e AS (
              SELECT CAST(event_id AS BIGINT) AS eid,
                     COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                       AS BIGINT), 0) AS in_tok,
                     (CAST(event_id AS BIGINT) * 13) % 97 AS out_tok
              FROM events),
            c AS (SELECT * FROM e WHERE (eid // 9) % 7 <> 3)
            SELECT * FROM (
              SELECT 'log_detail' AS store,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(in_tok) AS BIGINT) AS tok FROM c
              UNION ALL
              SELECT 'rollup', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(in_tok + out_tok) AS BIGINT) FROM c
              UNION ALL
              SELECT 'shred', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(in_tok) AS BIGINT) FROM c
              UNION ALL
              SELECT 'shred_before_replay', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN (eid // 9) % 7 = 3 THEN 1
                       ELSE 0 END) AS BIGINT) FROM e
              UNION ALL
              SELECT 'expanded', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN eid % 9 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT)
              FROM e WHERE (eid // 9) % 7 = 3)
            ORDER BY store"""))

  /** The three log-store result legs shared by the forget-log oracles:
    * detail row count + parsed payload token sums, the shredded typed
    * sums, and the rollup's re-folded aggregates — each typed-zero-safe
    * when a zero-event sweep leaves a store without data files.
    */
  private def legsOverLog(s: org.apache.spark.sql.SparkSession,
      base: String): org.apache.spark.sql.DataFrame = {
    val detail = {
      import s.implicits._
      if (graft.core.Fs.listDataFiles(s, s"$base/log").isEmpty)
        Seq(("log_detail", 0L, 0L)).toDF("store", "n_rows", "tok")
      else Fs.readParquet(s, s"$base/log")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(get_json_object(col("payload"),
              "$.data.usage_metadata.input_tokens").cast("long")),
            lit(0L)).cast("long").as("tok"))
        .select(lit("log_detail").as("store"), col("n_rows"),
          col("tok"))
    }
    val shredF = graft.query.ShreddedLog.read(s, s"$base/shred")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("input_tokens")), lit(0L)).cast("long")
          .as("tok"))
      .select(lit("shred").as("store"), col("n_rows"), col("tok"))
    val rollF = graft.query.LogRollup.read(s, s"$base/roll",
        Seq("model"))
      .agg(coalesce(sum(col("n_events")), lit(0L)).cast("long")
          .as("n_rows"),
        coalesce(sum(col("tot_tokens")), lit(0L)).cast("long")
          .as("tok"))
      .select(lit("rollup").as("store"), col("n_rows"), col("tok"))
    detail.unionByName(rollF).unionByName(shredF)
      .unionByName(Fs.readParquet(s, s"$base/before"))
      .orderBy("store")
  }

  val all: Seq[Q] = Seq(forgetReplay, forgetLog, forgetString, forgetRun)
}
