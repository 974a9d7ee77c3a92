package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** Suppression anti-join for key sets too large to broadcast exactly —
  * "drop every document whose fingerprint is already in the previous
  * training runs" at 100 TB.
  *
  * The exact form of that contract is a shuffle anti-join: both sides
  * exchange on the key, and the corpus — the 100 TB side — pays a full
  * shuffle for what is almost always a miss. The broadcast form
  * (`Decontaminate.clean`) fixes that only while the suppression side
  * fits in memory as an exact set. This operator covers the remaining
  * regime: the suppression list is sketched into a [[graft.functions
  * .BloomAgg Bloom filter]] (10 bits/key at 1% fpp — 1 B keys ≈ 1.2 GB,
  * broadcastable where the exact 8-byte key set plus hash overhead is
  * not), the corpus probes it MAP-SIDE, and only probe HITS — true
  * matches plus the fpp sliver — continue into the exact anti-join.
  * Misses (the overwhelming majority) pass through with zero shuffle.
  *
  * The answer is EXACT: the sketch has no false negatives, so a
  * pass-through row provably has no partner; hits are re-verified by a
  * real anti-join, so false positives never drop a row. `q_bloom_suppress`
  * pins this cross-engine with a plain-anti-join DuckDB oracle.
  *
  * Differs from `q_bloom_prejoin` (ScaleQueries.scala), which hands
  * Spark's internal transient sketch to a SEMI join: this one (a) is an
  * ANTI join, where Spark's automatic runtime filtering never applies —
  * the probe must pass misses, not drop them; (b) persists — sketches are
  * a stable on-disk format with a union aggregate, so the suppression
  * list accrues per-shard in a ledger instead of being rebuilt from raw
  * keys every run; (c) has no conf-tied size caps.
  *
  * Reference analog: the checkpoint anti-join that keeps already-retrieved
  * custom_ids out of a batch poll (`background_retrieval.py:157-169`) —
  * same suppression contract, sketch-scaled.
  */
object BloomSuppress {

  /** Build one sketch over `keys.(keyCol)` (BIGINT). One map pass,
    * constant-size partial aggregation; the driver fetch is the sketch
    * itself — bounded model state (mBits/8 bytes), not data.
    *
    * `expectedKeys < 0` → count first (a second scan of the SUPPRESSION
    * side only; pass the known count to stay single-pass).
    */
  def sketch(
      keys: DataFrame,
      keyCol: String,
      fpp: Double = 0.01,
      expectedKeys: Long = -1L): Array[Byte] = {
    val n = if (expectedKeys >= 0) expectedKeys else keys.count()
    val (mBits, k) = graft.functions.BloomBits.size(n, fpp)
    keys.agg(expr(s"bloom_agg($keyCol, $mBits, $k)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** `corpus` minus every row whose `keyCol` appears in `suppress`
    * (exact anti-join semantics, sketch-pruned shuffle). */
  def antiJoin(
      corpus: DataFrame,
      suppress: DataFrame,
      keyCol: String,
      fpp: Double = 0.01,
      expectedKeys: Long = -1L): DataFrame =
    antiJoinSketch(corpus, suppress, keyCol,
      sketch(suppress, keyCol, fpp, expectedKeys))

  /** [[antiJoin]] against an already-built sketch (e.g. read back from a
    * [[appendShard ledger]] and union-merged) — the steady-state path:
    * the suppression side's raw keys are only scanned to verify probe
    * hits, never to rebuild the filter.
    */
  /** Works on a STREAMING corpus too: the probe is a stateless map-side
    * filter and the verify branch a stream-static anti-join (supported,
    * stateless — no watermark/state store), so the same call suppresses
    * an ingest firehose inline with exact batch semantics
    * (StreamBloomSuppressSpec pins stream ≡ batch).
    *
    * Null keys: a null `keyCol` never enters the sketch (aggregate skips
    * nulls) and a null probe drops the row from BOTH branches — i.e.
    * null-keyed corpus rows are excluded from the result, matching SQL
    * `key NOT IN (non-null set)` UNKNOWN semantics. Fingerprint with a
    * null-safe expression (e.g. `md5num(coalesce(text, ''))`) if such
    * rows must survive.
    */
  def antiJoinSketch(
      corpus: DataFrame,
      suppress: DataFrame,
      keyCol: String,
      sketchBytes: Array[Byte]): DataFrame = {
    // a headerless sketch (e.g. from a zero-row ledger) would throw an
    // opaque ArrayIndexOutOfBounds deep inside codegen on first probe
    require(sketchBytes.length >= graft.functions.BloomBits.headerBytes,
      s"antiJoinSketch: sketch has ${sketchBytes.length} bytes, below the " +
        s"${graft.functions.BloomBits.headerBytes}-byte header — was it " +
        "built from an empty ledger? (use ledgerSketch on a non-empty dir)")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val maybe = call_function("bloom_contains",
      typedLit(sketchBytes), col(keyCol))
    // No false negatives: a probe miss provably has no partner — emit
    // map-side. Hits re-verify through the exact anti-join; only they
    // (true matches + the fpp sliver of the corpus) are shuffled.
    val clean = corpus.filter(!maybe)
    val verified = corpus.filter(maybe)
      .join(suppress.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    clean.unionByName(verified)
  }

  // ---------------------------------------------------------------------
  // Sketch ledger: the persistent form. One row per ingested shard —
  // (shard, n_keys, fpp, sketch bytes) — appended with the staged-commit
  // idiom (concurrent appenders safe, object-store safe). Reading unions
  // the shard sketches with bloom_merge_agg: the suppression list grows
  // incrementally without ever re-scanning old shards' raw keys.
  //
  // All shards must share (mBits, k) for the union to be defined, so the
  // ledger pins the geometry at creation time via `capacityKeys` — size
  // for the key volume the ledger will EVER hold, not the first shard
  // (10 bits/key: over-provisioning is cheap; re-sharding is not).
  // ---------------------------------------------------------------------

  /** Sketch `keys` as shard `shard` and append it to the ledger at
    * `dir`. Geometry comes from (capacityKeys, fpp) so every shard
    * merges; re-appending an existing shard id is fine (Bloom union is
    * idempotent).
    */
  def appendShard(
      keys: DataFrame,
      keyCol: String,
      dir: String,
      shard: String,
      capacityKeys: Long,
      fpp: Double = 0.01,
      enforceCapacity: Boolean = true): Unit = {
    val s = keys.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(s)
    val (mBits, k) = graft.functions.BloomBits.size(capacityKeys, fpp)
    if (Fs.nonEmptyDir(s, dir)) {
      // Geometry drift (a later caller passing a different capacity)
      // would otherwise only surface rounds later, inside
      // bloom_merge_agg's union require — fail at the append instead.
      val r = fillReport(s, dir)
      require(r.mBits == mBits && r.k == k,
        s"appendShard($dir): ledger geometry is (mBits=${r.mBits}, " +
          s"k=${r.k}) but capacityKeys=$capacityKeys/fpp=$fpp derive " +
          s"(mBits=$mBits, k=$k) — pass the ledger's original capacity")
      // Refuse silent decay: past capacity the effective fpp climbs and
      // every extra false positive is a needlessly shuffled corpus row.
      // The trigger is measured fpp degradation (>2× declared — reached
      // ~1.3× past capacity), not a raw key-count compare: bit-fill-based
      // estimates ignore replayed/cross-shard duplicate keys and carry a
      // few % noise right at capacity, so legitimate at-capacity ledgers
      // and idempotent re-appends never trip.
      if (enforceCapacity)
        require(r.estimatedFpp <= 2.0 * r.declaredFpp,
          f"appendShard($dir): ledger is saturated — estimated fpp " +
            f"${r.estimatedFpp}%.4f vs declared ${r.declaredFpp}%.4f " +
            f"(~${r.estimatedDistinctKeys} distinct keys vs capacity " +
            s"${r.capacityKeys}) — rebuild with a larger capacityKeys, " +
            "or pass enforceCapacity=false")
    }
    val row = keys
      .agg(expr(s"bloom_agg($keyCol, $mBits, $k)").as("sketch"),
        count(col(keyCol)).as("n_keys"))
      .select(lit(shard).as("shard"), col("n_keys"),
        lit(fpp).as("fpp"), col("sketch"))
    Fs.stagedAppend(row.coalesce(1), Nil, dir)
  }

  /** Saturation observability for a sketch ledger — the [[graft.ops
    * .ProductQuantizer ProductQuantizer.driftReport]] pattern applied to
    * the other persistent sketch: without it, a ledger quietly drifting
    * past its pinned capacity degrades into near-100% false positives
    * (every corpus row shuffles into the verify join) with no signal.
    *
    * `bitFillFraction` is the ground truth (actual set bits in the merged
    * sketch), robust to replayed shards and cross-shard duplicate keys
    * that inflate `totalKeysIngested`. From it:
    * estimated distinct keys n̂ = −(m/k)·ln(1−fill) (standard Bloom
    * occupancy inversion) and estimated fpp = fill^k.
    */
  final case class FillReport(
      nShards: Long,
      totalKeysIngested: Long,
      mBits: Int,
      k: Int,
      declaredFpp: Double,
      capacityKeys: Long,
      bitFillFraction: Double,
      estimatedDistinctKeys: Long,
      estimatedFpp: Double) {
    def saturated: Boolean = estimatedDistinctKeys >= capacityKeys
  }

  /** Compute the [[FillReport]] for the ledger at `dir`. One metadata-
    * scale ledger read; the popcount runs on the driver over the merged
    * sketch — bounded model state (mBits/8 bytes), same as every probe.
    */
  def fillReport(spark: SparkSession, dir: String): FillReport = {
    val meta = Fs.readParquet(spark, dir)
      .agg(count(lit(1)).as("n_shards"),
        coalesce(sum(col("n_keys")), lit(0L)).as("total_keys"),
        first(col("fpp"), ignoreNulls = true).as("fpp"))
      .head()
    val bf = ledgerSketch(spark, dir)
    val bb = java.nio.ByteBuffer.wrap(bf)
    val mBits = bb.getInt()
    val k = bb.getInt()
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var set = 0L
    while (bb.remaining() >= 8) set += java.lang.Long.bitCount(bb.getLong())
    val declaredFpp = meta.getDouble(2)
    val fill = set.toDouble / mBits
    // invert BloomBits.size: the capacity the geometry was derived from
    val ln2 = math.log(2.0)
    val capacity = math.round(-mBits * ln2 * ln2 / math.log(declaredFpp))
    val estDistinct =
      if (fill >= 1.0) Long.MaxValue
      else math.round(-(mBits.toDouble / k) * math.log1p(-fill))
    FillReport(meta.getLong(0), meta.getLong(1), mBits, k, declaredFpp,
      capacity, fill, estDistinct, math.pow(fill, k.toDouble))
  }

  /** Union of every shard sketch in the ledger — one binary. Fails
    * loudly on an empty/all-null ledger (the merged sketch would have no
    * header and every later probe would throw inside codegen).
    */
  def ledgerSketch(spark: SparkSession, dir: String): Array[Byte] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val bf = Fs.readParquet(spark, dir)
      .agg(expr("bloom_merge_agg(sketch)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    require(bf.length >= graft.functions.BloomBits.headerBytes,
      s"ledgerSketch($dir): ledger holds no sketches — nothing to probe")
    bf
  }
}
