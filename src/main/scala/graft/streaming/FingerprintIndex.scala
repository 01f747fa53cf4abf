package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, LongType, StringType, StructField, StructType}
import IndexLifecycle.{CkptScope, readOrEmpty}

/** A banded perceptual hasher: derives the 8-band signature relation
  * (doc_id, bands: Array[Int]) from a (doc_id, blob) relation. `name` +
  * `version` key the persisted store's meta guard — a store hashed under
  * different arithmetic must refuse probes, not mis-pair.
  */
final case class BandedHasher(name: String, version: String,
    hash: DataFrame => DataFrame)

/** Incrementally-maintained perceptual-fingerprint index — the
  * [[AnnIndex]] discipline applied to the multimodal dedup tier (q238
  * images, q240 audio), so streaming media intake never re-decodes or
  * re-pairs the corpus.
  *
  * The structural argument is the same as [[AnnIndex]]'s, one step
  * stronger: a perceptual hash is a pure function of the PAYLOAD alone
  * (no planes, no trained state — nothing even seeded), so a blob hashed
  * today lands in exactly the bands a full rebuild would assign, and
  * append-only maintenance is EXACT. Rebuild survives only as compaction
  * (file cap) and crash self-heal (corpus/store row-count divergence).
  * The DECODE stage is the expensive part of this tier (codec work per
  * blob); the persisted signature store doubles as the decode cache —
  * each admitted payload is decoded exactly once, ever.
  *
  * Stores under `indexDir`:
  *  - `fp/`   — (doc_id, bands): the 8 × 8-bit banded signature per doc
  *    (the q238/q240 band-key layout IS the storage layout).
  *  - `meta/` — (n_docs, hasher, logic_version): the guard.
  *
  * Per-batch cost = batch decode + candidates: the batch hashes alone
  * (one mapPartitions decode pass), the store is only ever SCANNED
  * against a BROADCAST of the batch's band rows, and verification (full
  * Hamming over the carried signatures) runs inside the probe join's
  * codegen stage — candidates never shuffle, exactly the q32/q238 plan
  * at micro-batch grain. Admission rejects a batch doc with any indexed
  * signature at Hamming ≤ maxHam (lossless by the 8-band pigeonhole for
  * maxHam ≤ 7).
  */
object FingerprintIndex extends IndexLifecycle {

  val fpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bands", ArrayType(IntegerType))))

  /** (doc_id, blob) — the media corpus store / streaming source shape. */
  val blobSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("blob", BinaryType)))

  /** Image intake hasher: q238's aHash bands (REAL decode for image
    * payloads, stub byte grid otherwise).
    */
  val imageHasher: BandedHasher = BandedHasher("ahash",
    graft.operators.Multimodal.pHashLogicVersion,
    df => graft.operators.Multimodal.pHashAll(df).toDF()
      .select(col("doc_id"), col("bands")))

  /** Audio intake hasher: q240's energy-delta sign bands (REAL PCM16
    * decode for audio payloads, bytes-as-samples otherwise).
    */
  val audioHasher: BandedHasher = BandedHasher("audiofp",
    graft.operators.Multimodal.audioFpLogicVersion,
    df => graft.operators.Multimodal.audioFpAll(df).toDF()
      .select(col("doc_id"), col("sbands").as("bands")))

  /** (n_docs at the last rebuild, hasher, logic_version). */
  private val meta = new MetaStore(StructType(Seq(
    StructField("n_docs", LongType),
    StructField("hasher", StringType),
    StructField("logic_version", StringType))))

  /** The stored meta, read once per call. A store persisted under a
    * different hasher or arithmetic version must refuse probes: band
    * keys would be incomparable garbage.
    */
  private def checkedMeta(spark: SparkSession, indexDir: String,
      hasher: BandedHasher): Option[Row] = {
    val m = meta.read(spark, indexDir)
    m.foreach { r =>
      val (h, v) = (r.getString(1), r.getString(2))
      require(h == hasher.name && v == hasher.version,
        s"fingerprint store at $indexDir was built by $h/$v, this intake is " +
          s"${hasher.name}/${hasher.version} — rebuild() required")
    }
    m
  }

  /** Candidate (store, batch) pairs with their full banded Hamming
    * distance: equi-join on (band_id, band_key) with the batch side
    * BROADCAST (store scanned once, nothing corpus-sized shuffles);
    * carried signatures make verification part of the join's codegen
    * stage — the q238 pipeline at micro-batch grain. Lossless for any
    * emitted threshold ≤ 7 by the 8-band pigeonhole.
    */
  def candidatePairs(spark: SparkSession, indexDir: String,
      batchFp: DataFrame): DataFrame = {
    import spark.implicits._
    val store = readOrEmpty(spark, s"$indexDir/fp", fpSchema)
    val batchRows = batchFp
      .select($"doc_id".as("b_id"), $"bands".as("bb"),
        posexplode($"bands").as(Seq("band_id", "bkey")))
    store
      .select($"doc_id".as("a_id"), $"bands".as("ba"),
        posexplode($"bands").as(Seq("band_id", "bkey")))
      .join(broadcast(batchRows), Seq("band_id", "bkey"))
      .filter($"a_id" =!= $"b_id")
      .withColumn("ham", expr(
        "CAST(aggregate(zip_with(ba, bb, (a, b) -> bit_count(a ^ b)), 0, (acc, v) -> acc + v) AS BIGINT)"))
      .select($"a_id", $"b_id", $"ham")
      .distinct()
  }

  /** Plan view for the cost-shape pin: the full per-batch probe (decode
    * batch → banded candidates → Hamming verify) over the current store,
    * no writes, fully symbolic past the codec stage so the joins stay
    * visible in the explained plan.
    */
  private[graft] def batchProbePlan(spark: SparkSession, indexDir: String,
      batch: DataFrame, hasher: BandedHasher, maxHam: Long): DataFrame =
    rejectedIds(spark, indexDir, hasher.hash(batch), maxHam)

  /** Batch doc ids with an indexed signature at Hamming ≤ maxHam. The
    * result is a multiset: an id repeats once per such indexed
    * signature. Its one consumer anti-joins on it, which needs no unique
    * keys, so no shuffle is paid to de-duplicate it.
    */
  private def rejectedIds(spark: SparkSession, indexDir: String,
      batchFp: DataFrame, maxHam: Long): DataFrame =
    candidatePairs(spark, indexDir, batchFp)
      .filter(col("ham") <= maxHam)
      .select(col("b_id").as("doc_id"))

  /** Full store (re)derivation from the media corpus — bootstrap over an
    * existing corpus, compaction, crash recovery. One O(corpus) DECODE
    * pass (the expensive trigger this index exists to avoid per batch);
    * the output is identical to what incremental appends produced
    * (payload-pure hashes), so rebuild never changes candidates, only
    * file layout.
    */
  def rebuild(spark: SparkSession, corpusDir: String, indexDir: String,
      hasher: BandedHasher): Long = {
    import spark.implicits._
    val corpus = readOrEmpty(spark, corpusDir, blobSchema)
    val ck = new CkptScope
    try {
      val fp = ck(hasher.hash(corpus))
      val n = fp.select($"doc_id").distinct().count()
      fp.coalesce(compactFiles(spark, n)).write.mode("overwrite").parquet(s"$indexDir/fp")
      meta.write(spark, indexDir, n, hasher.name, hasher.version)
      n
    } finally ck.freeAll()
  }

  /** One micro-batch of fingerprint-indexed admission: reject batch docs
    * with an indexed signature at Hamming ≤ maxHam (perceptual near-dup),
    * append survivors' payloads to the corpus store and their signatures
    * to the index. In-batch near-dups are both admitted (the
    * [[CorpusStreams.admitNearDupBatch]] policy). Replay-safe through
    * the exact id gate ([[IndexLifecycle.replayGate]]): a re-delivered
    * batch's ids are already in the corpus, so they drop out before any
    * append, and a doc_id delivered twice in one batch is admitted once.
    */
  def admitBatch(batch: DataFrame, corpusDir: String, indexDir: String,
      hasher: BandedHasher, maxHam: Long = 7L): Unit = {
    // 8-band pigeonhole: candidate generation is lossless only for
    // Hamming <= 7 (one band must match exactly). A larger threshold
    // would silently under-reject — refuse at the API boundary.
    require(maxHam <= 7L,
      s"maxHam=$maxHam exceeds the 8-band pigeonhole bound (lossless only for <= 7)")
    val spark = batch.sparkSession
    import spark.implicits._
    val ck = new CkptScope
    try {
    if (checkedMeta(spark, indexDir, hasher).isEmpty)
      meta.write(spark, indexDir, 0L, hasher.name, hasher.version)
    // Pre-probe self-heal ([[IndexLifecycle.healIfNeeded]] — ordering
    // argument in the trait doc).
    val (preCorpusCount, preIdxCount) = healCounts(
      readOrEmpty(spark, corpusDir, blobSchema),
      readOrEmpty(spark, s"$indexDir/fp", fpSchema), "doc_id")
    healIfNeeded(spark, preCorpusCount, preIdxCount, Seq(s"$indexDir/fp")) {
      rebuild(spark, corpusDir, indexDir, hasher)
    }
    // exact replay gate; an in-batch duplicate id keeps the lowest
    // payload hash
    val fresh = ck(replayGate(batch.select($"doc_id", $"blob"),
      readOrEmpty(spark, corpusDir, blobSchema), "doc_id", xxhash64($"blob")))
    // decode ONCE per batch; every downstream consumer reads the
    // checkpointed signatures, never the codec stage
    val batchFp = ck(hasher.hash(fresh))
    val rejected = rejectedIds(spark, indexDir, batchFp, maxHam)
    val admitted = ck(fresh.join(broadcast(rejected), Seq("doc_id"), "left_anti"))
    admitted.write.mode("append").parquet(corpusDir)
    appendStore(spark,
      batchFp.join(broadcast(admitted.select($"doc_id")), Seq("doc_id")),
      admitted.count(), s"$indexDir/fp", $"doc_id")
    compactIfOverCap(spark, Seq(s"$indexDir/fp")) {
      rebuild(spark, corpusDir, indexDir, hasher)
    }
    } finally ck.freeAll()
  }
}
