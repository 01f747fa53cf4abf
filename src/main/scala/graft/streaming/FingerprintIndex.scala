package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, LongType, StructField, StructType}

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

  protected def confScope: String = "fpIndex"

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

  private def metaRow(spark: SparkSession,
      indexDir: String): Option[(Long, String, String)] =
    metaRowRaw(spark, indexDir)
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  private def writeMeta(spark: SparkSession, indexDir: String, n: Long,
      hasher: BandedHasher): Unit = {
    import spark.implicits._
    Seq((n, hasher.name, hasher.version))
      .toDF("n_docs", "hasher", "logic_version").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** A store persisted under a different hasher or arithmetic version
    * must refuse probes: band keys would be incomparable garbage.
    */
  private def checkVersion(spark: SparkSession, indexDir: String,
      hasher: BandedHasher): Unit =
    metaRow(spark, indexDir).foreach { case (_, h, v) =>
      require(h == hasher.name && v == hasher.version,
        s"fingerprint store at $indexDir was built by $h/$v, this intake is " +
          s"${hasher.name}/${hasher.version} — rebuild() required")
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
      writeMeta(spark, indexDir, n, hasher)
      n
    } finally ck.freeAll()
  }

  /** One micro-batch of fingerprint-indexed admission: reject batch docs
    * with an indexed signature at Hamming ≤ maxHam (perceptual near-dup),
    * append survivors' payloads to the corpus store and their signatures
    * to the index. In-batch near-dups are both admitted (the
    * [[CorpusStreams.admitNearDupBatch]] policy). Replay-safe: a
    * re-delivered batch's ids are already in the corpus, so the exact id
    * anti-join drops them before any append.
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
    checkVersion(spark, indexDir, hasher)
    if (metaRow(spark, indexDir).isEmpty) writeMeta(spark, indexDir, 0L, hasher)
    // Pre-probe self-heal ([[IndexLifecycle.healIfNeeded]] — ordering
    // argument in the trait doc). Both probes are metadata reads.
    val preIdxCount = readOrEmpty(spark, s"$indexDir/fp", fpSchema).count()
    val preCorpusCount = readOrEmpty(spark, corpusDir, blobSchema).count()
    healIfNeeded(spark, preCorpusCount, preIdxCount, Seq(s"$indexDir/fp")) {
      rebuild(spark, corpusDir, indexDir, hasher)
    }
    val existingIds = readOrEmpty(spark, corpusDir, blobSchema).select($"doc_id")
    // a semi-join, not a de-duplicated inner join: its only consumer is
    // the anti-join below, which needs no unique keys
    val idHits = existingIds
      .join(broadcast(batch.select($"doc_id")), Seq("doc_id"), "left_semi")
    val fresh = ck(batch.join(broadcast(idHits), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"blob"))
    // decode ONCE per batch; every downstream consumer reads the
    // checkpointed signatures, never the codec stage
    val batchFp = ck(hasher.hash(fresh))
    val rejected = rejectedIds(spark, indexDir, batchFp, maxHam)
    val admitted = ck(fresh.join(broadcast(rejected), Seq("doc_id"), "left_anti"))
    admitted.write.mode("append").parquet(corpusDir)
    val admittedFp = ck(batchFp
      .join(broadcast(admitted.select($"doc_id")), Seq("doc_id")))
    val nAdmitted = admittedFp.count()
    admittedFp.coalesce(appendWriters(spark, nAdmitted))
      .write.mode("append").parquet(s"$indexDir/fp")
    compactIfOverCap(spark, Seq(s"$indexDir/fp")) {
      rebuild(spark, corpusDir, indexDir, hasher)
    }
    } finally ck.freeAll()
  }

  /** The fingerprint-indexed admission policy as a continuous query —
    * media blob files land in `srcDir`, each micro-batch admits payloads
    * with no indexed perceptual near-duplicate; per-batch cost = batch
    * decode + candidates. Pass [[imageHasher]] or [[audioHasher]].
    */
  def mediaIntakeIndexed(spark: SparkSession, srcDir: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      hasher: BandedHasher, maxHam: Long = 7L,
      glob: String = "*.parquet"): org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at CONSTRUCTION, not on the first micro-batch hours later
    // (admitBatch re-checks, but a misconfigured stream should never
    // start) — the 8-band pigeonhole bound, see admitBatch
    require(maxHam <= 7L,
      s"maxHam=$maxHam exceeds the 8-band pigeonhole bound (lossless only for <= 7)")
    spark.readStream.schema(blobSchema)
      .option("pathGlobFilter", glob)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admitBatch(batch, corpusDir, indexDir, hasher, maxHam)
      }
      .start()
  }
}
