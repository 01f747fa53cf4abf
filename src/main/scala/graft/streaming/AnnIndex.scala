package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import IndexLifecycle.{CkptScope, readOrEmpty}

/** Incrementally-maintained ANN index — the [[NearDupIndex]] discipline
  * applied to the tuned multi-table LSH index (r12 verdict item 3).
  *
  * [[graft.operators.Similarity.lshMultiBuckets]] is session-memoized and
  * rebuilt per session; a streaming vector corpus needs the index
  * maintained per batch. The key structural difference from the text
  * index: LSH plane weights are SEEDED and DATA-INDEPENDENT
  * ([[graft.operators.Similarity.multiBucketsOf]] — md5-derived, never
  * trained), so a batch hashed today lands in exactly the buckets a full
  * rebuild would assign. Append-only maintenance is therefore EXACT —
  * no frozen-frequency snapshot, no rebuild-on-doubling for correctness
  * (CorpusStreamsSpec pins per-batch candidates equal to the batch-path
  * recompute bit for bit). Rebuild exists only as COMPACTION (file-count
  * cap) and crash self-heal (corpus/index row-count divergence), the
  * NearDupIndex lifecycle with the correctness trigger deleted.
  *
  * Stores under `indexDir`:
  *  - `bk/`   — (vec_id, tbl, bucket): the slim 4·n-row bucket relation
  *    (vectors live in the corpus store, never duplicated here).
  *  - `meta/` — (n_vecs at last compaction, logicVersion): a probe built
  *    for different tables/bits/seeding must refuse, not mis-bucket
  *    (the NearDupIndex threshold-guard pattern).
  *
  * Per-batch cost = batch + candidates: the batch's buckets are computed
  * from the batch alone (64·|batch| plane products), the store is only
  * ever SCANNED against a broadcast of the batch's bucket keys, and
  * verification fetches corpus embeddings for candidate partners only.
  * No corpus-sized shuffle anywhere — the property CorpusStreamsSpec
  * pins on the probe plan.
  *
  * Crash story: derived state, corpus parquet is the source of truth.
  * Stores append after the corpus append; divergence (corpus rows vs
  * indexed ids, one aggregate) triggers an in-line [[rebuild]], which
  * also auto-bootstraps an intake pointed at a pre-existing corpus.
  */
object AnnIndex extends IndexLifecycle {

  // tbl is LONG: multiBucketsOf derives it via `p DIV 8` (IntegralDivide)
  val bkSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("tbl", LongType),
    StructField("bucket", LongType)))

  /** embeddings-shaped schema for streaming file sources and store reads. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** (n_vecs at the last rebuild, logic_version). */
  private val meta = new MetaStore(StructType(Seq(
    StructField("n_vecs", LongType),
    StructField("logic_version", StringType))))

  /** The stored meta, read once per call. An index persisted under a
    * different tables/bits/seeding version must refuse probes: buckets
    * would be incomparable garbage, not degraded recall.
    */
  private def checkedMeta(spark: SparkSession, indexDir: String): Option[Row] = {
    val m = meta.read(spark, indexDir)
    m.foreach { r =>
      require(r.getString(1) == graft.operators.Similarity.lshMultiLogicVersion,
        s"index at $indexDir was built with LSH version ${r.getString(1)}, this code is " +
          s"${graft.operators.Similarity.lshMultiLogicVersion} — rebuild() required")
    }
    m
  }

  /** Candidate (batch, corpus) pairs from probing the persisted bucket
    * store with a batch's bucket rows: equi-join on (tbl, bucket) with
    * the batch side BROADCAST, so the store is scanned once and nothing
    * corpus-sized shuffles. Multi-table co-occurrences dedup to one
    * candidate (the q193/q225 convention).
    */
  def candidatePairs(spark: SparkSession, indexDir: String,
      batchBk: DataFrame): DataFrame = {
    import spark.implicits._
    val store = readOrEmpty(spark, s"$indexDir/bk", bkSchema)
    store.join(broadcast(batchBk.select($"vec_id".as("b_id"), $"tbl", $"bucket")),
        Seq("tbl", "bucket"))
      .filter($"vec_id" =!= $"b_id")
      .select($"vec_id".as("a_id"), $"b_id")
      .distinct()
  }

  /** Plan view for the cost-shape pin: the full per-batch probe
    * (hash batch → candidates → cosine verify) over the current stores,
    * no writes, fully symbolic (no checkpoint) so the joins stay visible
    * in the explained plan.
    */
  private[graft] def batchProbePlan(spark: SparkSession, indexDir: String,
      corpusDir: String, batch: DataFrame, maxCosine: Double): DataFrame = {
    val bk = graft.operators.Similarity.multiBucketsOf(batch)
    cosineRejectedIds(spark, corpusDir, vecSchema, batch,
      candidatePairs(spark, indexDir, bk), maxCosine)
  }

  /** Ranked top-k similarity SEARCH over the persisted LSH index — the
    * [[IvfIndex.topK]] sibling for the multi-table family (q225's
    * search shape at serving grain, over the streaming store).
    * Candidates come from bucket co-occurrence in ANY of the tables
    * (data-independent hashes, so the candidate set is identical to a
    * full-rebuild probe); each candidate pays ONE exact cosine against
    * the query — this family has no quantization tier, its byte economy
    * is the 32 B/vec bucket store (q243) — reduced per query through
    * the bounded-state [[graft.functions.TopKByScore]] aggregator
    * (map-side partial). All joins broadcast the query side or the
    * candidate-ids slice; the bucket store and the corpus are only ever
    * scanned. A zero-norm query or corpus vector's cosine is NaN —
    * excluded before ranking, the family's standing convention.
    * Returns (vec_id, rk, b_id, score), rk 1-based best-first, score =
    * exact cosine. Version-guarded like every probe.
    */
  def topK(spark: SparkSession, indexDir: String, corpusDir: String,
      queries: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    checkedMeta(spark, indexDir)
    val q = queries.select($"vec_id", $"embedding")
    val cand = candidatePairs(spark, indexDir,
      graft.operators.Similarity.multiBucketsOf(q)) // (a_id corpus, b_id query)
    val corpusSlice = readOrEmpty(spark, corpusDir, vecSchema)
      .join(broadcast(cand.select($"a_id")), col("vec_id") === col("a_id"),
        "left_semi")
      .select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val qe = q.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    val scored = cand
      .join(broadcast(corpusSlice), Seq("a_id"))
      .join(broadcast(qe), Seq("b_id"))
      .withColumn("cs", graft.functions.VectorFunctions.cosineSim($"eb", $"ea"))
      .filter(!isnan($"cs"))
    graft.functions.TopKByScore.ranked(scored, "b_id", "cs", "a_id", k)
      .select($"b_id".as("vec_id"), $"rk", $"a_id".as("b_id"), $"cs".as("score"))
  }

  /** Full index (re)derivation from the corpus store — bootstrap over an
    * existing corpus, compaction, crash recovery. One O(corpus) hashing
    * pass; unlike [[NearDupIndex.rebuild]] the OUTPUT is identical to
    * what incremental appends produced (data-independent hashes), so
    * this never changes candidates, only file layout.
    */
  def rebuild(spark: SparkSession, corpusDir: String, indexDir: String): Long = {
    import spark.implicits._
    val corpus = readOrEmpty(spark, corpusDir, vecSchema)
      .select($"vec_id", $"embedding")
    val ck = new CkptScope
    try {
      val bk = ck(graft.operators.Similarity.multiBucketsOf(corpus))
      val n = bk.select($"vec_id").distinct().count()
      bk.coalesce(compactFiles(spark, n)).write.mode("overwrite").parquet(s"$indexDir/bk")
      meta.write(spark, indexDir, n, graft.operators.Similarity.lshMultiLogicVersion)
      n
    } finally ck.freeAll()
  }

  /** One micro-batch of indexed ANN admission: reject batch vectors with
    * an indexed cosine neighbor >= maxCosine (embedding near-dup), then
    * append survivors to the corpus store AND their bucket rows to the
    * index. In-batch near-dups are both admitted (the
    * [[CorpusStreams.admitNearDupBatch]] policy — in-batch clustering is
    * a separate step). Replay-safe through the exact id gate
    * ([[IndexLifecycle.replayGate]]): a re-delivered batch's ids are
    * already in the corpus, so they drop out before any append.
    */
  def admitBatch(batch: DataFrame, corpusDir: String, indexDir: String,
      maxCosine: Double = 0.92): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ck = new CkptScope
    try {
    if (checkedMeta(spark, indexDir).isEmpty)
      meta.write(spark, indexDir, 0L, graft.operators.Similarity.lshMultiLogicVersion)
    // Pre-probe self-heal ([[IndexLifecycle.healIfNeeded]] — ordering
    // argument in the trait doc).
    val (preCorpusCount, preIdxCount) = healCounts(
      readOrEmpty(spark, corpusDir, vecSchema),
      readOrEmpty(spark, s"$indexDir/bk", bkSchema), "vec_id")
    healIfNeeded(spark, preCorpusCount, preIdxCount, Seq(s"$indexDir/bk")) {
      rebuild(spark, corpusDir, indexDir)
    }
    // exact replay gate; an in-batch duplicate id keeps the lowest
    // embedding hash
    val fresh = ck(replayGate(batch, readOrEmpty(spark, corpusDir, vecSchema),
        "vec_id", xxhash64($"embedding"), $"label")
      .select($"vec_id", $"embedding", $"label"))
    val batchBk = ck(graft.operators.Similarity.multiBucketsOf(fresh))
    val rejected = cosineRejectedIds(spark, corpusDir, vecSchema, fresh,
      ck(candidatePairs(spark, indexDir, batchBk)), maxCosine)
    val admitted = ck(fresh.join(broadcast(rejected), Seq("vec_id"), "left_anti"))
    admitted.write.mode("append").parquet(corpusDir)
    appendStore(spark,
      batchBk.join(broadcast(admitted.select($"vec_id")), Seq("vec_id")),
      admitted.count(), s"$indexDir/bk", $"bucket")
    compactIfOverCap(spark, Seq(s"$indexDir/bk")) {
      rebuild(spark, corpusDir, indexDir)
    }
    } finally ck.freeAll()
  }
}
