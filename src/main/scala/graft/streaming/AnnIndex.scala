package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

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
  * Stores append after the corpus append; divergence (count mismatch,
  * both parquet-footer metadata reads) triggers an in-line [[rebuild]],
  * which also auto-bootstraps an intake pointed at a pre-existing
  * corpus.
  */
object AnnIndex extends IndexLifecycle {

  protected def confScope: String = "annIndex"

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

  private def metaRow(spark: SparkSession, indexDir: String): Option[(Long, String)] =
    metaRowRaw(spark, indexDir).map(r => (r.getLong(0), r.getString(1)))

  private def writeMeta(spark: SparkSession, indexDir: String, n: Long): Unit = {
    import spark.implicits._
    Seq((n, graft.operators.Similarity.lshMultiLogicVersion))
      .toDF("n_vecs", "logic_version").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** An index persisted under a different tables/bits/seeding version
    * must refuse probes: buckets would be incomparable garbage, not
    * degraded recall.
    */
  private def checkVersion(spark: SparkSession, indexDir: String): Unit =
    metaRow(spark, indexDir).foreach { case (_, v) =>
      require(v == graft.operators.Similarity.lshMultiLogicVersion,
        s"index at $indexDir was built with LSH version $v, this code is " +
          s"${graft.operators.Similarity.lshMultiLogicVersion} — rebuild() required")
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
    checkVersion(spark, indexDir)
    val q = queries.select($"vec_id", $"embedding")
    val cand = candidatePairs(spark, indexDir,
      graft.operators.Similarity.multiBucketsOf(q)) // (a_id corpus, b_id query)
    val corpusSlice = readOrEmpty(spark, corpusDir, vecSchema)
      .join(broadcast(cand.select($"a_id")), col("vec_id") === col("a_id"),
        "left_semi")
      .select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val qe = q.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    val topk = graft.functions.TopKByScore(k)
    cand
      .join(broadcast(corpusSlice), Seq("a_id"))
      .join(broadcast(qe), Seq("b_id"))
      .withColumn("cs", graft.functions.VectorFunctions.cosineSim($"eb", $"ea"))
      .filter(!isnan($"cs"))
      .groupBy($"b_id")
      .agg(topk($"cs", $"a_id").as("top"))
      .select($"b_id".as("vec_id"), posexplode($"top").as(Seq("pos", "t")))
      .select($"vec_id", ($"pos" + 1).cast("int").as("rk"),
        $"t.b_id".as("b_id"), $"t.cs".as("score"))
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
      writeMeta(spark, indexDir, n)
      n
    } finally ck.freeAll()
  }

  /** One micro-batch of indexed ANN admission: reject batch vectors with
    * an indexed cosine neighbor >= maxCosine (embedding near-dup), then
    * append survivors to the corpus store AND their bucket rows to the
    * index. In-batch near-dups are both admitted (the
    * [[CorpusStreams.admitNearDupBatch]] policy — in-batch clustering is
    * a separate step). Replay-safe the same way: a re-delivered batch's
    * ids are already indexed, so the exact id anti-join drops them
    * before any append.
    */
  def admitBatch(batch: DataFrame, corpusDir: String, indexDir: String,
      maxCosine: Double = 0.92): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ck = new CkptScope
    try {
    checkVersion(spark, indexDir)
    if (metaRow(spark, indexDir).isEmpty) writeMeta(spark, indexDir, 0L)
    // Pre-probe self-heal ([[IndexLifecycle.healIfNeeded]] — ordering
    // argument in the trait doc). Both probes are metadata reads.
    val preIdxCount = readOrEmpty(spark, s"$indexDir/bk", bkSchema)
      .select($"vec_id").distinct().count()
    val preCorpusCount = readOrEmpty(spark, corpusDir, vecSchema).count()
    healIfNeeded(spark, preCorpusCount, preIdxCount, Seq(s"$indexDir/bk")) {
      rebuild(spark, corpusDir, indexDir)
    }
    // exact replay gate: ids already in the corpus drop out (id list is
    // corpus-sided but the probe side broadcasts — store only scanned)
    val existingIds = readOrEmpty(spark, corpusDir, vecSchema).select($"vec_id")
    // a semi-join, not a de-duplicated inner join: its only consumer is
    // the anti-join below, which needs no unique keys
    val idHits = existingIds
      .join(broadcast(batch.select($"vec_id")), Seq("vec_id"), "left_semi")
    // in-batch exact-id dedup (review finding): a vec_id delivered
    // twice in ONE micro-batch passes the corpus anti-join whole, and
    // the duplicated corpus row would diverge the row-vs-distinct heal
    // counts FOREVER (a full rebuild per batch from then on).
    // Deterministic winner: lowest embedding hash.
    val fresh = ck(batch.join(broadcast(idHits), Seq("vec_id"), "left_anti")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
          .orderBy(xxhash64($"embedding"), $"label")))
      .filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"label"))
    val batchBk = ck(graft.operators.Similarity.multiBucketsOf(fresh))
    val rejected = cosineRejectedIds(spark, corpusDir, vecSchema, fresh,
      ck(candidatePairs(spark, indexDir, batchBk)), maxCosine)
    val admitted = ck(fresh.join(broadcast(rejected), Seq("vec_id"), "left_anti"))
    admitted.write.mode("append").parquet(corpusDir)
    val admittedBk = ck(batchBk
      .join(broadcast(admitted.select($"vec_id")), Seq("vec_id")))
    val nAdmitted = admittedBk.select($"vec_id").distinct().count()
    admittedBk.repartition(appendWriters(spark, nAdmitted), $"bucket")
      .write.mode("append").parquet(s"$indexDir/bk")
    compactIfOverCap(spark, Seq(s"$indexDir/bk")) {
      rebuild(spark, corpusDir, indexDir)
    }
    } finally ck.freeAll()
  }

  /** The indexed ANN admission policy as a continuous query — the
    * [[NearDupIndex.nearDupIntakeIndexed]] sibling for vector corpora:
    * embedding files land in `srcDir`, each micro-batch admits vectors
    * with no indexed near-duplicate neighbor, per-batch cost = batch +
    * candidates.
    */
  def annIntakeIndexed(spark: SparkSession, srcDir: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      maxCosine: Double = 0.92,
      glob: String = "embeddings.parquet"): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(vecSchema)
      .option("pathGlobFilter", glob)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admitBatch(batch, corpusDir, indexDir, maxCosine)
      }
      .start()
}
