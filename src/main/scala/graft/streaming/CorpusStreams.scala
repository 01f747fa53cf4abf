package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming corpus intake — the continuous-ingestion form of the batch
  * corpus-prep operators: document files land as they are crawled, and
  * each micro-batch admits quality-gated, never-seen-before texts exactly
  * once. Composes the batch semantics of q27 (token gate), q30 (exact
  * dedup on the text fingerprint) and q76's token accounting into the
  * `readStream → transform → writeStream` shape, so a deployment can run
  * the same admission policy continuously instead of in nightly batches.
  *
  * State note: exact first-occurrence dedup is inherently full-history —
  * `dropDuplicates` on the fingerprint keeps one state row per distinct
  * admitted text, which is the deduped corpus cardinality (not the
  * ingest volume). At 100 TB that state lives in a checkpointed state
  * store scaled by `spark.sql.shuffle.partitions`; the cheaper
  * approximate regime (Bloom prefilter + periodic compaction) is the
  * batch q59 machinery applied per micro-batch.
  */
object CorpusStreams {

  /** documents-shaped schema for streaming file sources (streaming reads
    * require a declared schema).
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based stream over the documents table. The source needs a
    * directory base path, so the fixture dir is narrowed to the table's
    * own file(s) with a glob — without it the stream would list and
    * decode every sibling table through this schema on each batch.
    */
  def fileStream(spark: SparkSession, dir: String,
      glob: String = "documents.parquet"): DataFrame =
    spark.readStream.schema(documentsSchema)
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** Admission pipeline: fingerprint, token-gate (>= minTokens), and
    * cross-batch exact dedup by fingerprint — first occurrence wins,
    * every later exact copy (same batch or any later one) is dropped.
    * The fingerprint is q30's normalized form (whitespace-collapsed,
    * trimmed, lowercased) so the stream admits exactly what the nightly
    * batch dedup would keep — not a stricter byte-identical variant.
    */
  def intake(docs: DataFrame, minTokens: Int = 5): DataFrame =
    docs
      .withColumn("fp", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .withColumn("n_tokens", size(split(trim(col("text")), " ")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .dropDuplicates("fp")
      .select(col("doc_id"), col("source"), col("fp"), col("n_tokens"))

  /** One micro-batch of the NEAR-DUP admission policy against an evolving
    * corpus directory: token-gate, in-batch exact dedup (first occurrence
    * by doc_id — deterministic, not "whichever task won"), cross-corpus
    * exact anti-join on the q30 fingerprint, then the q47 inverted-index
    * near-dup probe ([[graft.operators.Dedup.crossNearDupIds]]) against
    * everything admitted so far; survivors are appended to `corpusDir`
    * (doc_id, source, fp, n_tokens, text — text is retained because it IS
    * the near-dup index for later batches). In-batch near-dup pairs are
    * both admitted, matching q59's policy (in-batch clustering is q51's
    * job, a separate step).
    *
    * Replay safety: a re-delivered batch re-appends nothing — every doc
    * of the replayed batch is already in the corpus, so the exact
    * anti-join drops the whole batch. The admission policy itself is the
    * idempotence mechanism; a production deployment would still put a
    * transactional table format under `corpusDir` to also survive
    * mid-append crashes (append-then-crash leaves a torn file outside
    * what parquet readers list — acceptable for the fixture, documented
    * for the real thing).
    */
  /** Schema of the admitted-corpus store [[admitNearDupBatch]] appends
    * to. Declared so reads of an existing-but-EMPTY directory (crash
    * between mkdir and the first append) don't throw schema inference
    * errors, and so the empty-corpus bootstrap frame matches exactly.
    */
  val corpusStoreSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("fp", StringType),
    StructField("n_tokens", LongType),
    StructField("text", StringType)))

  def admitNearDupBatch(batch: DataFrame, corpusDir: String,
      minTokens: Int = 5, minJaccard: Double = 0.7): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // existence via the Hadoop FileSystem API, not java.io.File — the
    // corpus dir is any FS scheme in deployment (hdfs://, s3a://), and
    // the declared schema covers the existing-but-empty-directory case
    val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: DataFrame =
      if (fs.exists(corpusPath))
        spark.read.schema(corpusStoreSchema).parquet(corpusDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], corpusStoreSchema)
    val gated = batch
      .withColumn("fp", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .withColumn("n_tokens", size(split(trim(col("text")), " ")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp").orderBy($"doc_id")))
      .filter($"rk" === 1).drop("rk")
      .join(existing.select($"fp"), Seq("fp"), "left_anti")
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"text")
      .localCheckpoint() // branches into the near-dup probe and the append
    val nearDups = graft.operators.Dedup.crossNearDupIds(
      existing.select($"doc_id", $"text"), gated.select($"doc_id", $"text"),
      minJaccard)
    gated.join(nearDups, Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(corpusDir)
  }

  /** The near-dup admission policy as a continuous query: files land in
    * `srcDir`, each micro-batch runs [[admitNearDupBatch]] against
    * `corpusDir` via foreachBatch — the standard shape when a streaming
    * sink must also be a growing JOIN INPUT for later batches (the
    * evolving-corpus self-join is not expressible as a stateful streaming
    * operator: the state is the admitted TEXT index, which
    * mapGroupsWithState would have to shard by shingle while admission
    * decisions are per-doc). State size note as for [[intake]]: the
    * corpus directory grows with deduped-corpus cardinality.
    *
    * COST note (measured, NOTES_r8 §8): this form re-shingles
    * the whole admitted corpus every micro-batch — per-batch shuffle
    * grows linearly with the corpus (6→66 MB per 1k-doc batch while the
    * corpus grows 1k→20k docs). Correct and fine for small/medium
    * corpora; at scale use [[NearDupIndex.nearDupIntakeIndexed]], which
    * maintains the prefix-filter index incrementally (identical
    * admission decisions — pinned by CorpusStreamsSpec — with per-batch
    * cost bounded by batch + candidates, not corpus).
    */
  def nearDupIntake(spark: SparkSession, srcDir: String, corpusDir: String,
      checkpointDir: String, minTokens: Int = 5, minJaccard: Double = 0.7,
      glob: String = "documents.parquet"): org.apache.spark.sql.streaming.StreamingQuery =
    fileStream(spark, srcDir, glob)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admitNearDupBatch(batch, corpusDir, minTokens, minJaccard)
      }
      .start()

  /** Incrementally-maintained shard manifest — q192's export handshake
    * as a CONTINUOUS query: each micro-batch aggregates ITS OWN docs to
    * (split, shard) partials ([[graft.operators.Corpus.manifestPartials]]
    * — counts, token/id sums, mod-10¹⁵ content residues, all additive)
    * and appends them to `storeDir` WITHOUT reading the store — per-batch
    * cost is the batch, never the corpus (contrast the naive
    * recompute-the-manifest-per-batch form, which re-hashes all history
    * every trigger). [[readManifest]] merges the stored partials to the
    * exact batch-q192 answer; CorpusStreamsSpec pins streaming == batch
    * over a multi-batch file stream. Store growth is
    * batches × (≤ 3·64 cells) tiny rows; the compacting-rebuild cadence
    * ([[graft.operators.Sinks.compactLake]]) bounds file count if a
    * deployment ever cares.
    */
  def manifestStream(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String, glob: String = "documents.parquet")
      : org.apache.spark.sql.streaming.StreamingQuery =
    fileStream(spark, srcDir, glob)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Corpus.manifestPartials(batch)
          .write.mode("append").parquet(storeDir)
      }
      .start()

  /** Merge the partials store to the final manifest (q192's shape). */
  def readManifest(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.Corpus.mergeManifest(spark.read.parquet(storeDir))
}
