package graft.streaming

import graft.operators.OpUtils.SpreadOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import IndexLifecycle.{CkptScope, readOrEmpty}

/** Incrementally-maintained near-dup admission index — the scale form of
  * [[CorpusStreams.admitNearDupBatch]].
  *
  * The naive per-batch probe re-shingles the WHOLE admitted corpus every
  * micro-batch (measured: per-batch shuffle grows linearly with the
  * corpus — 6→66 MB per 1k-doc batch as the corpus grows 1k→20k docs),
  * which is O(corpus) CPU + shuffle per batch: disqualifying when the
  * corpus is 100 TB and batches are megabytes. This module keeps the
  * SSJoin prefix-filter machinery's intermediate state as three persisted
  * parquet stores under `indexDir`, so a batch pays only
  * batch-sized compute + candidate-sized shuffle + columnar SCANS of the
  * stores (no corpus-sized shuffle, no corpus re-shingling):
  *
  *  - `docs/`  — (doc_id, harr: numerically-sorted distinct shingle
  *    hashes, n): the verification arrays.
  *  - `px/`    — (ph, doc_id, n): the exploded rare-prefix inverted
  *    index candidates are probed against.
  *  - `rank/`  — (h, df): a FROZEN document-frequency snapshot defining
  *    the prefix order, refreshed by rebuild (below).
  *  - `meta/`  — (n_docs): corpus size at the last rebuild.
  *
  * '''Frozen-order correctness.''' SSJoin prefix filtering is exact for
  * ANY fixed total order on shingles: if J(A,B) ≥ t, the first
  * `|A| − ⌈t·|A|⌉ + 1` elements of A and of B (in that shared order)
  * must intersect. Ascending document frequency is purely an EFFICIENCY
  * heuristic — it keeps boilerplate shingles out of every prefix. So
  * ordering both sides by a frozen (df, h) snapshot keeps recall at 1.0
  * always; only candidate volume degrades as true frequencies drift from
  * the snapshot. Admission decisions are therefore IDENTICAL to the
  * naive path's (same hashes, same Jaccard, same threshold) — pinned by
  * StreamingSpec.
  *
  * '''Rebuild-on-doubling.''' When the corpus has doubled since the last
  * snapshot, [[rebuild]] recomputes true document frequencies and
  * re-derives `docs/`/`px/` under the new order — O(corpus) work paid
  * O(log n) times, amortized O(1) per admitted document (the classic
  * doubling argument). Between rebuilds, newly-emerged common shingles
  * (df 0 in the snapshot → treated rarest) cost extra candidates, never
  * missed pairs; the r8 indexed stress run measured that drift staying
  * flat at 20× growth (NOTES_r8 §8).
  *
  * '''Single writer.''' One intake query per (corpus, index) pair — the
  * standard streaming-sink contract (the checkpoint serializes batches
  * within a query; two concurrent queries appending to one corpus would
  * race the naive path identically).
  *
  * '''Crash story.''' The index is DERIVED state — the admitted corpus
  * parquet remains the single source of truth. The three stores are
  * appended after the corpus append; a crash between the two leaves the
  * index missing at most one batch's rows, which the NEXT batch detects
  * (corpus row count ≠ indexed doc count — one aggregate) and
  * self-heals with an in-line [[rebuild]]; the same check
  * auto-bootstraps an intake pointed at a pre-existing (naive-path)
  * corpus. Exactly-once admission itself rides the streaming
  * checkpoint, as in the naive path.
  */
object NearDupIndex extends IndexLifecycle {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("harr", ArrayType(LongType)),
    StructField("n", LongType)))

  val pxSchema: StructType = StructType(Seq(
    StructField("ph", LongType),
    StructField("doc_id", LongType),
    StructField("n", LongType)))

  val rankSchema: StructType = StructType(Seq(
    StructField("h", LongType),
    StructField("df", LongType)))

  /** (n_docs at the last rebuild, min_jaccard). */
  private val meta = new MetaStore(StructType(Seq(
    StructField("n_docs", LongType),
    StructField("min_jaccard", DoubleType))))

  /** The stored meta, read once per call. Prefix lengths in
    * `px/`/`docs/` are derived FROM the build-time threshold: probing an
    * index built at t=0.8 with t=0.7 would silently lose recall
    * (prefixes too short for the looser bound). The threshold is
    * recorded in meta and enforced on every batch.
    */
  private def checkedMeta(spark: SparkSession, indexDir: String,
      minJaccard: Double): Option[Row] = {
    val m = meta.read(spark, indexDir)
    m.foreach { r =>
      require(r.getDouble(1) == minJaccard,
        s"index at $indexDir was built for minJaccard=${r.getDouble(1)}, probed with " +
          s"$minJaccard — prefix lengths would be wrong; rebuild() at the new threshold")
    }
    m
  }

  /** Per-doc index rows of a batch under a frozen rank snapshot:
    * (doc_id, harr numeric-sorted, n, prefix) where prefix is the first
    * `n − ⌊t·n⌋ + 1` hashes in ascending (frozen df, h) order — unseen
    * hashes get df 0 (rarest: a shingle the snapshot never saw cannot be
    * boilerplate YET, and rarest placement keeps the filter exact either
    * way).
    */
  private def indexRows(batchHx: DataFrame, rank: DataFrame,
      minJaccard: Double): DataFrame = {
    val spark = batchHx.sparkSession
    import spark.implicits._
    // frozen dfs for just this batch's hashes: scan the vocab-sized rank
    // store against a broadcast of the batch's distinct hashes — no
    // corpus-sized shuffle
    val hs = batchHx.select($"h").distinct()
    val known = rank.join(broadcast(hs), Seq("h"))
    val dfs = hs.join(broadcast(known), Seq("h"), "left_outer")
      .select($"h", coalesce($"df", lit(0L)).as("df"))
    prefixRowsOf(batchHx.join(broadcast(dfs), Seq("h")), minJaccard)
  }

  /** The shared tail of batch indexing and rebuild: per-doc arrays and
    * frozen-order prefixes from a joined (doc_id, h, df) relation.
    */
  private def prefixRowsOf(joined: DataFrame, minJaccard: Double): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined
      .groupBy($"doc_id")
      .agg(collect_list(struct($"df", $"h")).as("pairs"), count(lit(1)).as("n"))
      .spreadAcrossCores
      .select($"doc_id",
        array_sort(expr("transform(pairs, p -> p.h)")).as("harr"),
        $"n",
        expr("transform(array_sort(pairs), p -> p.h)").as("by_rarity"))
      .withColumn("plen", ($"n" - floor(lit(minJaccard) * $"n") + 1).cast("int"))
      .select($"doc_id", $"harr", $"n",
        expr("slice(by_rarity, 1, plen)").as("prefix"))
  }

  /** Candidate stage: batch prefixes probe the persisted index with the
    * SSJoin length filter (as in Dedup's inverted-index candidates —
    * the -1 slack keeps the FP comparison conservative).
    */
  private def candidatePairs(spark: SparkSession, indexDir: String,
      batchIdx: DataFrame, minJaccard: Double): DataFrame = {
    import spark.implicits._
    val px = readOrEmpty(spark, s"$indexDir/px", pxSchema)
    val batchPx = batchIdx
      .select($"doc_id".as("b_id"), $"n".as("nb"), explode($"prefix").as("ph"))
    px.join(broadcast(batchPx),
        px("ph") === batchPx("ph") &&
          least(px("n"), $"nb").cast("double") >=
            lit(minJaccard) * greatest(px("n"), $"nb").cast("double") - 1.0)
      .select(px("doc_id").as("a_id"), $"b_id")
      .distinct()
  }

  /** Plan view for PlanSpec: the full per-batch rejection pipeline
    * (index → candidates → verify) over the current stores, no writes —
    * pins the no-corpus-shuffle property structurally.
    */
  private[graft] def batchProbePlan(spark: SparkSession, indexDir: String,
      batch: DataFrame, minJaccard: Double = 0.7): DataFrame = {
    // fully symbolic composition (no checkpoint) so the candidate-stage
    // joins stay visible in the explained plan
    val bi = indexRows(graft.operators.Dedup.hxOfDocs(batch),
      readOrEmpty(spark, s"$indexDir/rank", rankSchema), minJaccard)
    verifyStage(spark, indexDir, bi,
      candidatePairs(spark, indexDir, bi, minJaccard), minJaccard)
  }

  /** Batch doc_ids near-duplicate (bigram Jaccard ≥ minJaccard) of any
    * indexed corpus doc, plus the candidate count the probe generated
    * (the drift observable the storm guard in [[admitBatch]] acts on).
    * Candidate generation probes the persisted prefix index with the
    * batch's prefixes; verification fetches arrays for candidate
    * partners only. Every corpus-sided join broadcasts the batch-derived
    * side, so the stores are only ever SCANNED. The candidate relation
    * is checkpointed so counting it and feeding the verify join are one
    * probe execution, not two.
    */
  private def nearDupBatchIds(spark: SparkSession, indexDir: String,
      batchIdx: DataFrame, minJaccard: Double,
      ck: CkptScope): (DataFrame, Long) = {
    val cand = ck(candidatePairs(spark, indexDir, batchIdx, minJaccard))
    (verifyStage(spark, indexDir, batchIdx, cand, minJaccard), cand.count())
  }

  /** Verify stage: fetch arrays for candidate partners only, exact
    * merge-intersection Jaccard, emit rejected batch ids. The result is
    * a multiset: an id repeats once per verified indexed partner. Its
    * one consumer anti-joins on it, which needs no unique keys, so no
    * shuffle is paid to de-duplicate it.
    */
  private def verifyStage(spark: SparkSession, indexDir: String,
      batchIdx: DataFrame, cand: DataFrame, minJaccard: Double): DataFrame = {
    import spark.implicits._
    val docsStore = readOrEmpty(spark, s"$indexDir/docs", docsSchema)
    val ca = docsStore.join(broadcast(cand.select($"a_id")),
        docsStore("doc_id") === $"a_id", "left_semi")
      .select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))
    val cb = batchIdx
      .select($"doc_id".as("b_id"), $"harr".as("hb"), $"n".as("nb"))
    cand
      .join(broadcast(cb), Seq("b_id"))
      .join(broadcast(ca), Seq("a_id"))
      .withColumn("i", graft.functions.SetFunctions.intersectCount($"ha", $"hb"))
      .withColumn("jaccard", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .filter($"jaccard" >= minJaccard)
      .select($"b_id".as("doc_id"))
  }

  /** Full index (re)derivation from the admitted corpus — initial
    * bootstrap over an existing corpus, the doubling refresh, and crash
    * recovery (the corpus is the source of truth; this rebuilds
    * everything else). One O(corpus) pass: shingle, count true document
    * frequencies, re-derive prefixes under the fresh order.
    */
  def rebuild(spark: SparkSession, corpusDir: String, indexDir: String,
      minJaccard: Double = 0.7): Long = {
    import spark.implicits._
    val corpus = readOrEmpty(spark, corpusDir, CorpusStreams.corpusStoreSchema)
      .select($"doc_id", $"text")
    val ck = new CkptScope
    val n = try {
    val hx = ck(graft.operators.Dedup.hxOfDocs(corpus))
    val rank = hx.groupBy($"h").agg(count(lit(1)).as("df"))
    rank.write.mode("overwrite").parquet(s"$indexDir/rank")
    // rebuild is the amortized O(corpus) pass: a plain shuffle join
    // against the fresh snapshot (indexRows' broadcast-the-batch trick
    // would broadcast the whole vocabulary here)
    val idx = ck(prefixRowsOf(
      hx.join(spark.read.schema(rankSchema).parquet(s"$indexDir/rank"), Seq("h")),
      minJaccard))
    val nIdx = idx.count()
    val nf = compactFiles(spark, nIdx)
    idx.select($"doc_id", $"harr", $"n")
      .coalesce(nf).write.mode("overwrite").parquet(s"$indexDir/docs")
    idx.select(explode($"prefix").as("ph"), $"doc_id", $"n")
      .coalesce(nf).write.mode("overwrite").parquet(s"$indexDir/px")
    meta.write(spark, indexDir, nIdx, minJaccard)
    nIdx
    } finally ck.freeAll()
    n
  }

  /** One micro-batch of indexed near-dup admission: gate exactly as
    * [[CorpusStreams.admitNearDupBatch]] (normalize-fingerprint exact
    * dedup + token floor), reject batch docs near-duplicate of the
    * indexed corpus, append survivors to the corpus AND the index, and
    * refresh the frozen rank snapshot when the corpus has doubled.
    *
    * Over a PRE-EXISTING corpus (migration from the naive path, a
    * deleted index) the first batch's divergence check rebuilds the
    * index automatically — though THAT batch's near-dup probe ran
    * against the not-yet-built index, so call [[rebuild]] up front when
    * the first batch must already reject against old content.
    */
  def admitBatch(batch: DataFrame, corpusDir: String, indexDir: String,
      minTokens: Int = 5, minJaccard: Double = 0.7): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ck = new CkptScope
    try {
    // stamp the threshold from the FIRST touch (rebuild refreshes the
    // count later; a young index must already refuse mismatched probes)
    val metaN = checkedMeta(spark, indexDir, minJaccard) match {
      case Some(r) => r.getLong(0)
      case None => meta.write(spark, indexDir, 0L, minJaccard); 0L
    }
    // Pre-probe self-heal ([[IndexLifecycle.healIfNeeded]]): a corpus
    // doc orphaned by a crash between the corpus append and the index
    // append (the replayed batch is exact-dup-gated out, so the appends
    // never re-run), or an intake pointed at a pre-existing/naive-path
    // corpus without a bootstrap rebuild(), must be re-indexed BEFORE
    // this batch probes — or its near-dups would be admitted past a
    // store that cannot see it (the r13 AnnIndex/FingerprintIndex
    // review finding; the same window existed here).
    val corpus = readOrEmpty(spark, corpusDir, CorpusStreams.corpusStoreSchema)
    val (corpusCount, preIdxCount) = healCounts(corpus,
      readOrEmpty(spark, s"$indexDir/docs", docsSchema), "doc_id")
    val healedN = healIfNeeded(spark, corpusCount, preIdxCount, Seq(s"$indexDir/px")) {
      rebuild(spark, corpusDir, indexDir, minJaccard)
    }
    // indexed docs now, and the corpus size of the last rebuild
    val (indexed, lastN) = healedN.fold((preIdxCount, metaN))(n => (n, n))
    // the exact-dup gate, keyed by the normalized-text fingerprint, then
    // the naive path's doc_id rule: an in-batch duplicate text keeps the
    // lowest doc_id, and a doc_id delivered twice keeps its lowest fp —
    // an id admitted twice would diverge the heal counts for good. The
    // micro-batch (broadcast-sized: the gate broadcasts its keys) sits
    // in one partition, so neither per-key window pays a shuffle.
    val gated = ck(CorpusStreams.lowestPer(replayGate(batch
        .withColumn("fp", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
        .withColumn("n_tokens", size(split(trim(col("text")), " ")).cast("long"))
        .filter(col("n_tokens") >= minTokens)
        .select($"doc_id", $"source", $"fp", $"n_tokens", $"text")
        .coalesce(1),
      corpus, "fp", $"doc_id"), "doc_id", $"fp"))

    val batchIdx = ck(indexRows(
      graft.operators.Dedup.hxOfDocs(gated),
      readOrEmpty(spark, s"$indexDir/rank", rankSchema),
      minJaccard))
    val (nearDups, nCand) = nearDupBatchIds(spark, indexDir, batchIdx, minJaccard, ck)
    val admitted = ck(gated.join(broadcast(nearDups), Seq("doc_id"), "left_anti"))
    admitted.select($"doc_id", $"source", $"fp", $"n_tokens", $"text")
      .write.mode("append").parquet(corpusDir)
    val admittedIdx = ck(batchIdx
      .join(broadcast(admitted.select($"doc_id")), Seq("doc_id")))
    // writer count scales with the batch; file count per store stays ≤
    // writers × batches since the last rebuild, which the cap bounds
    val nAdmitted = admittedIdx.count()
    appendStore(spark, admittedIdx.select($"doc_id", $"harr", $"n"),
      nAdmitted, s"$indexDir/docs", $"doc_id")
    appendStore(spark, admittedIdx.select(explode($"prefix").as("ph"), $"doc_id", $"n"),
      nAdmitted, s"$indexDir/px", $"ph")

    // Post-append SNAPSHOT-REFRESH triggers (divergence and the file
    // cap moved to the pre-probe heal — the correctness ordering):
    //  - doubling: the docs store count (now INCLUDING this batch's
    //    append: the pre-append count plus the appended rows) reached 2x
    //    the last-snapshot size — refresh the frozen rarity order
    //    (amortized O(1)/doc);
    //  - storm: candidate volume way out of proportion to the batch
    //    (measured: a fresh site-wide boilerplate header post-snapshot
    //    has df 0 = "rarest", floods every prefix, and candidates jump
    //    3-4 orders). Bounded by batch-pair count so it completes
    //    regardless, but on a MATURE corpus nothing else would refresh
    //    the snapshot — rebuilding now makes the next batch clean
    //    instead of waiting out the file cap;
    //  - plus the cheap post-append cap re-check (a mature corpus stops
    //    doubling, so append-mode stores would otherwise accumulate one
    //    file per batch forever; re-checking after the append means the
    //    final batch of a stream cannot strand the store over the cap).
    val total = indexed + nAdmitted
    val batchRows = batchIdx.count()
    if (total >= 2 * math.max(1L, lastN) ||
        nCand > stormFactor * math.max(1L, batchRows))
      rebuild(spark, corpusDir, indexDir, minJaccard)
    else compactIfOverCap(spark, Seq(s"$indexDir/px")) {
      rebuild(spark, corpusDir, indexDir, minJaccard)
    }
    } finally ck.freeAll()
  }

  /** Candidates-per-batch-row ratio above which the frozen snapshot is
    * considered drift-poisoned and refreshed: 32, far from both sides —
    * the measured healthy drift ceiling is ~1.5 candidates/row, a
    * boilerplate storm measures in the hundreds.
    */
  private val stormFactor = 32L

  /** The indexed admission policy as a continuous query — drop-in
    * sibling of [[CorpusStreams.nearDupIntake]] with per-batch cost
    * bounded by batch + candidate size instead of corpus size.
    */
  def nearDupIntakeIndexed(spark: SparkSession, srcDir: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      minTokens: Int = 5, minJaccard: Double = 0.7,
      glob: String = "documents.parquet"): org.apache.spark.sql.streaming.StreamingQuery =
    CorpusStreams.fileStream(spark, srcDir, glob)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        admitBatch(batch, corpusDir, indexDir, minTokens, minJaccard)
      }
      .start()
}
