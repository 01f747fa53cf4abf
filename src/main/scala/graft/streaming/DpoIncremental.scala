package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import graft.operators.{Corpus, Dedup, TextAnalysis}
import IndexLifecycle.{CkptScope, readOrEmpty}

/** Incrementally-maintained DPO manifest — q237's funnel → pairs →
  * packing path as partial-merge IVM (r12 verdict item 4, composing the
  * q103 dynamic-partition and q166 partial-merge seams).
  *
  * q237 recomputes the whole path per run: re-shingle and re-score every
  * document, re-derive near-dup clusters and containment, re-pair every
  * stratum. A training-data pipeline receives documents in batches; this
  * module pays per batch only
  *
  *  - '''batch-sized text work''': shingling, md5 hashing, minhash
  *    signatures, and quality scoring run over the BATCH alone
  *    ([[Dedup.incrementalDocState]] — every per-doc value is a pure
  *    function of the doc's text under fixed seeded constants, so
  *    appended state is bit-identical to a full recompute's);
  *  - '''candidate-sized pair work''': new near-dup edges and new
  *    subsumptions necessarily involve a batch doc (pairwise relations
  *    over unchanged docs cannot change), and are found by probing the
  *    persisted stores with BROADCAST batch-derived keys — band keys for
  *    the q31 minhash banding (data-independent per doc, so the probed
  *    candidate set equals the batch path's exactly), ascending-hash
  *    prefixes for q179 containment (prefix filtering is recall-1.0
  *    under ANY fixed per-doc order — the [[NearDupIndex]] frozen-order
  *    theorem — and the verified output is order-free);
  *  - '''strata-sized manifest work''': survivor-status changes are
  *    computed against the previous survivor snapshot, preference pairs
  *    are re-derived ONLY for the touched (source, len_bucket) strata
  *    (a stratum's pair is a pure function of that stratum's survivors),
  *    untouched strata keep their stored pair rows verbatim, and the
  *    packing windows rerun over the |strata|-bounded pair relation.
  *
  * Metadata-sized global passes remain (exact-keep min-per-fingerprint,
  * connected components over the accumulated near-dup EDGES, the
  * survivor anti-joins): each reads slim columns or sparse edges, never
  * re-derives per-doc text state — the q166 partial-merge contract
  * (partials are merged; facts are not re-read).
  *
  * Correctness gate: DpoIncrementalSpec feeds the fixture in two
  * out-of-order batches and pins [[manifest]] row-for-row against the
  * full q237 recompute — including the cases where a NEW doc flips an
  * OLD doc's status (a smaller doc_id winning exact-keep, a new cluster
  * edge dropping an old rep, a new doc subsuming an old one): all three
  * make the old doc's stratum "touched" and re-paired.
  *
  * Stores under `stateDir` (all parquet, corpus facts append-only):
  * `docs/` (per-doc derived state), `sig/` (band keys), `post/` (full
  * postings — containment's b-side), `apx/` (prefix postings —
  * containment's a-side), `ndedges/` (verified near-dup edges, append),
  * `subsumed/` (monotone subsumed-id set, append), `surv/` (survivor
  * snapshot, overwrite), `stratpairs/` (per-stratum pair rows,
  * overwrite).
  */
object DpoIncremental {

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("fp", StringType), StructField("n_tokens", LongType),
    StructField("quality", DoubleType), StructField("len_bucket", LongType),
    StructField("harr", ArrayType(LongType)), StructField("n", LongType)))

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_id", IntegerType),
    StructField("key", LongType)))

  private val postSchema = StructType(Seq(
    StructField("ph", LongType), StructField("doc_id", LongType),
    StructField("n", LongType)))

  private val apxSchema = StructType(Seq(
    StructField("ph", LongType), StructField("a_id", LongType),
    StructField("na", LongType)))

  private val edgeSchema = StructType(Seq(
    StructField("a_id", LongType), StructField("b_id", LongType)))

  private val idSchema = StructType(Seq(StructField("doc_id", LongType)))

  private val survSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("len_bucket", LongType), StructField("n_tokens", LongType),
    StructField("quality", DoubleType)))

  private val pairSchema = StructType(Seq(
    StructField("source", StringType), StructField("len_bucket", LongType),
    StructField("n_docs", LongType), StructField("chosen_id", LongType),
    StructField("rejected_id", LongType), StructField("chosen_q", DoubleType),
    StructField("rejected_q", DoubleType), StructField("quality_gap", DoubleType),
    StructField("pair_tokens", LongType)))

  /** q179's containment prefix bound (n − ⌊t·n⌋ + 1 distinct hashes in
    * the fixed ascending-h order — one more than the ⌈⌉ pigeonhole needs,
    * conservative either way).
    */
  private def plen(n: Column): Column =
    (n - floor(lit(0.8) * n) + 1).cast("int")

  /** One batch of documents (doc_id, source, text; ids globally unique,
    * replays dropped) folded into the persisted state. All q237
    * semantics — q31 near-dup edges (J ≥ 0.7 over banded candidates),
    * q179 subsumption (containment ≥ 0.8), exact-keep, stratified
    * pairing, packing — are maintained incrementally as per the object
    * doc. Frees exactly the checkpoints it made once its writes land;
    * the caller's cached or checkpointed relations are never touched.
    */
  def update(batch: DataFrame, stateDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ck = new CkptScope
    try {
    val docsStore = readOrEmpty(spark, s"$stateDir/docs", docsSchema)
    // replay gate: already-seen ids drop (store scanned once, batch broadcast)
    val seen = docsStore.select($"doc_id")
      .join(broadcast(batch.select($"doc_id")), Seq("doc_id")).distinct()
    val fresh = ck(batch.select($"doc_id", $"source", $"text")
      .join(broadcast(seen), Seq("doc_id"), "left_anti"))

    // ---- batch-sized text work: derived per-doc state (q237's exact
    // scoring expressions + the q31/q179 hash state) ----
    val scored = fresh
      .withColumn("fp", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))))
      .withColumn("toksc", split(trim($"text"), " "))
      .withColumn("n_tokens", size($"toksc").cast("long"))
      .withColumn("quality", TextAnalysis.qualityScoreCol($"text", $"toksc"))
      .withColumn("len_bucket", expr("n_tokens div 16"))
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"quality", $"len_bucket")
    val st = ck(Dedup.incrementalDocState(fresh)
      .join(scored, Seq("doc_id"))
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"quality",
        $"len_bucket", $"harr", $"n", $"bands"))

    // ---- near-dup delta edges: banded candidates involving the batch ----
    val bx = ck(st.select($"doc_id", explode($"bands").as("b"))
      .select($"doc_id", $"b.band_id".as("band_id"), $"b.key".as("key")))
    val sigStore = readOrEmpty(spark, s"$stateDir/sig", sigSchema)
    val candOldNew = sigStore
      .join(broadcast(bx.select($"doc_id".as("b_id"), $"band_id", $"key")),
        Seq("band_id", "key"))
      .select($"doc_id".as("a_id"), $"b_id")
    val candNewNew = bx.as("x").join(bx.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val ndCand = ck(candOldNew.unionByName(candNewNew).distinct())
    // verification arrays for candidate partners only (+ the batch's own)
    val partners = ndCand.select($"a_id".as("doc_id"))
      .unionByName(ndCand.select($"b_id".as("doc_id"))).distinct()
    val arrs = docsStore
      .join(broadcast(partners), Seq("doc_id"))
      .select($"doc_id", $"harr", $"n")
      .unionByName(st.select($"doc_id", $"harr", $"n"))
    val newEdges = ck(ndCand
      .join(broadcast(arrs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))), Seq("a_id"))
      .join(broadcast(arrs.select($"doc_id".as("b_id"), $"harr".as("hb"), $"n".as("nb"))), Seq("b_id"))
      .withColumn("i", graft.functions.SetFunctions.intersectCount($"ha", $"hb"))
      .withColumn("jaccard", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .filter($"jaccard" >= 0.7)
      .select($"a_id", $"b_id"))

    // ---- containment delta: prefix-filtered candidates involving the
    // batch, in all three directions ----
    val stP = ck(st.select($"doc_id".as("a_id"), $"n".as("na"),
        explode(slice($"harr", lit(1), plen($"n"))).as("ph")))
    val stPost = ck(st.select(explode($"harr").as("ph"), $"doc_id".as("b_id"),
      $"n".as("nb")))
    val postStore = readOrEmpty(spark, s"$stateDir/post", postSchema)
    val apxStore = readOrEmpty(spark, s"$stateDir/apx", apxSchema)
    // new a ⊂ old b: batch prefixes probe the full-postings store
    val cNewOld = postStore
      .join(broadcast(stP), Seq("ph"))
      .filter($"a_id" =!= $"doc_id" && $"n" * 5 >= $"na" * 4)
      .select($"a_id", $"doc_id".as("b_id"))
    // old a ⊂ new b: stored prefixes probe the batch's full postings
    val cOldNew = apxStore
      .join(broadcast(stPost), Seq("ph"))
      .filter($"a_id" =!= $"b_id" && $"nb" * 5 >= $"na" * 4)
      .select($"a_id", $"b_id")
    // new a ⊂ new b
    val cNewNew = stP.join(stPost, Seq("ph"))
      .filter($"a_id" =!= $"b_id" && $"nb" * 5 >= $"na" * 4)
      .select($"a_id", $"b_id")
    val ctCand = ck(cNewOld.unionByName(cOldNew).unionByName(cNewNew)
      .distinct())
    val ctPartners = ctCand.select($"a_id".as("doc_id"))
      .unionByName(ctCand.select($"b_id".as("doc_id"))).distinct()
    val ctArrs = docsStore
      .join(broadcast(ctPartners), Seq("doc_id"))
      .select($"doc_id", $"harr", $"n")
      .unionByName(st.select($"doc_id", $"harr", $"n"))
    val subsumedStore = readOrEmpty(spark, s"$stateDir/subsumed", idSchema)
    val newSubsumed = ck(ctCand
      .join(broadcast(ctArrs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))), Seq("a_id"))
      .join(broadcast(ctArrs.select($"doc_id".as("b_id"), $"harr".as("hb"))), Seq("b_id"))
      .withColumn("i", graft.functions.SetFunctions.intersectCount($"ha", $"hb"))
      .filter($"i" * 5 >= $"na" * 4)
      .select($"a_id".as("doc_id")).distinct()
      .join(broadcast(subsumedStore.select($"doc_id")
        .join(broadcast(ctCand.select($"a_id".as("doc_id")).distinct()), Seq("doc_id"))),
        Seq("doc_id"), "left_anti")) // monotone set: append only what's new

    // ---- append the corpus-fact stores ----
    st.select($"doc_id", $"source", $"fp", $"n_tokens", $"quality",
        $"len_bucket", $"harr", $"n")
      .write.mode("append").parquet(s"$stateDir/docs")
    bx.write.mode("append").parquet(s"$stateDir/sig")
    stPost.select($"ph", $"b_id".as("doc_id"), $"nb".as("n"))
      .write.mode("append").parquet(s"$stateDir/post")
    stP.write.mode("append").parquet(s"$stateDir/apx")
    if (!newEdges.isEmpty)
      newEdges.write.mode("append").parquet(s"$stateDir/ndedges")
    if (!newSubsumed.isEmpty)
      newSubsumed.write.mode("append").parquet(s"$stateDir/subsumed")

    // ---- survivor snapshot: metadata-sized global passes (slim columns
    // + sparse edges; no per-doc text state is re-derived) ----
    val docsAll = readOrEmpty(spark, s"$stateDir/docs", docsSchema)
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"quality", $"len_bucket")
    val ek = docsAll.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val edges = readOrEmpty(spark, s"$stateDir/ndedges", edgeSchema)
    val clusters = Dedup.dedupClusters(edges)
    val drop = clusters.filter($"doc_id" =!= $"cluster_rep").select($"doc_id")
    val sub = readOrEmpty(spark, s"$stateDir/subsumed", idSchema)
    val survNew = ck(docsAll
      .join(ek, Seq("doc_id"), "left_semi")
      .join(drop, Seq("doc_id"), "left_anti")
      .join(sub, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source", $"len_bucket", $"n_tokens", $"quality"))
    // the survivors are materialized: the cluster labels' blocks can go
    org.apache.spark.sql.graft.CheckpointUtils.free(clusters)

    // ---- touched strata: where any doc's survivor status changed ----
    val survOld = readOrEmpty(spark, s"$stateDir/surv", survSchema)
    val changed = survNew.select($"doc_id", $"source", $"len_bucket")
      .join(survOld.select($"doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(survOld.select($"doc_id", $"source", $"len_bucket")
        .join(survNew.select($"doc_id"), Seq("doc_id"), "left_anti"))
    val touched = ck(changed.select($"source", $"len_bucket").distinct())

    // ---- partial-merge of the pair relation: recompute touched strata
    // from current survivors, keep untouched rows verbatim ----
    val pairsOld = readOrEmpty(spark, s"$stateDir/stratpairs", pairSchema)
    val kept = pairsOld.join(touched, Seq("source", "len_bucket"), "left_anti")
    val recomputed = pairsOf(
      survNew.join(broadcast(touched), Seq("source", "len_bucket"), "left_semi"))
    val merged = ck(kept.unionByName(recomputed)) // materialize
    // before overwriting the store it was read from
    merged.write.mode("overwrite").parquet(s"$stateDir/stratpairs")
    survNew.write.mode("overwrite").parquet(s"$stateDir/surv")
    } finally ck.freeAll()
  }

  /** q237's stratified pairing, verbatim, over a survivor relation. */
  private def pairsOf(surv: DataFrame): DataFrame = {
    val spark = surv.sparkSession
    import spark.implicits._
    surv.groupBy($"source", $"len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        max(struct($"quality", (-$"doc_id").as("nid"), $"n_tokens".as("nt"))).as("c"),
        min(struct($"quality", $"doc_id".as("id"), $"n_tokens".as("nt"))).as("r"))
      .filter($"n_docs" >= 2L)
      .select($"source", $"len_bucket", $"n_docs",
        (-$"c.nid").as("chosen_id"), $"r.id".as("rejected_id"),
        $"c.quality".as("chosen_q"), $"r.quality".as("rejected_q"),
        ($"c.quality" - $"r.quality").as("quality_gap"),
        ($"c.nt" + $"r.nt").as("pair_tokens"))
      .filter($"quality_gap" > 0.0)
  }

  /** The current manifest — q237's packing + split over the maintained
    * pair relation (|strata|-bounded; the windows are trivial at any
    * corpus scale). Row-identical to `q237DpoManifest` over the union of
    * every batch fed so far (DpoIncrementalSpec).
    */
  def manifest(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"len_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    readOrEmpty(spark, s"$stateDir/stratpairs", pairSchema)
      .withColumn("cum_tokens", sum($"pair_tokens").over(w))
      .withColumn("seq_id", expr("(cum_tokens - pair_tokens) DIV 1024"))
      .withColumn("split", Corpus.splitColumn($"chosen_id"))
      .select($"source", $"len_bucket", $"n_docs", $"chosen_id",
        $"rejected_id", $"chosen_q", $"rejected_q", $"quality_gap",
        $"pair_tokens", $"cum_tokens", $"seq_id", $"split")
      .orderBy($"source", $"len_bucket")
  }
}
