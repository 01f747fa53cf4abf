package graft.operators

import graft.operators.OpUtils.SpreadOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.SetFunctions

/** Deduplication operators over `documents` — the core LLM-corpus pipeline
  * stage (north star). Four escalating strategies:
  *
  *   - exact (hash-groupBy on a normalized fingerprint) — one shuffle on
  *     the 16-byte hash, the 100 TB workhorse;
  *   - MinHash + LSH banding — 32 universal-family permutations
  *     h_i(g) = (a_i·h(g) + b_i) mod p with DISTINCT md5-derived
  *     multipliers a_i (a shared-slope family h1 + i·h2 leaves the
  *     min-achieving shingle piecewise-constant in i, correlating band
  *     rows and silently gutting recall — measured before switching);
  *     one md5 per distinct shingle, signatures in ONE aggregation pass
  *     (32 MIN columns, no row blowup), 8 bands × 4 rows
  *     (P(miss | j=0.9) ≈ 1e-4), candidates from band-key equi-joins,
  *     exact-Jaccard verification only on candidates;
  *   - SimHash — 60-bit signature built as 60 conditional-SUM columns in
  *     one aggregation pass (no 60× bit explode); near-dup = Hamming
  *     distance <= 10, candidates from multi-index Hamming banding
  *     (11 bands; pigeonhole guarantees one exact band) — equi-join,
  *     never an all-pairs scan;
  *   - direct n-gram Jaccard (q33) — all-pairs with a codegen'd
  *     sorted-array merge-intersection kernel, DECLARED over a bounded
  *     md5-ordered audit panel (constant-sized at any corpus scale — the
  *     threshold-calibration report); the full-corpus all-pairs form is
  *     the spec-only exactness baseline [[ngramJaccardAllPairs]];
  *   - inverted-index n-gram Jaccard with document-frequency-ordered
  *     prefix filtering (q47) — the 100 TB dedup path: candidates come
  *     from an equi-join on each doc's RAREST shingles only, verified
  *     with the same kernel; output is provably identical to q33's
  *     all-pairs scan at the same threshold.
  *
  * Hashing discipline: every hash derives from md5 (engine-portable) —
  * `conv(substr(md5(x),1,15),16,10)` in Spark ≡
  * `('0x'||substr(md5(x),1,15))::BIGINT` in DuckDB — 60-bit positive, so
  * sketches, buckets and verified pairs are all deterministic and
  * oracle-checkable. (A pure-Spark deployment would swap in xxhash64 for
  * ~5× cheaper hashing; md5 is the cross-engine choice.)
  *
  * Shingling: word bigrams (w=2). The fixture's planted near-dups are
  * ~99% bigram-Jaccard similar while the global unigram vocabulary is
  * shared across all docs (unigram Jaccard ≥0.8 for >30k unrelated pairs)
  * — bigrams are the smallest shingle that separates signal from noise.
  */
object Dedup {

  private[operators] val nPerm = 32
  private val bandRows = 4 // 8 bands × 4 rows; false candidates are cheap
  // since verification is a broadcast join through the codegen kernel

  /** Universal-hash modulus; (p-1)² < 2^63 so a_i·h + b_i never overflows. */
  private val P = 1000000007L

  /** Per-permutation multipliers/offsets: md5-derived constants, inlined
    * as literals into BOTH engines' SQL (computed once here, not per row).
    */
  private def h60Const(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }
  private val permA: IndexedSeq[Long] =
    (0 until nPerm).map(i => h60Const(s"a$i") % (P - 1) + 1) // 1..p-1
  private val permB: IndexedSeq[Long] =
    (0 until nPerm).map(i => h60Const(s"b$i") % P)

  /** Word-bigram shingle set as a column (distinct, order preserved).
    * Degenerate docs (< 2 tokens) get an EMPTY set: without the guard,
    * `sequence(0, size-2)` becomes `sequence(0, -1)` = [0, -1] (step -1)
    * and produces null shingles — which happened to fall out of the
    * downstream equi-joins but diverged structurally from the oracle's
    * `range(1, len(toks))` (empty for len < 2).
    */
  private def gramsCol: Column = array_distinct(expr(
    """CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<STRING>)
      |ELSE transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))
      |END""".stripMargin))

  /** Documents spread across all cores: the harness tables are single
    * row-group parquet (one scan partition), so the md5/shingle compute
    * after the scan would otherwise run single-threaded. The explicit-N
    * repartition survives AQE coalescing.
    */
  private def withGrams(spark: SparkSession, dir: String): DataFrame =
    withGramsOf(spark, Tables.documents(spark, dir))

  private def withGramsOf(spark: SparkSession, docsDf: DataFrame): DataFrame = {
    import spark.implicits._
    docsDf
      .spreadAcrossCores
      .withColumn("toks", split(trim($"text"), " "))
      .select($"doc_id", gramsCol.as("grams"))
  }

  /** Engine-portable 60-bit hash, DuckDB side. The Spark side is the
    * native [[graft.functions.Md5Prefix60]] expression (value-equality
    * with this form pinned by HashFunctionsSpec).
    */
  private def h60DuckSql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  private def gramsDuckCteFor(table: String): String =
    s"""toks AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM $table),
       |grams AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS grams FROM toks)""".stripMargin

  private[operators] val gramsDuckCte: String = gramsDuckCteFor("documents")

  /** Distinct-shingle hash dictionary: md5 is ~100× more expensive than the
    * joins that replace it, and shingles repeat heavily across documents
    * (the corpus vocabulary is far smaller than the occurrence count), so
    * hash each DISTINCT shingle once and join the dictionary back. The
    * oracle hashes per occurrence — same values, so results are identical.
    * At larger dictionary sizes Catalyst flips the broadcast to a shuffle
    * join on the shingle; the dedup still pays off.
    */
  private def gramDict(spark: SparkSession, gx: DataFrame): DataFrame = {
    import spark.implicits._
    // native codegen form of the portable hash (h60DuckSql's value) —
    // equality pinned by HashFunctionsSpec; no hex-string/Conv machinery
    val h60 = graft.functions.Md5Prefix60($"g")
    gx.select($"g").distinct().select(
      $"g",
      (h60 % P).as("hm"),
      h60.as("h"))
  }

  /** Dictionary with xxhash64 in place of the md5/conv portable hash —
    * the Spark-only deployment form (codegen'd 64-bit mix vs an md5
    * digest + BigInteger base conversion per distinct shingle). `pmod`
    * because xxhash64 is signed.
    */
  private def gramDictFast(spark: SparkSession, gx: DataFrame): DataFrame = {
    import spark.implicits._
    gx.select($"g").distinct().select(
      $"g",
      expr(s"pmod(xxhash64(g), $P)").as("hm"),
      expr("xxhash64(g)").as("h"))
  }

  /** Session-scoped memo of the shared dedup materializations: the
    * exploded shingle relation (gx), the md5-hashed shingle relation
    * (hx — where the expensive per-distinct-shingle md5 work lives),
    * the verified q31 near-dup pair table, and the q51 cluster table.
    * The whole dedup REPORT family (q31/q47/q51/q54/q59/q63/q79/q87/
    * q88/q92) derives from these, and a production pipeline materializes
    * each ONCE per run — running them per declared query re-paid ~6 s of
    * identical sketch work per suite pass. Declared queries stay
    * standalone (first touch builds; nothing is required to pre-exist);
    * within one driver session the family shares one build. Keyed by
    * (session, dir) so distinct fixtures and re-created sessions never
    * cross-contaminate, and pinned against the harness block sweeps
    * ([[org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned]]) —
    * a swept localCheckpoint cannot recompute.
    */
  private val memo = new OpUtils.SessionMemo("dedup")

  private def memoized(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = memo(spark, dir, key)(build)

  /** Evict every memoized table of (session, dir) — across the whole
    * memo family (dedup AND similarity instances): unpins and frees the
    * checkpoint blocks and drops the entries, so a long-lived session
    * that moves between corpora doesn't accumulate corpus-sized pinned
    * blocks forever. The next touch rebuilds (or, with
    * `spark.graft.artifactDir` set, reloads the persisted artifact).
    */
  def release(spark: SparkSession, dir: String): Unit =
    OpUtils.SessionMemo.releaseAll(spark, dir)

  /** Exploded (doc_id, shingle) pairs, materialized once via
    * localCheckpoint: the sketch queries branch over this relation many
    * times (dictionary, signatures, verification sets) and lineage
    * truncation collapses what would otherwise be 20+ re-scans of the
    * documents table in one plan. Memoized per (session, dir).
    */
  private def gxCheckpointed(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "gx") {
      import spark.implicits._
      withGrams(spark, dir).select($"doc_id", explode($"grams").as("g"))
        .localCheckpoint()
    }

  /** Hashed shingle relation (doc_id, hm, h) over the md5 dictionary —
    * the single most expensive shared stage (one md5 + base conversion
    * per DISTINCT shingle); memoized per (session, dir) and consumed by
    * the q31 signature path, q92's calibration, and the inverted-index
    * family (which projects just (doc_id, h)).
    */
  private def hxOf(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "hx") {
      import spark.implicits._
      val gx = gxCheckpointed(spark, dir)
      // dictionary join UNHINTED: the distinct-shingle dictionary is
      // corpus-scale-dependent — AQE broadcasts it while it fits and
      // genuinely flips to a shuffle join on the shingle at web scale
      // (a forced hint would OOM instead); same policy as the
      // Selection vocab joins
      gx.join(gramDict(spark, gx), Seq("g"))
        .select($"doc_id", $"hm", $"h")
        .localCheckpoint()
    }

  /** Docs as sorted shingle-hash arrays — the set representation the
    * intersection kernel consumes. Hashes come from the dictionary.
    */
  private def hashedDocsFrom(spark: SparkSession, gx: DataFrame): DataFrame = {
    import spark.implicits._
    gx.join(broadcast(gramDict(spark, gx)), Seq("g"))
      .groupBy($"doc_id")
      .agg(collect_list($"h").as("hl"), count(lit(1)).as("n"))
      // repartition BEFORE the per-doc array_sort: the aggregation output
      // is small so AQE coalesces it to a handful of tasks, and computing
      // the sort inside the agg's result projection would serialize the
      // heavy array work there; an explicit-N exchange first spreads it
      // (and the downstream pair-compare kernel) across all cores
      .spreadAcrossCores
      .select($"doc_id", array_sort($"hl").as("harr"), $"n")
  }

  /** Exact dedup: normalize → md5 → keep the smallest doc_id per
    * fingerprint. At 100 TB this is one shuffle of (hash, id) pairs.
    */
  def q30ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("fp", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  val q30Sql: String =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_id""".stripMargin

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard >= 0.7.
    * See object doc for the construction. Shuffles: one groupBy(doc_id)
    * for signatures, one equi-join per band on 4-row band keys for
    * candidates, then a broadcast verification join — never all-pairs.
    */
  def q31MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "q31_pairs") {
      q31PairsFromHx(spark, hxOf(spark, dir)).localCheckpoint()
    }

  /** Unmemoized pipeline views for plan-shape tests: the memoized heads
    * present as a checkpoint leaf (`Scan ExistingRDD`), which would make
    * PlanSpec's shape pins vacuous — these rebuild the live plan above
    * the memoized hx leaf.
    */
  private[graft] def q31PairsPipeline(spark: SparkSession, dir: String): DataFrame =
    q31PairsFromHx(spark, hxOf(spark, dir))

  private[graft] def invertedPairsPipeline(spark: SparkSession, dir: String,
      minJaccard: Double): DataFrame = {
    import spark.implicits._
    ngramJaccardInvertedFromHx(spark, hxOf(spark, dir).select($"doc_id", $"h"),
      minJaccard)
  }

  /** The q31 pipeline over the memoized hashed-shingle relation. `hx`
    * carries both hash forms from ONE dictionary join: `hm` (mod-P input
    * to the permutation family) for signatures and `h` (full 60-bit) for
    * the verification sets; both branches read its checkpoint blocks.
    */
  private def q31PairsFromHx(spark: SparkSession, hx: DataFrame): DataFrame = {
    import spark.implicits._
    val sigCols = (0 until nPerm).map(i =>
      min(expr(s"(${permA(i)} * hm + ${permB(i)}) % $P")).as(s"s$i"))
    val sig = hx.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
    def xorKey(from: Int): Column =
      (from + 1 until from + bandRows).foldLeft(col(s"s$from"))((acc, i) => acc.bitwiseXOR(col(s"s$i")))
    val nBands = nPerm / bandRows
    val bandCols = (0 until nBands).map(b => xorKey(b * bandRows).as(s"k$b"))
    // ONE candidate join instead of one per band: explode each doc's band
    // keys to (doc_id, band_id, key) rows and self-equi-join on
    // (band_id, key). A per-band join (8 branches + union + distinct)
    // scans the signatures 16x and shuffles 8x; the exploded form is one
    // scan, one join — the shape that survives 100 TB (Catalyst
    // broadcasts the band relation below threshold, shuffles by band key
    // beyond). Candidate SEMANTICS are identical: a pair is a candidate
    // iff some band key matches.
    val bands = sig.select(($"doc_id" +: bandCols): _*)
      .localCheckpoint()
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band_id"), col(s"k$b").as("key")))
    val bx = bands
      .select($"doc_id", explode(array(bandStructs: _*)).as("b"))
      .select($"doc_id", $"b.band_id".as("band_id"), $"b.key".as("key"))
    val cand = bx.as("x").join(bx.as("y"),
        $"x.band_id" === $"y.band_id" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
      .distinct()
    val docs = hx.groupBy($"doc_id")
      .agg(collect_list($"h").as("hl"), count(lit(1)).as("n"))
      // spread the per-doc array_sort across cores (see hashedDocsFrom)
      .spreadAcrossCores
      .select($"doc_id", array_sort($"hl").as("harr"), $"n")
    val da = docs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))
    val db = docs.select($"doc_id".as("b_id"), $"harr".as("hb"), $"n".as("nb"))
    cand
      // verification-array joins UNHINTED: da/db are corpus-sized (one
      // sorted hash array per doc) — AQE broadcasts at fixture SF,
      // shuffle-joins on doc_id at scale (the shape the scaladoc
      // documents; a forced hint would pin the OOM form)
      .join(da, Seq("a_id"))
      .join(db, Seq("b_id"))
      .withColumn("i", SetFunctions.intersectCount($"ha", $"hb"))
      .withColumn("jaccard", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .filter($"jaccard" >= 0.7)
      .select($"a_id", $"b_id", $"jaccard")
      .orderBy($"a_id", $"b_id")
  }

  /** The q31 pipeline as a reusable CTE chain ending in `pairs`
    * (verified near-dup pairs) — shared by the q31 oracle and the q51
    * cluster oracle.
    */
  private val q31CoreCtes: String = {
    val sigCols = (0 until nPerm)
      .map(i => s"MIN((${permA(i)} * hm + ${permB(i)}) % $P) AS s$i").mkString(", ")
    def xorKey(from: Int): String =
      (from + 1 until from + bandRows).foldLeft(s"s$from")((acc, i) => s"xor($acc, s$i)")
    s"""$gramsDuckCte,
       |gx AS (SELECT doc_id, unnest(grams) AS g FROM grams),
       |hx AS (SELECT doc_id, ${h60DuckSql("g")} % $P AS hm FROM gx),
       |sig AS (SELECT doc_id, $sigCols FROM hx GROUP BY doc_id),
       |bands AS (SELECT doc_id, ${(0 until nPerm / bandRows).map(b => s"${xorKey(b * bandRows)} AS k$b").mkString(", ")} FROM sig),
       |bands_long AS (${(0 until nPerm / bandRows).map(b => s"SELECT doc_id, $b AS band_id, k$b AS key FROM bands").mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM bands_long x JOIN bands_long y
       |           ON x.band_id = y.band_id AND x.key = y.key
       |          AND x.doc_id < y.doc_id),
       |ver AS (SELECT c.a_id, c.b_id,
       |          CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS i,
       |          CAST(len(ga.grams) AS BIGINT) AS na, CAST(len(gb.grams) AS BIGINT) AS nb
       |        FROM cand c
       |        JOIN grams ga ON ga.doc_id = c.a_id
       |        JOIN grams gb ON gb.doc_id = c.b_id),
       |pairs AS (SELECT a_id, b_id, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |          FROM ver
       |          WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7)""".stripMargin
  }

  val q31Sql: String =
    s"""WITH $q31CoreCtes
       |SELECT a_id, b_id, jaccard FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  /** q92 — MinHash sketch calibration: for EVERY LSH candidate pair (no
    * verification threshold), the signature-estimated similarity
    * (matching minhash coordinates / 32) next to the exact Jaccard and
    * the absolute error — the report that justifies the sketch the whole
    * LSH family rests on (is 32 permutations enough? where does the
    * estimator bias sit at this shingle size?). The expected |error| is
    * ~sqrt(j(1-j)/32); a drifting corpus shows up here before recall
    * quietly degrades in q31.
    *
    * Exactness: est_sim = m/32 with m an exact integer (m/32 is exactly
    * representable), jaccard an exact-rational double, abs_err a single
    * IEEE subtraction of two identically-computed doubles — no
    * transcendentals, no frozen tables, no boundary guards needed.
    *
    * Scale shape: q31's candidate generation (band equi-join, never
    * all-pairs); the signature table rides broadcast at fixture SF and
    * degrades to a doc_id shuffle join at 100 TB (signatures are
    * corpus-sized), same as the verification-array joins.
    */
  def q92MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hx = hxOf(spark, dir)
    val sigCols = (0 until nPerm).map(i =>
      min(expr(s"(${permA(i)} * hm + ${permB(i)}) % $P")).as(s"s$i"))
    val sig = hx.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
      .localCheckpoint() // feeds banding AND both sides of the match count
    def xorKey(from: Int): Column =
      (from + 1 until from + bandRows).foldLeft(col(s"s$from"))((acc, i) => acc.bitwiseXOR(col(s"s$i")))
    val nBands = nPerm / bandRows
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band_id"), xorKey(b * bandRows).as("key")))
    val bx = sig
      .select($"doc_id", explode(array(bandStructs: _*)).as("b"))
      .select($"doc_id", $"b.band_id".as("band_id"), $"b.key".as("key"))
    val cand = bx.as("x").join(bx.as("y"),
        $"x.band_id" === $"y.band_id" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
      .distinct()
    val sa = sig.toDF("a_id" +: (0 until nPerm).map(i => s"a_s$i"): _*)
    val sb = sig.toDF("b_id" +: (0 until nPerm).map(i => s"b_s$i"): _*)
    val m = (0 until nPerm)
      .map(i => when(col(s"a_s$i") === col(s"b_s$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val docs = hx.groupBy($"doc_id")
      .agg(collect_list($"h").as("hl"), count(lit(1)).as("n"))
      .spreadAcrossCores
      .select($"doc_id", array_sort($"hl").as("harr"), $"n")
    val da = docs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))
    val db = docs.select($"doc_id".as("b_id"), $"harr".as("hb"), $"n".as("nb"))
    cand
      // signature and verification joins UNHINTED — corpus-sized build
      // sides (see q31's note): AQE broadcasts while small, doc_id
      // shuffle join at 100 TB exactly as documented above
      .join(sa, Seq("a_id"))
      .join(sb, Seq("b_id"))
      .withColumn("m", m)
      .select($"a_id", $"b_id", $"m")
      .join(da, Seq("a_id"))
      .join(db, Seq("b_id"))
      .withColumn("i", SetFunctions.intersectCount($"ha", $"hb"))
      // divisor derived from nPerm so a sketch-width change cannot
      // silently miscalibrate est_sim against a stale constant
      .withColumn("est_sim", $"m".cast("double") / nPerm.toDouble)
      .withColumn("jaccard", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .select($"a_id", $"b_id", $"est_sim", $"jaccard",
        abs($"est_sim" - $"jaccard").as("abs_err"))
      .orderBy($"a_id", $"b_id")
  }

  val q92Sql: String = {
    val matchSum = (0 until nPerm)
      .map(i => s"CASE WHEN x.s$i = y.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $q31CoreCtes,
       |mm AS (SELECT c.a_id, c.b_id, CAST($matchSum AS BIGINT) AS m
       |       FROM cand c
       |       JOIN sig x ON x.doc_id = c.a_id
       |       JOIN sig y ON y.doc_id = c.b_id),
       |e AS (SELECT v.a_id, v.b_id,
       |        CAST(m AS DOUBLE) / $nPerm.0 AS est_sim,
       |        CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |      FROM ver v JOIN mm ON mm.a_id = v.a_id AND mm.b_id = v.b_id)
       |SELECT a_id, b_id, est_sim, jaccard, abs(est_sim - jaccard) AS abs_err
       |FROM e
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** 60-bit simhash split into 11 bands (5 x 6-bit + 6 x 5-bit).
    * Multi-index pigeonhole: Hamming distance <= 10 flips bits in at most
    * 10 of the 11 bands, so every qualifying pair is IDENTICAL in at least
    * one band — candidate generation is a band-key equi-join, never an
    * all-pairs scan. (band_id, bit offset, width.)
    */
  private val simBands: IndexedSeq[(Int, Int, Int)] = {
    val widths = IndexedSeq(6, 6, 6, 6, 6, 5, 5, 5, 5, 5, 5)
    val offs = widths.scanLeft(0)(_ + _)
    widths.indices.map(i => (i, offs(i), widths(i)))
  }

  /** SimHash: 60-bit signature per doc from one aggregation pass (60
    * conditional-sum columns), near-dup pairs = Hamming distance <= 10 on
    * the packed signature. Random pairs sit at ~30/60 bits, planted
    * near-dups at ~0-4. Pair generation is multi-index Hamming banding
    * (see [[simBands]]): explode each signature to 11 (band_id, band_key)
    * rows, self-equi-join on the band key, verify `bit_count(xor) <= 10`
    * only on the candidates. At n docs with ~uniform signatures this
    * materializes ~n^2 * (5/64 + 6/32) / 2 candidate rows instead of an
    * n^2/2 nested-loop compare — and at 100 TB the equi-join shuffles by
    * band key instead of broadcasting the world.
    */
  def q32Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hx = hxOf(spark, dir).select($"doc_id", $"h")
    val bitCols = (0 until 60).map(b => sum(expr(s"(h >> $b) & 1")).as(s"c$b"))
    val counts = hx.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), bitCols: _*)
    val packed = (0 until 60)
      .map(b => s"(CASE WHEN 2 * c$b > n THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    // the band self-join reads the checkpointed signatures twice
    val sims = counts.select($"doc_id", expr(packed).as("simhash"))
      .localCheckpoint()
    val bandStructs = simBands.map { case (i, off, w) =>
      struct(lit(i).as("band_id"),
        expr(s"(simhash >> $off) & ${(1L << w) - 1}").as("bkey"))
    }
    // Each band row CARRIES its signature, so Hamming verification runs
    // inside the candidate join's codegen stage (xor + popcount per
    // probed pair) and the ~n^2/4 candidate rows are never materialized
    // or shuffled — only the ~11 surviving rows per true pair reach the
    // final distinct. The band relation is n_docs x 11 small rows, so
    // Catalyst broadcast-joins it below threshold and shuffle-joins by
    // band key beyond — both are the scale-correct shapes.
    val bands = sims
      .select($"doc_id", $"simhash", explode(array(bandStructs: _*)).as("b"))
      .select($"doc_id", $"simhash", $"b.band_id".as("band_id"), $"b.bkey".as("bkey"))
    bands.as("x").join(bands.as("y"),
        $"x.band_id" === $"y.band_id" && $"x.bkey" === $"y.bkey" &&
          $"x.doc_id" < $"y.doc_id")
      .withColumn("hamming",
        bit_count($"x.simhash".bitwiseXOR($"y.simhash")).cast("long"))
      .filter($"hamming" <= 10)
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"), $"hamming")
      .distinct()
      .orderBy($"a_id", $"b_id")
  }

  val q32Sql: String = {
    val bitCols = (0 until 60).map(b => s"SUM((h >> $b) & 1) AS c$b").mkString(", ")
    val packed = (0 until 60)
      .map(b => s"(CASE WHEN 2 * c$b > n THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val bandValues = simBands
      .map { case (i, off, w) => s"($i, $off, ${(1L << w) - 1})" }.mkString(", ")
    s"""WITH $gramsDuckCte,
       |gx AS (SELECT doc_id, unnest(grams) AS g FROM grams),
       |hx AS (SELECT doc_id, ${h60DuckSql("g")} AS h FROM gx),
       |counts AS (SELECT doc_id, COUNT(*) AS n, $bitCols FROM hx GROUP BY doc_id),
       |sims AS (SELECT doc_id, CAST($packed AS BIGINT) AS simhash FROM counts),
       |bands AS (SELECT doc_id, band_id, (simhash >> off) & mask AS bkey
       |          FROM sims, (VALUES $bandValues) AS bs(band_id, off, mask)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM bands x JOIN bands y
       |           ON x.band_id = y.band_id AND x.bkey = y.bkey
       |          AND x.doc_id < y.doc_id)
       |SELECT c.a_id, c.b_id,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sims sa ON c.a_id = sa.doc_id
       |JOIN sims sb ON c.b_id = sb.doc_id
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 10
       |ORDER BY a_id, b_id""".stripMargin
  }

  private val jaccardAuditK = 512

  /** All-pairs exact Jaccard over a prebuilt exploded shingle relation —
    * shared by the declared bounded audit (q33) and the spec-only
    * full-corpus baseline ([[ngramJaccardAllPairs]]).
    */
  private def allPairsJaccardFromGx(spark: SparkSession, gx: DataFrame,
      minJaccard: Double): DataFrame = {
    import spark.implicits._
    val docs = hashedDocsFrom(spark, gx).localCheckpoint()
    val a = docs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))
    val b = docs.select($"doc_id".as("b_id"), $"harr".as("hb"), $"n".as("nb"))
    a.join(broadcast(b), $"a_id" < $"b_id")
      .withColumn("i", SetFunctions.intersectCount($"ha", $"hb"))
      .withColumn("jaccard", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .filter($"jaccard" >= minJaccard)
      .select($"a_id", $"b_id", $"jaccard")
      .orderBy($"a_id", $"b_id")
  }

  /** Exact n-gram Jaccard >= 0.5, all pairs WITHIN a bounded audit panel
    * (the [[jaccardAuditK]] documents whose md5(doc_id) sorts first — a
    * content-free uniform sample, identical in both engines). This is
    * the calibration report that justifies the sketch thresholds (q31's
    * 0.7 verification cut, q47's prefix filter): measure the exact
    * similarity background on a fixed-size panel, with the codegen'd
    * merge-intersection kernel per pair. The panel is CONSTANT-sized at
    * any corpus scale — the all-pairs quadratic stays ~131k kernel calls
    * and the broadcast 512 rows, so this is the plan you'd run at
    * 100 TB; ORDER BY md5 + LIMIT plans as a bounded top-K selection
    * (one streaming pass, no global sort). Full-corpus all-pairs
    * survives spec-only as [[ngramJaccardAllPairs]], the exactness
    * baseline the prefix-filtered q47 is pinned lossless against.
    */
  def q33NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val panel = Tables.documents(spark, dir)
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      .limit(jaccardAuditK)
    val gx = withGramsOf(spark, panel)
      .select($"doc_id", explode($"grams").as("g"))
      .localCheckpoint()
    allPairsJaccardFromGx(spark, gx, 0.5)
  }

  /** Spec-only exactness baseline (NOT declared): all-pairs exact
    * Jaccard over the FULL corpus — broadcast of the whole shingle-set
    * table, O(n²) pairs. DedupSpec/PropertySpec/LakeLayoutSpec pin the
    * scale-safe paths (q47 inverted index, q31 LSH, q32 simhash)
    * lossless/equal against it; unusable at 100 TB by construction,
    * which is why the declared q33 is the bounded-panel audit above.
    */
  def ngramJaccardAllPairs(spark: SparkSession, dir: String): DataFrame =
    allPairsJaccardFromGx(spark, gxCheckpointed(spark, dir), 0.5)

  val q33Sql: String =
    s"""WITH s AS (SELECT * FROM documents
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $jaccardAuditK),
       |${gramsDuckCteFor("s")},
       |ver AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |          CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |          CAST(len(a.grams) AS BIGINT) AS na, CAST(len(b.grams) AS BIGINT) AS nb
       |        FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |FROM ver
       |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** Inverted-index n-gram Jaccard with prefix filtering — the 100 TB
    * dedup path. Under a GLOBAL canonical shingle order, two sets with
    * J(A,B) >= t must share a shingle within the first
    * |X| - floor(t*|X|) + 1 elements of each set (Chaudhuri et al.,
    * SSJoin, ICDE'06; Bayardo et al., All-Pairs, WWW'07; the floor form
    * is the conservative rounding of |X| - ceil(t*|X|) + 1, immune to
    * FP-rounding of t*|X|). Ordering shingles by ASCENDING document
    * frequency makes each prefix the doc's rarest shingles, so the
    * candidate equi-join touches sum-over-rare-shingles(df^2) pairs
    * instead of n^2 — on a real Zipf-shaped corpus the overwhelming win.
    * Candidates are verified with the exact merge-intersection kernel, so
    * the prefix filter is a pure optimization: output is IDENTICAL to the
    * all-pairs scan (q33 cross-checks it at threshold 0.5 in tests).
    */
  def ngramJaccardInverted(spark: SparkSession, dir: String,
      minJaccard: Double): DataFrame =
    // memoized per threshold: q47 (declared) and q59's near-dup stage run
    // the identical 0.7 pipeline; rides the memoized md5 hashed-shingle
    // relation (projected to the (doc_id, h) shape this family consumes)
    memoized(spark, dir, s"inv_pairs_$minJaccard") {
      import spark.implicits._
      ngramJaccardInvertedFromHx(spark,
        hxOf(spark, dir).select($"doc_id", $"h"), minJaccard)
        .localCheckpoint()
    }

  /** Spark-only deployment variant: xxhash64 shingle naming instead of
    * the engine-portable md5/conv form. The OUTPUT is identical — the
    * hash only names shingles; jaccard is a set-intersection count, and
    * the prefix filter is lossless under ANY global canonical order as
    * long as both join sides share it (they do: one dictionary). Pinned
    * equal to the md5 path in DedupSpec. Not a declared query: the
    * driver's DuckDB gate needs the cross-engine md5 hash.
    */
  def ngramJaccardInvertedFast(spark: SparkSession, dir: String,
      minJaccard: Double): DataFrame =
    ngramJaccardInvertedCore(spark, dir, minJaccard, gramDictFast)

  /** Batch-vs-corpus near-dup probe: the doc_ids of `batch` rows whose
    * bigram Jaccard against ANY `corpus` row reaches `minJaccard` — the
    * cross-set slice of the inverted-index pipeline, and the seam the
    * streaming near-dup intake ([[graft.streaming.CorpusStreams]]) runs
    * per micro-batch. Both inputs are (doc_id, text)-shaped; doc_ids
    * must be disjoint across the two sides (documents carry globally
    * unique ids — asserted by the caller's contract, not re-checked with
    * a corpus-sized scan here). Batch-vs-batch pairs are NOT dropped
    * (q59's policy: in-batch near-dup handling is q51 clustering, a
    * separate step). Uses the xxhash64 dictionary — this is Spark-only
    * deployment machinery (no DuckDB oracle constrains it), pinned
    * lossless vs the md5 path by DedupSpec.
    *
    * Scale shape: identical to q47 — the candidate join touches only
    * rare-shingle prefixes; the batch side is micro-batch-sized, so its
    * shingles probe the corpus-side index without ever materializing a
    * pair explosion.
    */
  def crossNearDupIds(corpus: DataFrame, batch: DataFrame,
      minJaccard: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val gx = crossGx(corpus, batch)
    val batchIds = batch.select($"doc_id")
    val pairs = ngramJaccardInvertedFromGx(spark, gx, minJaccard, gramDictFast)
    // keep batch ids whose partner is on the corpus side: exactly one
    // side of a cross pair is a batch id (ids are disjoint by contract)
    pairs
      .join(batchIds.select($"doc_id".as("a_id")).withColumn("a_in", lit(true)),
        Seq("a_id"), "left")
      .join(batchIds.select($"doc_id".as("b_id")).withColumn("b_in", lit(true)),
        Seq("b_id"), "left")
      .filter(coalesce($"a_in", lit(false)) =!= coalesce($"b_in", lit(false)))
      .select(when($"a_in", $"a_id").otherwise($"b_id").as("doc_id"))
      .distinct()
  }

  /** Hashed distinct bigram shingles of a (doc_id, text) frame under the
    * STATELESS fast dictionary (h = xxhash64(gram) — no corpus-wide
    * dictionary build): (doc_id, h) rows computable for any batch in
    * isolation, which is what lets the indexed streaming intake
    * ([[graft.streaming.NearDupIndex]]) maintain a persisted corpus
    * index incrementally instead of re-shingling the corpus per
    * micro-batch. Values are bit-identical to [[crossNearDupIds]]'s
    * hashes.
    */
  private[graft] def hxOfDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text")
      .spreadAcrossCores
      .withColumn("toks", split(trim($"text"), " "))
      .select($"doc_id", gramsCol.as("grams"))
      .select($"doc_id", explode($"grams").as("g"))
      .select($"doc_id", expr("xxhash64(g)").as("h"))
  }

  /** Per-doc derived dedup state of a batch, computable from the batch
    * ALONE — the seam the incremental DPO manifest
    * ([[graft.streaming.DpoIncremental]]) persists per micro-batch:
    * `(doc_id, harr, n, bands)` where `harr`/`n` are the q31/q179
    * verification arrays (numerically-sorted distinct md5-60 bigram
    * hashes — the DICTIONARY path's values without the corpus-wide
    * dictionary build; [[gramDict]]'s h is a pure function of the gram
    * string) and `bands` are the q31 minhash XOR band keys. Every field
    * is a pure function of the doc's text under fixed seeded constants,
    * so values appended today are bit-identical to what a full q31/q179
    * recompute over any future corpus superset would derive — the
    * property that makes append-only maintenance EXACT (DpoIncrementalSpec
    * pins the resulting manifest against the full q237 recompute).
    */
  private[graft] def incrementalDocState(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val gx = docs.select($"doc_id", $"text")
      .spreadAcrossCores
      .withColumn("toks", split(trim($"text"), " "))
      .select($"doc_id", gramsCol.as("grams"))
      .select($"doc_id", explode($"grams").as("g"))
    val h60 = graft.functions.Md5Prefix60($"g")
    val hx = gx.select($"doc_id", (h60 % P).as("hm"), h60.as("h"))
    val sigCols = (0 until nPerm).map(i =>
      min(expr(s"(${permA(i)} * hm + ${permB(i)}) % $P")).as(s"s$i"))
    val aggCols = Seq(collect_list($"h").as("hl"),
      count(lit(1)).as("n")) ++ sigCols
    val per = hx.groupBy($"doc_id").agg(aggCols.head, aggCols.tail: _*)
    def xorKey(from: Int): Column =
      (from + 1 until from + bandRows).foldLeft(col(s"s$from"))((acc, i) =>
        acc.bitwiseXOR(col(s"s$i")))
    val nBands = nPerm / bandRows
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band_id"), xorKey(b * bandRows).as("key")))
    per
      .select($"doc_id", array_sort($"hl").as("harr"), $"n",
        array(bandStructs: _*).as("bands"))
  }

  /** Shared exploded-shingle relation of a corpus + batch union — the
    * head of the cross-set near-dup pipeline.
    */
  private def crossGx(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def gxOf(df: DataFrame): DataFrame = df
      .spreadAcrossCores
      .withColumn("toks", split(trim($"text"), " "))
      .select($"doc_id", gramsCol.as("grams"))
      .select($"doc_id", explode($"grams").as("g"))
    gxOf(corpus.select($"doc_id", $"text"))
      .union(gxOf(batch.select($"doc_id", $"text")))
      .localCheckpoint()
  }

  private def ngramJaccardInvertedCore(spark: SparkSession, dir: String,
      minJaccard: Double,
      dict: (SparkSession, DataFrame) => DataFrame): DataFrame =
    ngramJaccardInvertedFromGx(spark, gxCheckpointed(spark, dir), minJaccard, dict)

  /** The inverted-index pipeline over a prebuilt exploded (doc_id, g)
    * shingle relation — the seam [[crossNearDupIds]] (and through it the
    * streaming intake) shares with the fixture-table queries.
    */
  private def ngramJaccardInvertedFromGx(spark: SparkSession, gx: DataFrame,
      minJaccard: Double,
      dict: (SparkSession, DataFrame) => DataFrame): DataFrame =
    ngramJaccardInvertedFromHx(spark,
      gx.join(dict(spark, gx), Seq("g")) // dictionary unhinted (see hxOf)
        .select(col("doc_id"), col("h")).localCheckpoint(),
      minJaccard)

  /** The prefix-filter pipeline over a prebuilt hashed (doc_id, h)
    * relation — the branch point: document frequencies, prefixes and
    * verification sets all derive from it, in three stages.
    */
  private def ngramJaccardInvertedFromHx(spark: SparkSession, hx: DataFrame,
      minJaccard: Double): DataFrame = {
    val docs = invertedDocsFromHx(spark, hx, minJaccard)
    invertedVerifyFromDocs(docs,
      invertedCandidatesFromDocs(docs, minJaccard), minJaccard)
  }

  /** Stage 1: per-doc sorted hash arrays + rarity-ordered prefix length. */
  private def invertedDocsFromHx(spark: SparkSession, hx: DataFrame,
      minJaccard: Double): DataFrame = {
    import spark.implicits._
    val dfreq = hx.groupBy($"h").agg(count(lit(1)).as("df"))
    // document-frequency table unhinted (shingle-vocab-sized, scale-
    // dependent — see hxOf's note)
    hx.join(dfreq, Seq("h"))
      .groupBy($"doc_id")
      .agg(collect_list(struct($"df", $"h")).as("pairs"),
        count(lit(1)).as("n"))
      // spread the per-doc sorts across cores (see hashedDocsFrom)
      .spreadAcrossCores
      .select($"doc_id",
        array_sort(expr("transform(pairs, p -> p.h)")).as("harr"),
        $"n",
        array_sort($"pairs").as("by_rarity"))
      .withColumn("plen",
        ($"n" - floor(lit(minJaccard) * $"n") + 1).cast("int"))
      .localCheckpoint()
  }

  /** Stage 2: candidate pairs from the rare-shingle prefix equi-join. */
  private def invertedCandidatesFromDocs(docs: DataFrame,
      minJaccard: Double): DataFrame = {
    import docs.sparkSession.implicits._
    val prefixes = docs
      .select($"doc_id", $"n", explode(expr("slice(by_rarity, 1, plen)")).as("p"))
      .select($"doc_id", $"n", $"p.h".as("ph"))
    // Length filter (SSJoin): J(A,B) >= t forces min(|A|,|B|) >= t*max —
    // i <= min and i >= t(na+nb-i) give min(1+t) >= t(na+nb) >= t(min+max).
    // The -1 slack makes the FP comparison conservative (lossless even if
    // t*max rounds up an ulp); still prunes most size-mismatched pairs
    // before the distinct.
    prefixes.as("x").join(prefixes.as("y"),
        $"x.ph" === $"y.ph" && $"x.doc_id" < $"y.doc_id" &&
          least($"x.n", $"y.n").cast("double") >=
            lit(minJaccard) * greatest($"x.n", $"y.n").cast("double") - 1.0)
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
      .distinct()
  }

  /** Stage 3: exact merge-intersection verification of the candidates. */
  private def invertedVerifyFromDocs(docs: DataFrame, cand: DataFrame,
      minJaccard: Double): DataFrame = {
    import docs.sparkSession.implicits._
    val da = docs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))
    val db = docs.select($"doc_id".as("b_id"), $"harr".as("hb"), $"n".as("nb"))
    cand
      // verification joins unhinted — corpus-sized sides (see q31's note)
      .join(da, Seq("a_id"))
      .join(db, Seq("b_id"))
      .withColumn("i", SetFunctions.intersectCount($"ha", $"hb"))
      .withColumn("jaccard", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .filter($"jaccard" >= minJaccard)
      .select($"a_id", $"b_id", $"jaccard")
      .orderBy($"a_id", $"b_id")
  }

  /** Declared inverted-index dedup at the near-dup threshold (0.7,
    * matching q31's verification threshold). The oracle is the plain
    * all-pairs SQL — the prefix filter is exact, so results agree.
    */
  def q47NgramJaccardInverted(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardInverted(spark, dir, 0.7)

  val q47Sql: String =
    s"""WITH $gramsDuckCte,
       |ver AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |          CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |          CAST(len(a.grams) AS BIGINT) AS na, CAST(len(b.grams) AS BIGINT) AS nb
       |        FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |FROM ver
       |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7
       |ORDER BY a_id, b_id""".stripMargin

  /** q233 — dedup funnel with token accounting: the cost-benefit
    * statement for the whole dedup tier, as one oracle-gated census.
    * Four cumulative stages — raw → exact-duplicate removal (q30's
    * keep-min-id rule) → near-dup cluster collapse (q51 components,
    * keep each cluster's representative) → containment pruning (q179's
    * ≥80%-contained docs dropped) — each reporting surviving docs,
    * surviving TOKENS, the kept fraction of raw tokens in exact basis
    * points, and an id checksum (one doc moving between stages flips
    * the hash). q63's manifest emits the final per-doc artifact; this
    * is the stage-by-stage accounting a curation owner reads to decide
    * whether the next stage still pays for its compute.
    *
    * Scale shape: every filter is a semi/anti equi-join against a
    * relation an existing operator already builds (exact-keep = one
    * fingerprint aggregation; cluster drops and subsumed docs ride the
    * memoized q51/q179 tables), followed by four 1-row aggregates — no
    * new join or shuffle shapes.
    */
  def q233DedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"text",
        size(split(trim($"text"), " ")).cast("long").as("nt"))
      .localCheckpoint() // the raw census and three survivor joins
    val exactKeep = base
      .withColumn("fp", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val clusterDrop = q51DedupClusters(spark, dir)
      .filter($"doc_id" =!= $"cluster_rep").select($"doc_id")
    val subsumed = q179Containment(spark, dir)
      .select($"a_id".as("doc_id")).distinct()
    val s1 = base.join(exactKeep, Seq("doc_id"), "left_semi").localCheckpoint()
    val s2 = s1.join(clusterDrop, Seq("doc_id"), "left_anti").localCheckpoint()
    val s3 = s2.join(subsumed, Seq("doc_id"), "left_anti")
    def census(df: DataFrame, ord: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"),
          sum($"doc_id").as("id_checksum"))
        .select(lit(ord).as("stage"), lit(name).as("stage_name"),
          $"n_docs", $"n_tokens", $"id_checksum")
    val stages = census(base, 0L, "raw")
      .unionByName(census(s1, 1L, "exact"))
      .unionByName(census(s2, 2L, "neardup"))
      .unionByName(census(s3, 3L, "containment"))
    stages.crossJoin(broadcast(base.agg(sum($"nt").as("raw_tokens"))))
      .select($"stage", $"stage_name", $"n_docs", $"n_tokens",
        expr("(n_tokens * 10000) div raw_tokens").as("kept_bp"),
        $"id_checksum")
      .orderBy($"stage")
  }

  // lazy: interpolates clusterCtes, declared LATER in this file — an
  // eager val here would freeze "null" into the SQL (the q230Sql lesson;
  // laziness defers assembly until the oracle map is read)
  lazy val q233Sql: String =
    s"""WITH RECURSIVE $q31CoreCtes,
       |$clusterCtes,
       |base AS (SELECT doc_id,
       |           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt,
       |           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |         FROM documents),
       |ek AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY fp),
       |s1 AS (SELECT b.doc_id, b.nt FROM base b JOIN ek USING (doc_id)),
       |cd AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_rep),
       |s2 AS (SELECT doc_id, nt FROM s1
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cd)),
       |cver AS (SELECT a.doc_id AS a_id,
       |           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |           CAST(len(a.grams) AS BIGINT) AS na
       |         FROM grams a JOIN grams b ON a.doc_id <> b.doc_id),
       |sub AS (SELECT DISTINCT a_id AS doc_id FROM cver WHERE i * 5 >= na * 4),
       |s3 AS (SELECT doc_id, nt FROM s2
       |       WHERE doc_id NOT IN (SELECT doc_id FROM sub)),
       |u AS (
       |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(nt) AS BIGINT) AS n_tokens,
       |         CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM base
       |  UNION ALL
       |  SELECT 1, 'exact', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT),
       |         CAST(sum(doc_id) AS BIGINT) FROM s1
       |  UNION ALL
       |  SELECT 2, 'neardup', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT),
       |         CAST(sum(doc_id) AS BIGINT) FROM s2
       |  UNION ALL
       |  SELECT 3, 'containment', CAST(count(*) AS BIGINT),
       |         CAST(sum(nt) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM s3),
       |rt AS (SELECT CAST(sum(nt) AS BIGINT) AS raw_tokens FROM base)
       |SELECT stage, stage_name, n_docs, n_tokens,
       |       (n_tokens * 10000) // raw_tokens AS kept_bp, id_checksum
       |FROM u, rt ORDER BY stage""".stripMargin

  /** q237 — the DPO data path composed END-TO-END (the r11 verdict's
    * composition ask): funnel-surviving documents (q233's stage-3 set —
    * exact-keep, not near-dup-dropped, not containment-subsumed) →
    * stratified preference pairs (q231's chosen/rejected per (source,
    * length-bucket), so the dedup stages can never silently feed a
    * duplicate into both sides of a pair) → packed into 1024-token
    * training sequences per source (q63's cumulative-DIV packing) with
    * the shared content-free train/val/test label
    * ([[Corpus.splitColumn]] on the pair's chosen id — one label per
    * PAIR, so chosen and rejected can never straddle a split boundary).
    * `cum_tokens` is the conservation checksum: the running packed
    * token total is IN the gated output, so a pair appearing, vanishing
    * or changing length anywhere upstream flips every later row's hash.
    *
    * Scale shape: strictly the parts' own shapes — the funnel stages
    * are semi/anti equi-joins riding the memoized q51/q179 relations,
    * pairing is ONE hash aggregation (order-invariant struct max/min,
    * no rank window), and the packing window partitions by source
    * ordered by len_bucket — a |buckets|-bounded relation (pairs are
    * one row per stratum), never corpus-sized. No new shuffle shapes.
    */
  def q237DpoManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
      .localCheckpoint() // exact-keep aggregation + survivor joins
    val exactKeep = base
      .withColumn("fp", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val clusterDrop = q51DedupClusters(spark, dir)
      .filter($"doc_id" =!= $"cluster_rep").select($"doc_id")
    val subsumed = q179Containment(spark, dir)
      .select($"a_id".as("doc_id")).distinct()
    val survivors = base
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(clusterDrop, Seq("doc_id"), "left_anti")
      .join(subsumed, Seq("doc_id"), "left_anti")
    val scored = survivors
      .withColumn("toksc", split(trim($"text"), " "))
      .withColumn("n_tokens", size($"toksc").cast("long"))
      .withColumn("quality", TextAnalysis.qualityScoreCol($"text", $"toksc"))
      .withColumn("len_bucket", expr("n_tokens div 16"))
      .select($"source", $"len_bucket", $"doc_id", $"n_tokens", $"quality")
    // trailing struct fields (nt) ride along without affecting the
    // argmax: comparison is lexicographic and the id field is unique
    val pairs = scored.groupBy($"source", $"len_bucket")
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
    val w = Window.partitionBy($"source").orderBy($"len_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .withColumn("cum_tokens", sum($"pair_tokens").over(w))
      .withColumn("seq_id", expr("(cum_tokens - pair_tokens) DIV 1024"))
      .withColumn("split", Corpus.splitColumn($"chosen_id"))
      .select($"source", $"len_bucket", $"n_docs", $"chosen_id",
        $"rejected_id", $"chosen_q", $"rejected_q", $"quality_gap",
        $"pair_tokens", $"cum_tokens", $"seq_id", $"split")
      .orderBy($"source", $"len_bucket")
  }

  // lazy: interpolates clusterCtes, declared later in this file (the
  // q233Sql/q230Sql init-order discipline)
  lazy val q237Sql: String =
    s"""WITH RECURSIVE $q31CoreCtes,
       |$clusterCtes,
       |fps AS (SELECT doc_id,
       |          md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |        FROM documents),
       |ek AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp),
       |cd AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_rep),
       |cver AS (SELECT a.doc_id AS a_id,
       |           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |           CAST(len(a.grams) AS BIGINT) AS na
       |         FROM grams a JOIN grams b ON a.doc_id <> b.doc_id),
       |sub AS (SELECT DISTINCT a_id AS doc_id FROM cver WHERE i * 5 >= na * 4),
       |surv AS (SELECT d.doc_id, d.source,
       |           CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |           CAST(len(t.toks) AS BIGINT) // 16 AS len_bucket,
       |           ${TextAnalysis.qualitySqlExpr("d.text", "t.toks")} AS quality
       |         FROM documents d JOIN toks t ON t.doc_id = d.doc_id
       |         WHERE d.doc_id IN (SELECT doc_id FROM ek)
       |           AND d.doc_id NOT IN (SELECT doc_id FROM cd)
       |           AND d.doc_id NOT IN (SELECT doc_id FROM sub)),
       |rk AS (SELECT *,
       |         ROW_NUMBER() OVER (PARTITION BY source, len_bucket
       |           ORDER BY quality DESC, doc_id) AS rc,
       |         ROW_NUMBER() OVER (PARTITION BY source, len_bucket
       |           ORDER BY quality ASC, doc_id) AS rr,
       |         CAST(COUNT(*) OVER (PARTITION BY source, len_bucket) AS BIGINT)
       |           AS n_docs
       |       FROM surv),
       |p AS (SELECT c.source, c.len_bucket, c.n_docs,
       |        c.doc_id AS chosen_id, r.doc_id AS rejected_id,
       |        c.quality AS chosen_q, r.quality AS rejected_q,
       |        c.quality - r.quality AS quality_gap,
       |        c.n_tokens + r.n_tokens AS pair_tokens
       |      FROM rk c JOIN rk r
       |        ON c.source = r.source AND c.len_bucket = r.len_bucket
       |      WHERE c.rc = 1 AND r.rr = 1 AND c.n_docs >= 2
       |        AND c.quality - r.quality > 0)
       |SELECT source, len_bucket, n_docs, chosen_id, rejected_id,
       |       chosen_q, rejected_q, quality_gap,
       |       CAST(pair_tokens AS BIGINT) AS pair_tokens,
       |       CAST(SUM(pair_tokens) OVER (PARTITION BY source
       |              ORDER BY len_bucket) AS BIGINT) AS cum_tokens,
       |       CAST((SUM(pair_tokens) OVER (PARTITION BY source
       |               ORDER BY len_bucket) - pair_tokens) // 1024 AS BIGINT)
       |         AS seq_id,
       |       ${Corpus.splitSqlExpr("chosen_id")} AS split
       |FROM p
       |ORDER BY source, len_bucket""".stripMargin

  /** q194 — near-dup threshold sensitivity sweep: the same verified
    * pair relation read at five Jaccard thresholds (0.70–0.90), each
    * reporting pair count, docs involved, and an id checksum — the
    * evidence a curation owner reads BEFORE freezing the dedup
    * threshold ("0.8 drops 9% of docs, 0.85 drops 3% — the knee is
    * here"), instead of inheriting 0.7 as folklore. Rides the memoized
    * q47 pair relation, so the sweep costs five filters over an
    * already-verified pairs table — the fact is not re-shingled per
    * threshold. Thresholds compare as double literals (identical bit
    * patterns in both engines against the exact-rational jaccard);
    * counts and checksums are pure BIGINT.
    *
    * Scale shape: the pair relation is the expensive artifact and is
    * built once (prefix-filtered, never all-pairs); the sweep is a
    * 5-row broadcast cross + two hash aggregates over pairs-sized
    * input. Adding a threshold is free.
    */
  def q194ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccardInverted(spark, dir, 0.7)
    val th = Seq((7000L, 0.70), (7500L, 0.75), (8000L, 0.80),
        (8500L, 0.85), (9000L, 0.90)).toDF("t_bp", "t")
    val hits = pairs.crossJoin(broadcast(th))
      .filter($"jaccard" >= $"t")
      .localCheckpoint() // feeds the pair rollup and the distinct-doc census
    val pa = hits.groupBy($"t_bp").agg(count(lit(1)).as("n_pairs"),
      sum($"a_id" + $"b_id").as("pair_checksum"))
    val dc = hits.select($"t_bp", explode(array($"a_id", $"b_id")).as("d"))
      .groupBy($"t_bp").agg(countDistinct($"d").as("n_docs"))
    th.select($"t_bp")
      .join(pa, Seq("t_bp"), "left").join(dc, Seq("t_bp"), "left")
      .select($"t_bp",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs", lit(0L)).as("n_docs"),
        coalesce($"pair_checksum", lit(0L)).as("pair_checksum"))
      .orderBy($"t_bp")
  }

  val q194Sql: String =
    s"""WITH $gramsDuckCte,
       |ver AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |          CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |          CAST(len(a.grams) AS BIGINT) AS na, CAST(len(b.grams) AS BIGINT) AS nb
       |        FROM grams a JOIN grams b ON a.doc_id < b.doc_id),
       |p AS (SELECT a_id, b_id, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |      FROM ver WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7),
       |th(t_bp, t) AS (VALUES (7000, 0.70), (7500, 0.75), (8000, 0.80),
       |                       (8500, 0.85), (9000, 0.90)),
       |hits AS (SELECT th.t_bp, p.a_id, p.b_id FROM p, th
       |         WHERE p.jaccard >= CAST(th.t AS DOUBLE)),
       |pa AS (SELECT t_bp, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(a_id + b_id) AS BIGINT) AS pair_checksum
       |       FROM hits GROUP BY 1),
       |dc AS (SELECT t_bp, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
       |       FROM (SELECT t_bp, unnest([a_id, b_id]) AS d FROM hits)
       |       GROUP BY 1)
       |SELECT CAST(th.t_bp AS BIGINT) AS t_bp,
       |       COALESCE(pa.n_pairs, 0) AS n_pairs,
       |       COALESCE(dc.n_docs, 0) AS n_docs,
       |       COALESCE(pa.pair_checksum, 0) AS pair_checksum
       |FROM th LEFT JOIN pa USING (t_bp) LEFT JOIN dc USING (t_bp)
       |ORDER BY t_bp""".stripMargin

  /** q224 — dedup-method scorecard: the lossy candidate generators
    * (MinHash banding q31, SimHash Hamming banding q32) measured
    * against the LOSSLESS exact pair relation (q47's prefix-filtered
    * inverted index at jaccard ≥ 0.7) on identical inputs — the "which
    * method, at what recall, at what overshoot" table a curation owner
    * reads before picking the production dedup tier, completing q92's
    * minhash-only calibration across methods. Per method: emitted
    * pairs, true-pair hits, recall in exact basis points against the
    * shared truth count, and overshoot (emitted pairs outside the
    * ≥ 0.7 truth — for minhash that is 0 by construction, its pairs
    * are exact-verified at the same threshold, so its row isolates
    * pure BANDING misses; for simhash, Hamming ≤ 10 is a different
    * similarity notion, so both misses and extras are expected and
    * measured). All three relations ride their session memos / the
    * shared hashed-shingle dictionary — the fact is not re-shingled.
    *
    * Scale shape: two memoized pair relations unioned with a method
    * tag, one equi join against the memoized truth pairs on the
    * (a_id, b_id) key, a 2-group rollup, and a broadcast 1-row truth
    * count. Nothing scales past the pair relations themselves.
    */
  def q224MethodScorecard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = ngramJaccardInverted(spark, dir, 0.7).select($"a_id", $"b_id")
    val m31 = q31MinhashLsh(spark, dir).select($"a_id", $"b_id")
    val m32 = q32Simhash(spark, dir).select($"a_id", $"b_id")
    val tagged = m31.withColumn("method", lit("minhash_lsh"))
      .unionByName(m32.withColumn("method", lit("simhash")))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    tagged
      .join(truth.withColumn("is_true", lit(1L)), Seq("a_id", "b_id"), "left")
      .groupBy($"method")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce($"is_true", lit(0L))).as("n_hit"),
        sum($"a_id" + $"b_id").as("pair_checksum"))
      .crossJoin(broadcast(nTrue))
      .select($"method", $"n_pairs", $"n_hit", $"n_true",
        // guard the empty-truth corpus: div-by-zero is null in non-ANSI
        // and an error in ANSI — pin recall to an explicit NULL instead
        when($"n_true" > 0L, expr("(n_hit * 10000) div n_true"))
          .as("recall_bp"),
        ($"n_pairs" - $"n_hit").as("n_extra"),
        $"pair_checksum")
      .orderBy($"method")
  }

  val q224Sql: String =
    s"""WITH truth AS (SELECT a_id, b_id FROM ($q47Sql) z),
       |m AS (
       |  SELECT 'minhash_lsh' AS method, a_id, b_id FROM ($q31Sql) z
       |  UNION ALL
       |  SELECT 'simhash', a_id, b_id FROM ($q32Sql) z),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
       |sc AS (
       |  SELECT m.method, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_hit,
       |         CAST(sum(m.a_id + m.b_id) AS BIGINT) AS pair_checksum
       |  FROM m LEFT JOIN truth t ON t.a_id = m.a_id AND t.b_id = m.b_id
       |  GROUP BY m.method)
       |SELECT method, n_pairs, n_hit, n_true,
       |       CASE WHEN n_true > 0 THEN (n_hit * 10000) // n_true END
       |         AS recall_bp,
       |       n_pairs - n_hit AS n_extra, pair_checksum
       |FROM sc, nt ORDER BY method""".stripMargin

  /** q179 — asymmetric CONTAINMENT detection (quote/subsumption — "doc A
    * is ≥80% contained in doc B"), the near-dup relation symmetric
    * Jaccard cannot express: a short quote inside a long article has low
    * Jaccard but containment ≈ 1, and it is containment that a curation
    * policy acts on (drop the subsumed side, keep the superset). Exact
    * throughout: the admission filter is the cross-multiplied
    * `i·5 ≥ na·4` and the emitted score is integer basis points
    * (`i·10⁴ div na`) — no float threshold anywhere.
    *
    * Scale shape: the prefix filter adapts to asymmetry — C(A→B) ≥ t
    * forces a shared shingle inside A's rarest `n − ⌊t·n⌋ + 1` prefix
    * (same conservative length as q47), but the CONTAINER side has no
    * length bound, so prefixes probe the FULL posting list rather than
    * prefix×prefix. Candidate volume is Σ_prefix-shingles df — bounded
    * by rare-shingle document frequencies, still never an all-pairs
    * scan; candidates verify with the exact merge-intersection kernel.
    * Rides the memoized hashed-shingle relation (hx) and the q47 doc
    * arrays, so the marginal cost over the Jaccard family is one
    * posting join + verification.
    */
  def q179Containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // memoized pair relation: q179 is both a declared query and q180's
    // input, and the driver bench runs each twice — the same pair-table
    // discipline as inv_pairs/q31_pairs (build adjudicated as a
    // memo_build line item)
    memoized(spark, dir, "containment_pairs_0.8") {
      val t = 0.8
      val hx = hxOf(spark, dir).select($"doc_id", $"h")
      val docs = invertedDocsFromHx(spark, hx, t)
      val prefixes = docs
        .select($"doc_id".as("a_id"), $"n".as("na"),
          explode(expr("slice(by_rarity, 1, plen)")).as("p"))
        .select($"a_id", $"na", $"p.h".as("ph"))
      // the container side carries its size so candidates can prune on
      // the one bound containment admits: i ≥ t·na and i ≤ nb force
      // nb·5 ≥ na·4 — a much smaller doc can never contain A
      val sizes = docs.select($"doc_id".as("b_id"), $"n".as("nb"))
      val postings = hx.select($"doc_id".as("b_id"), $"h".as("ph"))
        .join(sizes, Seq("b_id"))
      // posting join unhinted — both sides corpus-scale (see hxOf's note)
      val cand = prefixes.join(postings, Seq("ph"))
        .filter($"a_id" =!= $"b_id" && $"nb" * 5 >= $"na" * 4)
        .select($"a_id", $"b_id").distinct()
      val da = docs.select($"doc_id".as("a_id"), $"harr".as("ha"), $"n".as("na"))
      val db = docs.select($"doc_id".as("b_id"), $"harr".as("hb"))
      cand.join(da, Seq("a_id")).join(db, Seq("b_id"))
        .withColumn("i", graft.functions.SetFunctions.intersectCount($"ha", $"hb"))
        .filter($"i" * 5 >= $"na" * 4)
        .select($"a_id", $"b_id", expr("i * 10000 div na").as("containment_bp"))
        .localCheckpoint()
    }.orderBy($"a_id", $"b_id")
  }

  val q179Sql: String =
    s"""WITH $gramsDuckCte,
       |ver AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |          CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |          CAST(len(a.grams) AS BIGINT) AS na
       |        FROM grams a JOIN grams b ON a.doc_id <> b.doc_id)
       |SELECT a_id, b_id, i * 10000 // na AS containment_bp
       |FROM ver WHERE i * 5 >= na * 4
       |ORDER BY a_id, b_id""".stripMargin

  /** q180 — subsumption roots: the curation ACTION on q179's directed
    * containment graph. A doc is SUBSUMED when ≥80% of it lives inside
    * some other doc (it is the a-side of a q179 edge); the roots are
    * everything else — the minimal keep-set under the "drop quotes and
    * excerpts, keep supersets" policy, the asymmetric sibling of q51's
    * symmetric keep-list. Emitted per source: doc counts, subsumed
    * counts, root counts, and the exact bp subsumption rate — the
    * per-source quote-contamination report a corpus steward reads.
    *
    * Scale shape: q179's pair relation (already banded + verified)
    * reduced to its distinct a-side, one anti-join-shaped membership
    * flag via a LEFT join on doc_id, one hash aggregate over the
    * source dimension. Cost beyond the shared q179 machinery: one
    * join + one aggregate.
    */
  def q180SubsumptionRoots(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subsumed = q179Containment(spark, dir)
      .select($"a_id".as("doc_id")).distinct()
      .withColumn("sub", lit(true))
    Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(subsumed, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"sub", 1L).otherwise(0L)).as("n_subsumed"))
      .select($"source", $"n_docs", $"n_subsumed",
        ($"n_docs" - $"n_subsumed").as("n_roots"),
        expr("n_subsumed * 10000 div n_docs").as("subsumed_bp"))
      .orderBy($"source")
  }

  val q180Sql: String =
    s"""WITH $gramsDuckCte,
       |ver AS (SELECT a.doc_id AS a_id,
       |          CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |          CAST(len(a.grams) AS BIGINT) AS na
       |        FROM grams a JOIN grams b ON a.doc_id <> b.doc_id),
       |sub AS (SELECT DISTINCT a_id FROM ver WHERE i * 5 >= na * 4)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN sub.a_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_subsumed,
       |       CAST(count(*) - sum(CASE WHEN sub.a_id IS NOT NULL THEN 1
       |                           ELSE 0 END) AS BIGINT) AS n_roots,
       |       CAST(sum(CASE WHEN sub.a_id IS NOT NULL THEN 1 ELSE 0 END)
       |            * 10000 // count(*) AS BIGINT) AS subsumed_bp
       |FROM documents d LEFT JOIN sub ON d.doc_id = sub.a_id
       |GROUP BY 1 ORDER BY d.source""".stripMargin

  /** Benchmark decontamination — the train/eval overlap check every
    * LLM-corpus pipeline runs before training (flag training documents
    * that share n-grams with an evaluation/benchmark set). The eval set
    * here is the deterministic fixture slice `doc_id % 20 == 0`; in a
    * real deployment it is the benchmark corpus.
    *
    * Shape: inverted-index equi-join on the shingle — each (train, eval)
    * doc pair is counted via the shingles it shares, NEVER an all-pairs
    * scan. At 100 TB the eval index is tiny relative to the train corpus
    * (benchmarks are MBs, corpora are TBs), so it is broadcast and the
    * whole check is one map-side join + one aggregation by
    * (train_id, eval_id); the train side streams. Reported pairs share
    * >= 5 bigrams; `contaminated` flags overlap >= 50% of the train
    * doc's shingle set (the fixture's true contamination sits at ~1.0,
    * its noise floor at <= 0.45).
    */
  def q54Decontamination(spark: SparkSession, dir: String): DataFrame =
    decontFrom(spark, gxCheckpointed(spark, dir))

  private def decontFrom(spark: SparkSession, gx: DataFrame): DataFrame = {
    import spark.implicits._
    val train = gx.filter($"doc_id" % 20 =!= 0)
    val ev = gx.filter($"doc_id" % 20 === 0)
    val shared = train.as("t")
      .join(broadcast(ev.as("e")), $"t.g" === $"e.g")
      .groupBy($"t.doc_id".as("train_id"), $"e.doc_id".as("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 5)
    val sizes = gx.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    shared
      // per-doc size table unhinted: it is corpus-sized while `shared`
      // (the contaminated-pair list) is the small side — AQE picks the
      // right build side at runtime
      .join(sizes.select($"doc_id".as("train_id"), $"n_grams"),
        Seq("train_id"))
      .withColumn("overlap_frac", $"n_shared".cast("double") / $"n_grams")
      .withColumn("contaminated", $"overlap_frac" >= 0.5)
      .select($"train_id", $"eval_id", $"n_shared", $"n_grams",
        $"overlap_frac", $"contaminated")
      .orderBy($"train_id", $"eval_id")
  }

  val q54Sql: String =
    s"""WITH $gramsDuckCte,
       |gx AS (SELECT doc_id, unnest(grams) AS g FROM grams),
       |shared AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
       |             CAST(COUNT(*) AS BIGINT) AS n_shared
       |           FROM gx t JOIN gx e ON t.g = e.g
       |            AND t.doc_id % 20 != 0 AND e.doc_id % 20 = 0
       |           GROUP BY 1, 2
       |           HAVING COUNT(*) >= 5),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM grams)
       |SELECT s.train_id, s.eval_id, s.n_shared, sz.n_grams,
       |  CAST(s.n_shared AS DOUBLE) / sz.n_grams AS overlap_frac,
       |  CAST(s.n_shared AS DOUBLE) / sz.n_grams >= 0.5 AS contaminated
       |FROM shared s JOIN sizes sz ON sz.doc_id = s.train_id
       |ORDER BY train_id, eval_id""".stripMargin

  /** q79 — split-leakage audit (the train/test-overlap report LLM papers
    * publish alongside benchmark scores): for every val/test document of
    * the [[Corpus.splitColumn]] assignment, the fraction of its distinct
    * bigram shingles that also occur anywhere in the train split. q54
    * answers "which train docs must be dropped for THIS benchmark"; q79
    * answers the split-level audit question — "how much of the held-out
    * set is memorizable from train at all" — which gates whether the
    * held-out loss is trustworthy. Docs with < 2 tokens carry no shingles
    * and drop out (matching the oracle's unnest semantics).
    *
    * Scale shape: the train shingle SET is one distinct-aggregation on
    * the shingle key; the audit is an equi-join of held-out shingles
    * against it plus one (doc) aggregation — the q54 shape with the roles
    * flipped (train side is the index now, so at 100 TB the join is a
    * shuffle join on the shingle rather than a broadcast; both sides
    * stream). Counts stay integer; one final IEEE division.
    */
  def q79SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // train index and held-out probes branch from one shingle explode
    val gx = gxCheckpointed(spark, dir)
      .withColumn("split", Corpus.splitColumn($"doc_id"))
    val trainG = gx.filter($"split" === "train").select($"g").distinct()
    gx.filter($"split" =!= "train")
      .join(trainG.withColumn("seen", lit(1L)), Seq("g"), "left")
      .groupBy($"doc_id", $"split")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"seen", lit(0L))).cast("long").as("n_seen"))
      .withColumn("leak_frac", $"n_seen".cast("double") / $"n_grams")
      .select($"doc_id", $"split", $"n_grams", $"n_seen", $"leak_frac")
      .orderBy($"doc_id")
  }

  val q79Sql: String =
    s"""WITH $gramsDuckCte,
       |gx AS (SELECT doc_id, ${Corpus.splitSqlExpr("doc_id")} AS split,
       |         unnest(grams) AS g
       |       FROM grams),
       |tr AS (SELECT DISTINCT g FROM gx WHERE split = 'train')
       |SELECT e.doc_id, e.split,
       |  CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_seen,
       |  CAST(SUM(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS leak_frac
       |FROM gx e LEFT JOIN tr ON e.g = tr.g
       |WHERE e.split <> 'train'
       |GROUP BY 1, 2
       |ORDER BY doc_id""".stripMargin

  /** Incremental corpus update — the idempotent-load shape the reference
    * hand-rolls with table-exists probes
    * (`citibike_project/etl/ingest_data.py:251-262`), done corpus-scale:
    * a batch of incoming documents (fixture slice `doc_id % 10 == 0`) is
    * admitted only if it is neither an EXACT duplicate nor a NEAR
    * duplicate (bigram Jaccard >= 0.7) of the existing corpus (the other
    * 90%).
    *
    * Exact stage: a Bloom filter built over the existing fingerprints
    * (`DataFrameStatFunctions.bloomFilter` — the distributed
    * BloomFilterAggregate under Spark's public API) is broadcast and
    * probed map-side; incoming docs the filter rejects are DEFINITELY
    * new (no false negatives) and skip the join entirely, while
    * `mightContain` survivors are confirmed with an exact anti-join —
    * lossless by construction, and at 100 TB the anti-join input shrinks
    * from the whole batch to the tiny maybe set. The probe is Spark's
    * own codegen `BloomFilterMightContain` expression over the collected
    * filter as a binary literal (the same expression Catalyst's runtime
    * row-level filtering injects; it demands a foldable bloom input, so
    * the filter is aggregated first and inlined). Items enter and are
    * probed as xxhash64 longs so build and probe agree. The filter here
    * is deliberately undersized (2048 bits) so false positives actually
    * occur at test scale and the confirm path stays exercised.
    *
    * Near-dup stage: the prefix-filtered inverted-index pair list (the
    * q47 machinery, same threshold), restricted to cross-slice pairs —
    * an incoming doc near-dup of another INCOMING doc is kept here
    * (in-batch dedup is q51's clustering policy, a separate step).
    */
  def q59IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .spreadAcrossCores
      .withColumn("fp", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))))
      .select($"doc_id", $"fp")
      .localCheckpoint() // existing/incoming/bloom all branch here
    val existing = base.filter($"doc_id" % 10 =!= 0)
    val incoming = base.filter($"doc_id" % 10 === 0)
    val bloom = existing.stat.bloomFilter(xxhash64($"fp"), 450L, 2048L)
    val bloomBytes = {
      val b = new java.io.ByteArrayOutputStream()
      bloom.writeTo(b)
      b.toByteArray
    }
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    val maybeContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      XxHash64(Seq(ColumnBridge.expression($"fp")), 42L)))
    val flagged = incoming
      .withColumn("maybe", maybeContain)
      .select($"doc_id", $"fp", $"maybe")
    val definiteNew = flagged.filter(!$"maybe").select($"doc_id", $"fp")
    val confirmedNew = flagged.filter($"maybe").select($"doc_id", $"fp")
      .join(existing.select($"fp"), Seq("fp"), "left_anti")
      .select($"doc_id", $"fp")
    val exactNew = definiteNew.union(confirmedNew)
    val dupIncoming = ngramJaccardInverted(spark, dir, 0.7)
      .filter(($"a_id" % 10 === 0) =!= ($"b_id" % 10 === 0))
      .select(when($"a_id" % 10 === 0, $"a_id").otherwise($"b_id").as("doc_id"))
      .distinct()
    exactNew.join(dupIncoming, Seq("doc_id"), "left_anti")
      .orderBy($"doc_id")
  }

  val q59Sql: String =
    s"""WITH $gramsDuckCte,
       |fps AS (SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM documents),
       |ver AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |          CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS i,
       |          CAST(len(a.grams) AS BIGINT) AS na, CAST(len(b.grams) AS BIGINT) AS nb
       |        FROM grams a JOIN grams b ON a.doc_id < b.doc_id),
       |pairs AS (SELECT a_id, b_id FROM ver
       |          WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7),
       |dup AS (SELECT DISTINCT CASE WHEN a_id % 10 = 0 THEN a_id ELSE b_id END AS doc_id
       |        FROM pairs WHERE (a_id % 10 = 0) != (b_id % 10 = 0))
       |SELECT i.doc_id, i.fp
       |FROM fps i
       |WHERE i.doc_id % 10 = 0
       |  AND NOT EXISTS (SELECT 1 FROM fps e
       |                  WHERE e.doc_id % 10 != 0 AND e.fp = i.fp)
       |  AND NOT EXISTS (SELECT 1 FROM dup d WHERE d.doc_id = i.doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Connected components over a near-dup pair list -> one row per
    * clustered doc: (doc_id, cluster_rep, cluster_size) — the KEEP-LIST
    * stage of corpus dedup (keep `cluster_rep`, drop the rest; near-dup
    * similarity is not transitive, so clustering is the policy step that
    * makes "dedup" well-defined). Min-label propagation to a fixpoint:
    * each round every vertex takes the minimum label among itself and
    * its neighbors — O(component diameter) rounds of one edge join +
    * one aggregation each, all distributed; near-dup clusters are
    * near-cliques so 1-2 rounds in practice. (For adversarial diameters
    * at 100 TB the O(log n)-round large-star/small-star variant
    * [Kiveris et al., "Connected Components in MapReduce", SoCC'14]
    * replaces the per-round join; the fixpoint driver loop is the same.)
    * Singleton docs (no near-dup) are not emitted, matching the oracle.
    */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select($"a_id".as("s"), $"b_id".as("d"))
      .union(pairs.select($"b_id".as("s"), $"a_id".as("d")))
      .localCheckpoint()
    // round 0 folded into initialization: every vertex appears as an edge
    // destination (edges are symmetrized), so min(v, min of 1-hop
    // neighbors) comes out of one aggregation — no separate distinct +
    // identity-label materialization
    var labels = edges.groupBy($"d".as("v")).agg(min($"s").as("nmin"))
      .select($"v", least($"v", $"nmin").as("lbl"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select($"v".as("s"), $"lbl".as("slbl")), Seq("s"))
        .groupBy($"d").agg(min($"slbl").as("nlbl"))
      // carry the previous label through the round so the convergence
      // check is a filter on the materialized result, not a second join
      val next = labels
        .join(nbrMin.select($"d".as("v"), $"nlbl"), Seq("v"), "left")
        .select($"v", least($"lbl", coalesce($"nlbl", $"lbl")).as("lbl"),
          $"lbl".as("prev"))
        .localCheckpoint()
      // round N is materialized (localCheckpoint is eager): free round
      // N-1's blocks now instead of holding O(rounds) generations in the
      // block manager for the life of the job
      org.apache.spark.sql.graft.CheckpointUtils.free(labels)
      changed = next.filter($"lbl" < $"prev").count()
      labels = next.select($"v", $"lbl")
    }
    // the result reads only the last round's labels
    org.apache.spark.sql.graft.CheckpointUtils.free(edges)
    val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select($"v".as("doc_id"), $"lbl".as("cluster_rep"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Declared cluster query over the q31 minhash near-dup pairs.
    * Memoized: q63's manifest and q88's histogram consume the same
    * cluster table.
    */
  def q51DedupClusters(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "q51_clusters") {
      dedupClusters(q31MinhashLsh(spark, dir).select("a_id", "b_id"))
        .localCheckpoint()
    }

  /** The O(log n)-round connected-components variant [[dedupClusters]]'s
    * scaladoc cites for adversarial diameters — alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): large-star hangs every neighbor
    * LARGER than a node off that node's minimum neighbor (halving long
    * paths), small-star re-hangs the smaller neighbors; the edge set
    * converges to stars (node → component min) in O(log n) rounds
    * regardless of diameter, vs O(diameter) for min-label propagation.
    * Near-dup graphs are near-cliques, so q51 keeps propagation (1-2
    * rounds, fewer shuffles/round); this is the drop-in for edge lists
    * with long chains (e.g. span-level links from q74). Identical output
    * contract to [[dedupClusters]] — DedupStarSpec pins equality on
    * random graphs and an adversarial 400-hop chain.
    *
    * Each round is two join+aggregate shuffles over the (shrinking) edge
    * list; the convergence probe is one order-invariant count+hash
    * aggregate, so the driver loop holds two longs per round.
    */
  def dedupClustersStar(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val input = pairs.select($"a_id".as("s"), $"b_id".as("d")).localCheckpoint()
    // canonical orientation: (larger, smaller), self-loops dropped from
    // the ITERATION (they carry no connectivity) but their vertices are
    // re-added as singletons at the end — dedupClusters emits a vertex
    // that appears only in self-pairs as its own 1-cluster, and the two
    // variants must keep an identical output contract
    def canon(df: DataFrame): DataFrame = df.filter($"s" =!= $"d")
      .select(greatest($"s", $"d").as("s"), least($"s", $"d").as("d"))
      .distinct()
    var edges = canon(input).localCheckpoint()
    // order-invariant set fingerprint: count + XOR of per-edge hashes.
    // Distinctness rules out XOR self-cancellation; cross-set collisions
    // remain possible at ~2^-64 per round — an accepted risk (a collision
    // would end the loop one round early), same class as any hash-based
    // convergence probe
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64($"s", $"d"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = (-1L, -1L)
    var cur = fingerprint(edges)
    while (cur != prev) {
      // large-star: over the symmetric view, attach each neighbor v > u
      // to m(u) = min(Γ(u) ∪ {u})
      val sym = edges.select($"s".as("u"), $"d".as("v"))
        .union(edges.select($"d".as("u"), $"s".as("v")))
      val mL = sym.groupBy($"u").agg(min($"v").as("nmin"))
        .select($"u", least($"u", $"nmin").as("m"))
      val afterLarge = canon(
        sym.join(mL, Seq("u")).filter($"v" > $"u")
          .select($"v".as("s"), $"m".as("d")))
      // small-star: key each (larger, smaller) edge by its larger end,
      // re-hang the smaller neighbors (and the node itself) off the min
      val mS = afterLarge.groupBy($"s").agg(min($"d").as("m"))
      val ss = afterLarge.join(mS, Seq("s"))
        .filter($"d" =!= $"m").select($"d".as("s"), $"m".as("d"))
        .union(mS.select($"s", $"m".as("d")))
      val nextEdges = canon(ss).localCheckpoint()
      // free round N-1's edge blocks once round N is materialized (the
      // O(rounds)-generations leak; `input` stays alive for the
      // singleton re-add below)
      org.apache.spark.sql.graft.CheckpointUtils.free(edges)
      edges = nextEdges
      prev = cur
      cur = fingerprint(edges)
    }
    // converged: stars (node → component min); roots label themselves.
    // Vertices that appeared ONLY in self-pairs never entered the
    // iteration — re-add them as their own singletons (propagation
    // parity; see canon note above)
    val selfOnly = input.filter($"s" === $"d").select($"s".as("v"))
      .distinct()
      .join(canon(input).select(explode(array($"s", $"d")).as("v")).distinct(),
        Seq("v"), "left_anti")
    val labels = edges.select($"s".as("v"), $"d".as("lbl"))
      .union(edges.select($"d".as("v"), $"d".as("lbl")))
      .union(selfOnly.select($"v", $"v".as("lbl")))
      .distinct()
    val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select($"v".as("doc_id"), $"lbl".as("cluster_rep"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Connected-components CTE chain over `pairs` ending in `comp`
    * (doc_id, cluster_rep) — shared by the q51 and q63 oracles.
    */
  private[operators] val clusterCtes: String =
    """verts AS (SELECT DISTINCT v FROM
      |  (SELECT a_id AS v FROM pairs UNION ALL SELECT b_id FROM pairs)),
      |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach AS (SELECT v, v AS u FROM verts
      |          UNION
      |          SELECT r.v, e.d FROM reach r JOIN edges e ON r.u = e.s),
      |comp AS (SELECT v AS doc_id, MIN(u) AS cluster_rep FROM reach GROUP BY v)""".stripMargin

  val q51Sql: String =
    s"""WITH RECURSIVE $q31CoreCtes,
       |$clusterCtes
       |SELECT c.doc_id, c.cluster_rep, sz.n AS cluster_size
       |FROM comp c
       |JOIN (SELECT cluster_rep AS r, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM comp GROUP BY 1) sz ON sz.r = c.cluster_rep
       |ORDER BY doc_id""".stripMargin

  /** Training-corpus manifest — the end-to-end composition every other
    * dedup/quality operator exists to serve: starting from the train
    * slice (`doc_id % 20 != 0`; the eval slice is the benchmark set),
    * drop near-duplicate non-representatives (q31 pairs -> q51 connected
    * components, keep only each cluster's rep), drop contaminated docs
    * (q54 semantics: >= 5 shared shingles AND >= 50% overlap with any
    * eval doc), gate on length (>= 30 tokens), then lay the survivors
    * into 512-token training sequences per source (q55 packing). The
    * output is the manifest a trainer consumes: one row per admitted
    * doc with its quality score, packed sequence id, and train/val/test
    * label from the shared content-free assignment ([[Corpus.splitColumn]]).
    *
    * Every stage reuses the declared operator's own plan (and the oracle
    * reuses the same CTE chains), so the composition is exactly as
    * scale-shaped as its parts: banded candidate joins, broadcast eval
    * index, per-stratum windows — no new shuffle shapes are introduced.
    */
  def q63TrainingManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the memoized shingle/pair/cluster tables feed both the near-dup
    // and the decontamination stages (shared with q31/q51/q87/q88 when
    // run in one session; built here on first touch when standalone)
    val gx = gxCheckpointed(spark, dir)
    val clusters = q51DedupClusters(spark, dir)
    val nearDrop = clusters.filter($"doc_id" =!= $"cluster_rep").select($"doc_id")
    val cont = decontFrom(spark, gx)
      .filter($"contaminated").select($"train_id".as("doc_id")).distinct()
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    val kept = TextAnalysis.q27QualityScore(spark, dir)
      .select($"doc_id", $"n_tokens", $"quality")
      .join(src, Seq("doc_id"))
      .filter($"doc_id" % 20 =!= 0 && $"n_tokens" >= 30)
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .join(cont, Seq("doc_id"), "left_anti")
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept
      .withColumn("cum_before", sum($"n_tokens").over(w) - $"n_tokens")
      .withColumn("seq_id", expr("cum_before DIV 512"))
      // train/val/test label from the shared content-free assignment
      // (Corpus.splitColumn); the % 20 slice above is a different axis —
      // it marks the decontamination BENCHMARK set, not this split.
      .withColumn("split", Corpus.splitColumn($"doc_id"))
      .select($"doc_id", $"source", $"n_tokens", $"quality", $"seq_id", $"split")
      .orderBy($"doc_id")
  }

  val q63Sql: String =
    s"""WITH RECURSIVE $q31CoreCtes,
       |$clusterCtes,
       |neardrop AS (SELECT doc_id FROM comp WHERE doc_id != cluster_rep),
       |shared AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
       |             CAST(COUNT(*) AS BIGINT) AS n_shared
       |           FROM gx t JOIN gx e ON t.g = e.g
       |            AND t.doc_id % 20 != 0 AND e.doc_id % 20 = 0
       |           GROUP BY 1, 2
       |           HAVING COUNT(*) >= 5),
       |gsizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM grams),
       |cont AS (SELECT DISTINCT s.train_id AS doc_id
       |         FROM shared s JOIN gsizes sz ON sz.doc_id = s.train_id
       |         WHERE CAST(s.n_shared AS DOUBLE) / sz.n_grams >= 0.5),
       |met AS (SELECT d.doc_id, d.source, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |          ${TextAnalysis.qualitySqlExpr("d.text", "t.toks")} AS quality
       |        FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
       |kept AS (SELECT m.* FROM met m
       |         WHERE m.doc_id % 20 != 0 AND m.n_tokens >= 30
       |           AND NOT EXISTS (SELECT 1 FROM neardrop nd WHERE nd.doc_id = m.doc_id)
       |           AND NOT EXISTS (SELECT 1 FROM cont c WHERE c.doc_id = m.doc_id))
       |SELECT doc_id, source, n_tokens, quality,
       |  CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens) // 512 AS BIGINT) AS seq_id,
       |  ${Corpus.splitSqlExpr("doc_id")} AS split
       |FROM kept
       |ORDER BY doc_id""".stripMargin

  /** q87 — near-duplicate cross-source matrix: verified q31 near-dup
    * pairs rolled up by (source, source), the near-dup sibling of q71's
    * exact-duplicate overlap matrix — where q71 says "these sources
    * literally mirror each other", q87 says "these sources carry edited/
    * templated variants of the same documents" (the syndication signal
    * exact hashing misses). Pair counts plus min/max verified Jaccard;
    * min/max are the order-invariant double aggregates (an AVG of
    * doubles is aggregation-order-dependent and would break the
    * cross-engine hash — the mean lives in the exact n_pairs count a
    * report derives ratios from).
    *
    * Scale shape: inherits q31's bucketed candidate generation; the
    * doc→source attachment is two joins on doc_id (near-dup pairs are a
    * vanishing fraction of the corpus, so the pair side is tiny relative
    * to the documents side — at 100 TB Catalyst shuffles on doc_id, at
    * fixture SF it broadcasts), then a #source²-bounded aggregate.
    */
  def q87NearDupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcs = Tables.documents(spark, dir).select($"doc_id", $"source")
    q31MinhashLsh(spark, dir)
      .join(srcs.select($"doc_id".as("a_id"), $"source".as("src_a")), Seq("a_id"))
      .join(srcs.select($"doc_id".as("b_id"), $"source".as("src_b")), Seq("b_id"))
      .select(least($"src_a", $"src_b").as("src_lo"),
        greatest($"src_a", $"src_b").as("src_hi"), $"jaccard")
      .groupBy($"src_lo", $"src_hi")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        min($"jaccard").as("min_jaccard"),
        max($"jaccard").as("max_jaccard"))
      .orderBy($"src_lo", $"src_hi")
  }

  val q87Sql: String =
    s"""WITH $q31CoreCtes,
       |sp AS (SELECT least(da.source, db.source) AS src_lo,
       |              greatest(da.source, db.source) AS src_hi,
       |              p.jaccard
       |       FROM pairs p
       |       JOIN documents da ON da.doc_id = p.a_id
       |       JOIN documents db ON db.doc_id = p.b_id)
       |SELECT src_lo, src_hi,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MIN(jaccard) AS min_jaccard,
       |  MAX(jaccard) AS max_jaccard
       |FROM sp
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** q88 — duplicate-cluster size histogram, the headline table of a
    * dedup report: how many near-dup families exist at each size, how
    * many documents they absorb, and what share of the corpus that is —
    * including the size-1 row for documents in no family (unconditional,
    * so the histogram always accounts for every document; removing
    * cluster reps' survivors from the corpus is q63's job, counting them
    * is q88's). Sizes come from q51's connected components over the q31
    * verified pairs.
    *
    * Scale shape: inherits q51's component rounds; the histogram itself
    * is a #distinct-sizes-row aggregate of the vertex→component table,
    * and the singleton row is two 1-row count aggregates crossed — no
    * new corpus-sized shuffle. The corpus total rides a broadcast onto
    * the (tiny) histogram for the share column.
    */
  def q88ClusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = q51DedupClusters(spark, dir)
    val hist = clusters.groupBy($"cluster_size")
      .agg(countDistinct($"cluster_rep").cast("long").as("n_clusters"),
        count(lit(1)).cast("long").as("n_docs"))
    val nTotal = Tables.documents(spark, dir).agg(count(lit(1)).as("n_total"))
    val nClustered = clusters.agg(count(lit(1)).as("n_clustered"))
    val singletons = nTotal.crossJoin(nClustered)
      .select(lit(1L).as("cluster_size"),
        ($"n_total" - $"n_clustered").as("n_clusters"),
        ($"n_total" - $"n_clustered").as("n_docs"))
    hist.unionByName(singletons)
      .crossJoin(broadcast(nTotal))
      .select($"cluster_size", $"n_clusters", $"n_docs",
        ($"n_docs".cast("double") / $"n_total").as("doc_share"))
      .orderBy($"cluster_size")
  }

  val q88Sql: String =
    s"""WITH RECURSIVE $q31CoreCtes,
       |$clusterCtes,
       |cs AS (SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY 1),
       |hist AS (SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |           CAST(SUM(sz) AS BIGINT) AS n_docs
       |         FROM cs GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
       |clustered AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clustered FROM comp),
       |fh AS (SELECT * FROM hist
       |       UNION ALL
       |       SELECT 1, n_total - n_clustered, n_total - n_clustered
       |       FROM tot CROSS JOIN clustered)
       |SELECT cluster_size, n_clusters, n_docs,
       |  CAST(n_docs AS DOUBLE) / n_total AS doc_share
       |FROM fh CROSS JOIN tot
       |ORDER BY cluster_size""".stripMargin

  /** q135 — golden-record survivorship: the step AFTER clustering that
    * makes entity resolution actionable — each near-dup cluster (q51's
    * connected components over the q31 LSH pairs) collapses to ONE
    * canonical record under an explicit, deterministic rule: longest
    * text wins, doc_id breaks ties. The selection is the q122
    * aggregation-only idiom — `min(struct(-n_chars, doc_id))`, a
    * map-side-combinable hash aggregate whose struct field order IS the
    * precedence — so no window, no per-cluster sort, one shuffle on the
    * cluster key after the (doc-keyed) attribute join. Alongside the
    * canonical pick, the merged attributes every MDM pipeline carries:
    * member count, distinct-source count, and total chars (BIGINT).
    * The oracle reruns the survivorship rule as a window rank over the
    * same recursive-CTE clusters — independent mechanism, same pick;
    * an arg-min tie broken differently flips the driver hash.
    */
  def q135GoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = q51DedupClusters(spark, dir).select($"doc_id", $"cluster_rep")
    val attrs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
    members.join(attrs, Seq("doc_id"))
      .groupBy($"cluster_rep")
      .agg(
        min(struct((-$"n_chars").as("nc"), $"doc_id".as("d"))).as("pick"),
        count(lit(1)).as("n_members"),
        countDistinct($"source").as("n_sources"),
        sum($"n_chars").as("total_chars"))
      .select($"cluster_rep", $"pick.d".as("canonical_doc"),
        $"n_members", $"n_sources", $"total_chars")
      .orderBy($"cluster_rep")
  }

  val q135Sql: String =
    s"""WITH RECURSIVE $q31CoreCtes,
       |$clusterCtes,
       |m AS (SELECT c.cluster_rep, d.doc_id, d.source, d.n_chars
       |      FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
       |sel AS (SELECT cluster_rep, doc_id,
       |          row_number() OVER (PARTITION BY cluster_rep
       |                             ORDER BY n_chars DESC, doc_id) AS rn
       |        FROM m),
       |ag AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         CAST(sum(n_chars) AS BIGINT) AS total_chars
       |       FROM m GROUP BY 1)
       |SELECT ag.cluster_rep, sel.doc_id AS canonical_doc,
       |       ag.n_members, ag.n_sources, ag.total_chars
       |FROM ag JOIN sel ON sel.cluster_rep = ag.cluster_rep AND sel.rn = 1
       |ORDER BY ag.cluster_rep""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q135_golden_record" -> (q135GoldenRecord _),
    "q63_training_manifest" -> (q63TrainingManifest _),
    "q87_neardup_source_matrix" -> (q87NearDupSourceMatrix _),
    "q88_cluster_size_histogram" -> (q88ClusterSizeHistogram _),
    "q92_minhash_calibration" -> (q92MinhashCalibration _),
    "q30_exact_dedup" -> (q30ExactDedup _),
    "q31_minhash_lsh" -> (q31MinhashLsh _),
    "q32_simhash" -> (q32Simhash _),
    "q33_ngram_jaccard" -> (q33NgramJaccard _),
    "q47_ngram_jaccard_inverted" -> (q47NgramJaccardInverted _),
    "q233_dedup_funnel" -> (q233DedupFunnel _),
    "q237_dpo_manifest" -> (q237DpoManifest _),
    "q224_method_scorecard" -> (q224MethodScorecard _),
    "q194_threshold_sweep" -> (q194ThresholdSweep _),
    "q179_containment" -> (q179Containment _),
    "q180_subsumption_roots" -> (q180SubsumptionRoots _),
    "q51_dedup_clusters" -> (q51DedupClusters _),
    "q54_decontamination" -> (q54Decontamination _),
    "q59_incremental_dedup" -> (q59IncrementalDedup _),
    "q79_split_leakage" -> (q79SplitLeakage _))

  val oracleSql: Map[String, String] = Map(
    "q135_golden_record" -> q135Sql,
    "q63_training_manifest" -> q63Sql,
    "q87_neardup_source_matrix" -> q87Sql,
    "q88_cluster_size_histogram" -> q88Sql,
    "q92_minhash_calibration" -> q92Sql,
    "q30_exact_dedup" -> q30Sql,
    "q31_minhash_lsh" -> q31Sql,
    "q32_simhash" -> q32Sql,
    "q33_ngram_jaccard" -> q33Sql,
    "q47_ngram_jaccard_inverted" -> q47Sql,
    "q233_dedup_funnel" -> q233Sql,
    "q237_dpo_manifest" -> q237Sql,
    "q224_method_scorecard" -> q224Sql,
    "q194_threshold_sweep" -> q194Sql,
    "q179_containment" -> q179Sql,
    "q180_subsumption_roots" -> q180Sql,
    "q51_dedup_clusters" -> q51Sql,
    "q54_decontamination" -> q54Sql,
    "q59_incremental_dedup" -> q59Sql,
    "q79_split_leakage" -> q79Sql)
}
