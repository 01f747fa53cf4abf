package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Incrementally-maintained IVF+PQ index — the [[IndexLifecycle]]
  * applied to the coarse-quantizer inverted-list family (q226/q242/
  * q246's production path).
  *
  * The structural position sits BETWEEN the siblings. [[AnnIndex]]'s
  * planes are data-independent, so append-only maintenance is exact
  * forever; [[NearDupIndex]]'s rarity order is a drifting heuristic, so
  * rebuild refreshes it for efficiency only. IVF pivots are
  * DATA-DEPENDENT AND CORRECTNESS-BEARING: an assignment is only
  * comparable to another under the SAME pivot set, and the √n policy
  * (q236 — `Similarity.ivfPolicyNlist/Nprobe`) says the right nlist
  * GROWS with the corpus. So:
  *
  *  - between rebuilds the pivot set AND the PQ codebook are FROZEN in
  *    their own stores — incremental assignment/coding of a batch
  *    against frozen state is EXACT (bit-equal to what the batch path
  *    computes under that state; pinned by IvfIndexSpec). New lower-id
  *    arrivals must NOT move the pivots mid-epoch, which is why the
  *    state is persisted rather than re-derived per batch;
  *  - rebuild-on-doubling (the NearDupIndex discipline) RE-POLICIES:
  *    fresh n → fresh nlist = ⌊√n⌋, nprobe = ⌈nlist/8⌉, fresh pivots,
  *    fresh codebook, full O(corpus) re-assignment — paid O(log n)
  *    times, so per-admitted-vector cost stays amortized O(1) while
  *    per-list size and candidate fraction track the q236 policy.
  *
  * Stores under `indexDir`:
  *  - `near/` — (vec_id, p_id, rk, code, resid): the
  *    rk ≤ max(nprobe, payload_rk) assignment slice (the q226-shape
  *    relation — rk = 1 IS the m=1 inverted index, rk ≤ nprobe the
  *    probe set), with the vector's 16-byte trained-PQ payload INLINED
  *    on EVERY rk ≤ payload_rk row (code = the q244-kernel code array,
  *    resid = the vector's own quantization residual
  *    ‖fv − recon(fv)‖², frozen integer). Codes live IN the inverted
  *    lists — the FAISS `IndexIVFPQ` layout, extended to
  *    multi-assignment: admission tests membership at rk ≤ payload_rk
  *    (see [[admitListRk]]), so every membership row SELF-CARRIES its
  *    payload and the candidate join recovers (code, resid) whichever
  *    list matched — the r15 rk=1-only layout left rk>1-overlap
  *    candidates with NULL payload, which the ADC bands silently
  *    admitted (r16 advisor finding). The duplication is bounded by
  *    payload_rk (default 4): ~4×24 B/vec buys a one-scan,
  *    no-extra-join probe whose decisions are always payload-backed.
  *  - `piv/`  — (p_id, pe): the frozen pivot set of the current epoch.
  *  - `cb/`   — (m, c_id, fc): the epoch's trained PQ codebook
  *    (q244's frozen-integer Lloyd at the production 16×4/K16
  *    geometry, trained on the epoch corpus at rebuild).
  *  - `meta/` — (n_vecs at last rebuild, nlist, nprobe, payload_rk,
  *    logic_version, pivot_src, pivot_fp, cb_fp, committed) — see the
  *    two-phase commit note on [[rebuild]].
  *
  * '''ADC-primary admission (exact).''' A batch vector's candidates come
  * from the inverted lists; each candidate row already carries the
  * corpus side's code and residual, so the probe scores candidates from
  * 16 LUT lookups without touching a raw corpus vector. Because frozen
  * integer arithmetic is exact, the triangle inequality
  * ‖fq − fb‖ ∈ [|a − r|, a + r] (a = √adc, r = √resid) makes the
  * decision EXACT, not approximate: pairs with a + r below the
  * rejection bound are certainly dups, pairs with |a − r| above it are
  * certainly clean, and only the thin GRAY band pays the exact-cosine
  * raw-vector fetch — at 100 TB the raw corpus is touched for a sliver
  * of candidates instead of all of them. The admitted set is therefore
  * BIT-EQUAL to the full exact-verify path (spec-pinned), which remains
  * available as `spark.graft.ivfIndex.exactVerify=true`.
  *
  * Per-batch cost = batch + candidates, not a fixed scheduling bill.
  * Each call ([[admitBatch]], [[topK]], [[rebuild]]) holds its epoch
  * on the driver: one `meta/` read, one collect per bounded store
  * (`piv/` is ⌊√n⌋ rows, `cb/` ≤ 256) carrying a per-row xxhash64 that
  * is XOR-folded into the consistency fingerprints. The epoch is
  * loaded ONCE per JVM while its stores are unchanged: the last one
  * loaded or committed per `indexDir` is kept with the (path, length,
  * mtime) listing of `meta/`, `piv/` and `cb/`, and a later call whose
  * listing matches takes it without a job (a rewrite gets fresh
  * part-file names, so it always misses); the version, committed and
  * fingerprint checks still run on every call. Assignment, PQ
  * coding and ADC LUTs then run as per-row, map-only [[IvfKernels]]
  * over that epoch — bit-equal to the relational `Similarity` kernels,
  * with no window or group-by shuffle and no partition-count probe.
  * The list store is only ever SCANNED against a broadcast of the
  * batch's probe rows, and raw-vector fetches are gray-band only — no
  * corpus-sized shuffle anywhere (the all-broadcast probe-plan pin).
  * Id filters are semi- and anti-joins on broadcast keys, which need
  * no unique keys, so no shuffle is paid to de-duplicate them.
  * Spark jobs per call on perfbench's `vector_ingest` episode (1,088
  * vectors in batches of 512/128/448, a 64-query topK after each):
  * bootstrap admission 25, incremental 20, re-policy 26, topK 7 — 92
  * per episode.
  *
  * Crash story identical to the siblings: corpus parquet is the source
  * of truth, stores append after it, pre-probe divergence heal rebuilds
  * ([[IndexLifecycle]] ordering argument) — extended here with the
  * fingerprinted two-phase meta commit, because pivots/codebook are
  * correctness-bearing state the count heal alone cannot see (the r14
  * advisor's toggled-`trainedPivots` crash window).
  */
object IvfIndex extends IndexLifecycle {

  protected def confScope: String = "ivfIndex"

  // rk is INT: row_number's type, preserved by the shared kernel;
  // code/resid are null on rk > payload_rk rows (the payload lives on
  // the membership slice, duplicated per assignment — FAISS
  // multi-assignment layout)
  val nearSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("p_id", LongType),
    StructField("rk", IntegerType),
    StructField("code", ArrayType(IntegerType)),
    StructField("resid", LongType)))

  val pivSchema: StructType = StructType(Seq(
    StructField("p_id", LongType),
    StructField("pe", ArrayType(FloatType))))

  val cbSchema: StructType = StructType(Seq(
    StructField("m", IntegerType),
    StructField("c_id", IntegerType),
    StructField("fc", ArrayType(LongType))))

  val metaSchema: StructType = StructType(Seq(
    StructField("n_vecs", LongType),
    StructField("nlist", IntegerType),
    StructField("nprobe", IntegerType),
    StructField("payload_rk", IntegerType),
    StructField("logic_version", StringType),
    StructField("pivot_src", StringType),
    StructField("pivot_fp", LongType),
    StructField("cb_fp", LongType),
    StructField("committed", BooleanType)))

  /** embeddings-shaped schema for streaming file sources and store reads. */
  val vecSchema: StructType = AnnIndex.vecSchema

  private final case class Meta(n: Long, nlist: Int, nprobe: Int,
      payloadRk: Int, version: String, pivotFp: Long, cbFp: Long,
      committed: Boolean)

  /** One call's epoch, held on the driver: the parsed meta (None when
    * absent or unreadable), the per-row kernels over the collected
    * pivots and codebook, and those stores' content fingerprints.
    */
  private final case class Epoch(meta: Option[Meta], kernels: IvfKernels,
      pivotFp: Long, cbFp: Long)

  private val pivCols = Seq("p_id", "pe")
  private val cbCols = Seq("m", "c_id", "fc")

  /** Meta parsed BY NAME with conservative defaults: a meta written by an
    * older store format (or a partially-evolved one) parses with
    * `committed = false`, so the epoch-consistency heal rebuilds it —
    * the version guard still fires first on `logic_version`. The WHOLE
    * construction sits inside one Try (not just the per-field reads):
    * `getAs[Long]` on a type-evolved INT column succeeds under erasure
    * and the ClassCastException only fires at unboxing — outside a
    * per-field Try — so a type-evolved meta must collapse to None (the
    * lost-meta rebuild path in [[admitBatch]]), never crash the probe.
    */
  private def metaRow(spark: SparkSession, indexDir: String): Option[Meta] =
    metaRowRaw(spark, indexDir).flatMap { r =>
      def get[T](name: String, dflt: T): T =
        scala.util.Try(r.getAs[T](name)).toOption
          .filterNot(_ == null).getOrElse(dflt)
      scala.util.Try(Meta(get[Long]("n_vecs", 0L), get[Int]("nlist", 0),
        get[Int]("nprobe", 0), get[Int]("payload_rk", 1),
        get[String]("logic_version", ""),
        get[Long]("pivot_fp", 0L), get[Long]("cb_fp", 0L),
        get[Boolean]("committed", false))).toOption
    }

  /** A bounded store relation collected in ONE job, with its order-free
    * content fingerprint: xxhash64 per row, XOR-folded on the driver
    * (empty relation = 0) — bit-equal to the `coalesce(bit_xor(h), 0)`
    * aggregate earlier stores were stamped with, so their meta still
    * verifies. Bounded inputs only: piv/ is nlist rows, cb/ is 256 —
    * never corpus-sized.
    */
  private def collectHashed(df: DataFrame, cols: Seq[String]): (Array[Row], Long) = {
    val rows = df.select(cols.map(col) :+ xxhash64(cols.map(col): _*).as("h"): _*)
      .collect()
    (rows, rows.foldLeft(0L)((fp, r) => fp ^ r.getLong(cols.length)))
  }

  private type Listing = Seq[(String, Long, Long)]

  /** The file identity of the epoch stores (`meta/`, `piv/`, `cb/`):
    * (path, length, mtime) per file — a metadata-only listing. Spark's
    * overwrite writes fresh part-file names, so any rewrite of these
    * stores changes it.
    */
  private def epochListing(spark: SparkSession, indexDir: String): Listing =
    Seq("meta", "piv", "cb").flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$d")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
        .sortBy(_._1)
    }

  /** The last epoch loaded or committed per `indexDir`, with the listing
    * it was read from or written under — so a stream's calls in one JVM
    * load an unchanged epoch once. LRU, a few dirs: the entries are
    * driver-side copies of bounded stores.
    */
  private val snapshots = new java.util.LinkedHashMap[String, (Listing, Epoch)](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, (Listing, Epoch)]): Boolean =
      size() > 4
  }

  private def remember(spark: SparkSession, indexDir: String, epoch: Epoch): Unit = {
    val listing = epochListing(spark, indexDir)
    snapshots.synchronized { snapshots.put(indexDir, (listing, epoch)) }
  }

  /** The epoch as stored under `indexDir`: the snapshot when the stores'
    * listing is unchanged since it was taken, else one meta read and one
    * collect per bounded store — kept only if the stores did not change
    * under the read.
    */
  private def loadEpoch(spark: SparkSession, indexDir: String): Epoch = {
    val before = epochListing(spark, indexDir)
    snapshots.synchronized { Option(snapshots.get(indexDir)) }
      .collect { case (l, e) if l == before => e }
      .getOrElse {
        val (piv, pivotFp) = collectHashed(
          readOrEmpty(spark, s"$indexDir/piv", pivSchema), pivCols)
        val (cb, cbFp) = collectHashed(
          readOrEmpty(spark, s"$indexDir/cb", cbSchema), cbCols)
        val e = Epoch(metaRow(spark, indexDir), IvfKernels(piv, cb), pivotFp, cbFp)
        if (epochListing(spark, indexDir) == before)
          snapshots.synchronized { snapshots.put(indexDir, (before, e)) }
        e
      }
  }

  private def requireVersion(indexDir: String, m: Meta): Unit =
    require(m.version == graft.operators.Similarity.ivfLogicVersion,
      s"index at $indexDir was built with IVF version ${m.version}, this " +
        s"code is ${graft.operators.Similarity.ivfLogicVersion} — rebuild() required")

  /** A (bounded) collected store written back as one parquet file, from
    * its local relation — the rows the epoch's kernels were built from.
    */
  private def writeStore(spark: SparkSession, rows: Array[Row],
      schema: StructType, dir: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(
        rows.map(r => Row.fromSeq(r.toSeq.take(schema.length))): _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** `rel` with its per-row epoch kernels as columns: `near` (the top-`r`
    * assignment), `pq` (codes + residual) and `lut`.
    */
  private def withKernels(rel: DataFrame, k: IvfKernels, r: Int): DataFrame =
    rel.withColumn("near", k.near(col("embedding"), r))
      .withColumn("pq", k.code(col("embedding")))
      .withColumn("lut", k.lut(col("embedding")))

  /** The (vec_id, p_id, rk) assignment rows of a [[withKernels]] relation
    * — the `ivfNearOf` shape.
    */
  private def nearRows(rel: DataFrame): DataFrame =
    rel.select(col("vec_id"), explode(col("near")).as("n"))
      .select(col("vec_id"), col("n.p_id").as("p_id"), col("n.rk").as("rk"))

  /** The `near/` store rows of a [[withKernels]] relation: every
    * assignment, with the (code, resid) payload inlined on rk ≤ payloadRk.
    */
  private def storeRows(rel: DataFrame, payloadRk: Int): DataFrame =
    rel.select(col("vec_id"), explode(col("near")).as("n"), col("pq"))
      .select(col("vec_id"), col("n.p_id").as("p_id"), col("n.rk").as("rk"),
        when(col("n.rk") <= payloadRk, col("pq.codes")).as("code"),
        when(col("n.rk") <= payloadRk, col("pq.resid")).as("resid"))

  private def writeMeta(spark: SparkSession, indexDir: String, n: Long,
      nlist: Int, nprobe: Int, payloadRk: Int, pivotSrc: String,
      pivotFp: Long, cbFp: Long, committed: Boolean): Unit = {
    import spark.implicits._
    Seq((n, nlist, nprobe, payloadRk,
        graft.operators.Similarity.ivfLogicVersion,
        pivotSrc, pivotFp, cbFp, committed))
      .toDF("n_vecs", "nlist", "nprobe", "payload_rk", "logic_version",
        "pivot_src", "pivot_fp", "cb_fp", "committed")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** Pivot source for rebuilds: `spark.graft.ivfIndex.trainedPivots`
    * (default false = q226's lowest-vec_id pivots). When true, each
    * rebuild TRAINS the epoch's pivots (q245's frozen-integer Lloyd, 64
    * points per centroid, 8 iterations) and freezes the centroids as
    * the `piv/` payload. Assignment stays the cosine [[ivfNearOf]]
    * kernel either way — validated by the r14 ANN scale run's spherical
    * arm (NOTES_r14 §9): cosine-ranked assignment against trained
    * centroids matches the gated q245 integer-L2 form's recall at every
    * rung of 64× growth (73/85/97/105 vs 73/82/94/106 of 160), because
    * cosine is scale-invariant in the pivot. The flag only steers the
    * NEXT rebuild; probes always rank against the FROZEN stored payload,
    * so epochs stay internally consistent whatever the flag does later —
    * and the meta fingerprint makes a toggle-plus-crash window detectable
    * (see [[rebuild]]).
    */
  private def trainedPivots(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.ivfIndex.trainedPivots")
      .exists(_.toBoolean)

  /** `spark.graft.ivfIndex.exactVerify=true` restores the full
    * exact-cosine verify over every candidate (the pre-ADC fallback).
    * Default false: ADC-primary with gray-band exact — the SAME
    * admitted set (spec-pinned), touching raw vectors for the gray
    * band only.
    */
  private def exactVerify(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.ivfIndex.exactVerify")
      .exists(_.toBoolean)

  /** How many lists an ADMISSION probe scans
    * (`spark.graft.ivfIndex.admitNprobe`, default 1, capped at the
    * epoch's nprobe). The epoch nprobe (⌈nlist/8⌉, the q236 policy) is
    * a RECALL budget — right for top-k queries, ruinous for admission:
    * at 1/8 of the lists every admitted vector compares against ~12.5%
    * of the corpus, which is O(n) per vector. A near-dup at the 0.92
    * gate all but shares its twin's NEAREST list (an exact copy does so
    * by construction), so admission probes 1 list by default —
    * corpus/nlist ≈ √n candidates per vector under the √n policy,
    * SUBLINEAR, the same trade LSH banding makes (false negatives only
    * from pairs straddling a Voronoi boundary; raise the knob or set
    * exactVerify for stricter gates). Measured on the r15 evidence
    * ladder: the steady-state per-batch admit wall at nprobe=1 tracks
    * the batch, not the corpus.
    */
  private def admitNprobe(spark: SparkSession, epochNprobe: Int): Int =
    // floor the KNOB at 1 (a non-positive setting must not silently
    // disable admission dedup), then cap at the epoch's nprobe
    math.min(math.max(1, epochNprobe),
      math.max(1, spark.conf.getOption("spark.graft.ivfIndex.admitNprobe")
        .map(_.toInt).getOrElse(1)))

  /** Candidate (corpus, batch) pairs WITH the corpus side's inlined ADC
    * payload, from probing the persisted membership lists with a
    * batch's probe assignments: the batch assigns against the BROADCAST
    * frozen pivots, then the rk ≤ R membership slice of the list store
    * is scanned once against a broadcast of the batch's probe rows (the
    * q226 candidate shape at micro-batch grain). A (corpus, batch) pair
    * can co-occur in several lists (R-way membership × nprobe probes),
    * so pairs dedup through the group-by — the payload is identical per
    * a_id (every membership row self-carries it), so any surviving row
    * is the right one.
    */
  /** Store-side list-membership depth for ADMISSION candidate
    * generation (`spark.graft.ivfIndex.admitListRk`): a pair is a
    * candidate iff the batch's [[admitNprobe]]-probe set intersects the
    * corpus vector's rk ≤ R stored assignments. The r15 claim that R=1
    * catches only ~1/640 planted clones was a GENERATOR ARTIFACT (the
    * in-wave clone-source bug shrank the real cross-batch sample to ~1
    * pair per wave); the r16 clean grid (NOTES r16 §3, four full
    * 128k-corpus ladder runs) measures R=1 at k=1 catching
    * 1319/1340 planted 0.989-cosine isotropic clones (misses 0.6–3.4%
    * per wave — the Voronoi-boundary argmax flips, rare but real),
    * while R=4 is the measured ZERO-MISS depth: 1340/1340, at ~2.1×
    * per-batch admission cost and 4× payload bytes. The R-axis beats
    * the k-axis at equal candidate volume ((1,4) caught everything the
    * (2,1) and (1,2) cells each missed ~5 of), because membership
    * depth is paid in storage-local bytes while probe depth is paid on
    * every batch. Default 4 = the zero-miss point; set 1 to restore
    * the lean 24 B/vec profile where ~98.5% admission recall suffices.
    * The gated q250 planted-clone calibration carries the
    * fixture-geometry grid (clustered corpora sit near 100% already at
    * R=1); the fixture spec pins ADC==exact exactly on the
    * rk>1-overlap path.
    *
    * At WRITE time (rebuild / incremental append) the conf decides how
    * deep the payload duplicates — capped at nlist, recorded in meta as
    * `payload_rk`. At READ time ([[candidatePairsCoded]]) the effective
    * depth is min(conf, the STORE's recorded payload_rk): membership
    * beyond the payload depth would yield payload-less candidates the
    * ADC bands cannot decide, so a raised conf takes effect at the next
    * rebuild, never mid-epoch.
    */
  private[streaming] def admitListRk(spark: SparkSession): Int =
    math.max(1, spark.conf.getOption("spark.graft.ivfIndex.admitListRk")
      .map(_.toInt).getOrElse(4))

  /** The store's recorded payload duplication depth (1 for pre-r16 or
    * missing meta — the rk=1-only layout).
    */
  private[streaming] def storedPayloadRk(spark: SparkSession,
      indexDir: String): Int =
    metaRow(spark, indexDir).map(_.payloadRk).getOrElse(1)

  def candidatePairsCoded(spark: SparkSession, indexDir: String,
      batchNear: DataFrame): DataFrame =
    candidatePairsCoded(spark, indexDir, batchNear,
      storedPayloadRk(spark, indexDir))

  /** [[candidatePairsCoded]] at the store's payload depth as the caller's
    * epoch already read it from meta.
    */
  private def candidatePairsCoded(spark: SparkSession, indexDir: String,
      batchNear: DataFrame, payloadRk: Int): DataFrame = {
    import spark.implicits._
    val store = readOrEmpty(spark, s"$indexDir/near", nearSchema)
    // ONE store scan: every rk ≤ payload_rk membership row SELF-CARRIES
    // the ADC payload (write-side duplication — see the store-layout
    // doc), so whichever list matched, the pair-dedup group's max picks
    // up the one (code, resid) the vector has. Membership depth is
    // capped at the STORE's payload depth: rows beyond it would join
    // payload-less and the ADC bands could not decide them (the r15
    // null-payload admission hole).
    val rEff = math.min(admitListRk(spark), payloadRk)
    val members = store.filter($"rk" <= rEff)
      .select($"vec_id".as("a_id"), $"p_id", $"code", $"resid")
    members.join(broadcast(batchNear.select($"vec_id".as("b_id"), $"p_id")),
        Seq("p_id"))
      .filter($"a_id" =!= $"b_id")
      .groupBy($"a_id", $"b_id")
      .agg(max($"code").as("code"), max($"resid").as("resid"))
  }

  /** The bare (a_id, b_id) candidate pairs — [[candidatePairsCoded]]
    * minus the payload (parquet column pruning keeps the narrow read).
    */
  def candidatePairs(spark: SparkSession, indexDir: String,
      batchNear: DataFrame): DataFrame =
    candidatePairsCoded(spark, indexDir, batchNear)
      .select(col("a_id"), col("b_id"))

  /** Batch ids with an indexed neighbor at cosine ≥ maxCosine, decided
    * ADC-FIRST: score every candidate from its inlined (code, resid)
    * against the batch vector's LUT — frozen-integer exact — and
    * sandwich the true frozen distance with the triangle inequality.
    * Certain-dups reject with no raw fetch; certain-cleans drop with no
    * raw fetch; ONLY the gray band runs the exact-cosine verify. The
    * union is bit-equal to exact-verifying every candidate (IvfIndexSpec
    * pin) because the bands are sound:
    *
    *   frozen space (exact ints): |a − r| ≤ ‖fq − fb‖ ≤ a + r,
    *   freeze noise: ‖fq − fb‖ within 8 units of 10⁶·‖q − b‖ (per-coord
    *   floor error < 1, 64 dims → √64), and unit-domain geometry:
    *   cos(q, b) ≥ maxCosine ⟺ ‖q − b‖ ≤ √(2(1 − maxCosine)).
    *
    * The `Similarity.adcEpsFrozen` margin (64 units = 6.4e-5 in unit
    * space — one definition shared with q248's gated calibration)
    * swallows the freeze noise AND the float error of the exact arm's
    * cosineSim, erring only toward a wider gray band — never toward a
    * wrong certain decision.
    */
  /** The ADC sandwich of a coded candidate relation: each pair scored
    * as (a = √adc, r = √resid) against the batch's LUTs — the shared
    * kernel of [[adcRejectedIds]] and the [[admitBandCounts]]
    * diagnostic (one definition, so a band re-tune cannot desync the
    * evidence ladder's census from production).
    */
  private def adcScoredOf(spark: SparkSession, batch: DataFrame,
      candCoded: DataFrame, kEff: Int): DataFrame = {
    import spark.implicits._
    val sim = graft.operators.Similarity
    // `batch` carries its per-row LUTs ([[withKernels]]); kEff is the
    // codebook's EFFECTIVE per-subspace size: an epoch trained on fewer
    // vectors than K has that many centroids, and the positional LUT
    // pack must stride by the actual count (0 on a first-touch empty
    // store → no LUTs → no ADC rejections, matching the empty candidate
    // set)
    val luts = batch.filter($"lut".isNotNull).select($"vec_id".as("b_id"), $"lut")
    candCoded
      .join(broadcast(luts), Seq("b_id"))
      .withColumn("a", sqrt(sim.adcDistOf($"code", $"lut", kEff).cast("double")))
      .withColumn("r", sqrt($"resid".cast("double")))
  }

  /** Band predicates over an [[adcScoredOf]] relation — rejection bound
    * as a frozen-unit DISTANCE (not squared): the sandwich compares
    * √adc ± √resid against it. A NULL sandwich (no payload: a zero-norm
    * corpus vector the PQ model excludes, or a store violating the
    * payload_rk invariant) fails SAFE into the gray band's exact
    * verify — a certain decision is only ever made on payload-backed
    * arithmetic (r16 advisor: the r15 layout silently ADMITTED
    * null-payload pairs because all three band predicates evaluate
    * null→false).
    */
  private def certainPred(maxCosine: Double): org.apache.spark.sql.Column = {
    val sim = graft.operators.Similarity
    val boundF = sim.adcBoundFrozen(maxCosine)
    col("a").isNotNull && col("r").isNotNull &&
      col("a") + col("r") <= lit(boundF - sim.adcEpsFrozen)
  }

  private def grayPred(maxCosine: Double): org.apache.spark.sql.Column = {
    val sim = graft.operators.Similarity
    val boundF = sim.adcBoundFrozen(maxCosine)
    col("a").isNull || col("r").isNull ||
      (col("a") + col("r") > lit(boundF - sim.adcEpsFrozen) &&
        abs(col("a") - col("r")) <= lit(boundF + sim.adcEpsFrozen))
  }

  private[streaming] def adcRejectedIds(spark: SparkSession,
      corpusDir: String, batch: DataFrame, candCoded: DataFrame,
      kEff: Int, maxCosine: Double, ck: CkptScope): DataFrame = {
    import spark.implicits._
    val scored = adcScoredOf(spark, batch, candCoded, kEff)
    // ONE pass over the candidate join materializes BOTH decided bands
    // (certain-dup ∪ gray), dropping the certain-clean bulk in the same
    // scan — the r16 first cut filtered `scored` twice (the gray
    // checkpoint, then the certain branch), re-running the store-scan
    // candidate join per batch; measured on the evidence ladder this
    // one-pass form cuts steady-state admission from 14.5–17.5 s to
    // 8.6–10.0 s per 2k batch at a 130k corpus (NOTES r16 §3) — the
    // rk ≤ 4 zero-miss default now costs ~15% over the r15 rk=1
    // baseline instead of ~2.1×. The materialized relation
    // stays SMALL by construction: threshold-adjacent pairs, actual dup
    // pairs, and the fail-safe null sandwiches only.
    val bands = ck(scored
      .filter(certainPred(maxCosine) || grayPred(maxCosine))
      .select($"a_id", $"b_id", certainPred(maxCosine).as("certain")))
    val certain = bands.filter($"certain").select($"b_id".as("vec_id"))
    val gray = bands.filter(!$"certain").select($"a_id", $"b_id")
    val grayRejected = cosineRejectedIds(spark, corpusDir, vecSchema,
      batch, gray, maxCosine)
    // may repeat ids (a batch vector on several certain or gray rows):
    // the one consumer anti-joins on it
    certain.union(grayRejected)
  }

  /** Diagnostic band census of one batch's admission-shaped ADC
    * sandwich against the CURRENT index state: (certain_dup, gray,
    * certain_clean) candidate-pair counts under the production
    * predicates — the per-wave gray-fraction line the evidence ladder
    * prints, so codebook staleness across epochs shows up as a
    * WIDENING gray band (more raw-vector fetches) rather than silent
    * cost growth. Read-only: probes exactly what [[admitBatch]] would,
    * writes nothing.
    */
  private[graft] def admitBandCounts(spark: SparkSession, indexDir: String,
      batch: DataFrame, maxCosine: Double = 0.92): (Long, Long, Long) = {
    val epoch = loadEpoch(spark, indexDir)
    val b = withKernels(batch, epoch.kernels,
      admitNprobe(spark, epoch.meta.map(_.nprobe).getOrElse(1)))
    val candCoded = candidatePairsCoded(spark, indexDir, nearRows(b),
      epoch.meta.map(_.payloadRk).getOrElse(1))
    val row = adcScoredOf(spark, b, candCoded, epoch.kernels.kEff)
      .agg(sum(when(certainPred(maxCosine), 1L).otherwise(0L)),
        sum(when(!certainPred(maxCosine) && grayPred(maxCosine), 1L)
          .otherwise(0L)),
        sum(when(!certainPred(maxCosine) && !grayPred(maxCosine), 1L)
          .otherwise(0L)))
      .head()
    def g(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    (g(0), g(1), g(2))
  }

  /** Plan view for the cost-shape pin: the full per-batch probe (assign
    * against frozen pivots → coded candidates → ADC sandwich →
    * gray-band cosine verify), no writes. Since the r16 one-pass band
    * materialization, the candidate join executes eagerly into the
    * bands checkpoint and this plan shows only the downstream
    * exact-verify arm — the spec therefore pins the no-shuffle-join
    * property on BOTH plans: [[candidatePairsCoded]]'s (the store-scan
    * candidate join, pre-checkpoint) and this one (the gray arm's
    * broadcast raw-vector fetch).
    */
  private[graft] def batchProbePlan(spark: SparkSession, indexDir: String,
      corpusDir: String, batch: DataFrame, maxCosine: Double): DataFrame = {
    val epoch = loadEpoch(spark, indexDir)
    val b = withKernels(batch, epoch.kernels,
      admitNprobe(spark, epoch.meta.map(_.nprobe).getOrElse(1)))
    // the scope is deliberately NOT freed: the returned plan references
    // the gray checkpoint and may execute later (diagnostic API — one
    // tiny gray block per call)
    adcRejectedIds(spark, corpusDir, b,
      candidatePairsCoded(spark, indexDir, nearRows(b),
        epoch.meta.map(_.payloadRk).getOrElse(1)),
      epoch.kernels.kEff, maxCosine, new CkptScope)
  }

  /** Full index (re)derivation from the corpus store — bootstrap,
    * doubling RE-POLICY, compaction, crash recovery. Derives fresh
    * q236-policy parameters from the CURRENT corpus size, freezes the
    * fresh pivot set and trained codebook, and re-assigns/re-codes
    * everything: one O(corpus·nlist) + one O(corpus·M·K) pass, paid
    * O(log n) times under the doubling trigger. (The corpus-sized
    * near⋈codes join below is rebuild-only — the per-batch path never
    * shuffles corpus-sized relations.)
    *
    * '''Two-phase fingerprinted meta commit''' (r14 advisor: a crash
    * between the piv/ overwrite and the near/ overwrite during a
    * pure-compaction rebuild with `trainedPivots` toggled between
    * sessions left trained pivots over old-pivot assignments with
    * MATCHING row counts — invisible to the count heal). Write order:
    *
    *   1. piv/ and cb/ (the epoch state),
    *   2. meta with their content fingerprints and `committed = false`,
    *   3. near/ (the corpus-sized derived store),
    *   4. meta again with `committed = true`.
    *
    * Every crash window is now detectable pre-probe: a crash before 2
    * leaves stored fingerprints disagreeing with the stale meta's; a
    * crash between 2 and 4 leaves `committed = false`; and a LOST meta
    * under surviving data heals via the counts-or-missing-meta path in
    * [[admitBatch]] (never re-stamped with first-touch params).
    */
  def rebuild(spark: SparkSession, corpusDir: String, indexDir: String): Long =
    rebuildEpoch(spark, corpusDir, indexDir, None).meta.map(_.n).getOrElse(0L)

  /** [[rebuild]], returning the epoch it committed — so a healing
    * [[admitBatch]] probes with it instead of re-reading the stores it
    * just wrote, and the next call finds it in the snapshot. `rows` is
    * the corpus row count when the caller already holds it.
    */
  private def rebuildEpoch(spark: SparkSession, corpusDir: String,
      indexDir: String, rows: Option[Long]): Epoch = {
    import spark.implicits._
    val sim = graft.operators.Similarity
    val corpus = readOrEmpty(spark, corpusDir, vecSchema)
      .select($"vec_id", $"embedding")
    val n = rows.getOrElse(corpus.count())
    val nlist = sim.ivfPolicyNlist(n)
    val nprobe = sim.ivfPolicyNprobe(nlist)
    // admission membership depth for THIS epoch (frozen into meta): the
    // conf capped at nlist (a vector has only nlist distinct lists);
    // the stored slice deepens to cover it when it exceeds nprobe
    val payloadRk = math.min(admitListRk(spark), math.max(1, nlist))
    val storeRk = math.max(nprobe, payloadRk)
    val pivotSrc = if (trainedPivots(spark)) "trained" else "policy"
    // the epoch state, collected once with its fingerprints: the
    // collected rows are what gets written, what the fingerprints hash
    // and what the kernels assign and code against, so the values cannot
    // move between the two meta writes
    val (piv, fpPiv) = collectHashed(
      if (pivotSrc == "trained") sim.trainedCoarsePivots(corpus, nlist)
      else sim.ivfPivotsOf(corpus, nlist), pivCols)
    val (cb, fpCb) = collectHashed(sim.trainedPqCodebookOf(corpus), cbCols)
    writeStore(spark, piv, pivSchema, s"$indexDir/piv")
    writeStore(spark, cb, cbSchema, s"$indexDir/cb")
    writeMeta(spark, indexDir, n, nlist, nprobe, payloadRk, pivotSrc,
      fpPiv, fpCb, committed = false)
    val kernels = IvfKernels(piv, cb)
    // corpus-sized but map-only: each vector is assigned and coded in
    // place, then exploded into its store rows — no join, no shuffle
    storeRows(corpus.withColumn("near", kernels.near($"embedding", storeRk))
        .withColumn("pq", kernels.code($"embedding")), payloadRk)
      .coalesce(compactFiles(spark, n)).write.mode("overwrite")
      .parquet(s"$indexDir/near")
    writeMeta(spark, indexDir, n, nlist, nprobe, payloadRk, pivotSrc,
      fpPiv, fpCb, committed = true)
    val epoch = Epoch(Some(Meta(n, nlist, nprobe, payloadRk, sim.ivfLogicVersion,
      fpPiv, fpCb, committed = true)), kernels, fpPiv, fpCb)
    remember(spark, indexDir, epoch)
    epoch
  }

  /** One micro-batch of IVF-indexed admission: reject batch vectors with
    * an indexed cosine neighbor >= maxCosine among their IVF candidates
    * (ADC-first, gray-band exact — see [[adcRejectedIds]]), append
    * survivors to the corpus AND their frozen-epoch assignments + codes
    * to the list store; RE-POLICY rebuild when the corpus has doubled
    * since the last snapshot OR on the FIRST admission into a
    * never-rebuilt store (r14 advisor: a one-vector first batch under
    * the doubling rule alone would strand an empty-pivot store if the
    * stream ended there). In-batch near-dups are both admitted;
    * replay-safe via the exact id anti-join, as in the siblings.
    */
  def admitBatch(batch: DataFrame, corpusDir: String, indexDir: String,
      maxCosine: Double = 0.92): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val sim = graft.operators.Similarity
    val ck = new CkptScope
    try {
    // ONE epoch load serves the guard, the consistency heal, the probe
    // and the append; a heal replaces it with the epoch it rebuilt.
    val loaded = loadEpoch(spark, indexDir)
    loaded.meta.foreach(requireVersion(indexDir, _))
    // Pre-probe self-heal ([[IndexLifecycle.healIfNeeded]] — ordering
    // argument in the trait doc), extended with the epoch-consistency
    // check: counts catch orphaned rows, fingerprints + the committed
    // flag catch mixed-epoch state the counts cannot see. Both counts
    // come from ONE aggregate over the tagged union of the two stores;
    // the struct keeps a NULL vec_id a distinct value, as `distinct()`
    // counted it.
    val counts = readOrEmpty(spark, s"$indexDir/near", nearSchema)
      .select(lit(true).as("idx"), $"vec_id")
      .union(readOrEmpty(spark, corpusDir, vecSchema)
        .select(lit(false).as("idx"), lit(null).cast(LongType).as("vec_id")))
      .agg(countDistinct(when($"idx", struct($"vec_id"))),
        count(when(!$"idx", lit(1))))
      .head()
    val preIdxCount = counts.getLong(0)
    val preCorpusCount = counts.getLong(1)
    var epoch = loaded
    var healed = false
    def doRebuild(): Unit = {
      epoch = rebuildEpoch(spark, corpusDir, indexDir, None); healed = true
    }
    loaded.meta match {
      case None =>
        if (preIdxCount > 0 || preCorpusCount > 0) doRebuild() // lost meta under data: re-derive, never re-stamp
        else {
          val nlist0 = sim.ivfPolicyNlist(0L)
          val m0 = Meta(0L, nlist0, sim.ivfPolicyNprobe(nlist0), 1,
            sim.ivfLogicVersion, 0L, 0L, committed = true)
          writeMeta(spark, indexDir, m0.n, m0.nlist, m0.nprobe, m0.payloadRk,
            if (trainedPivots(spark)) "trained" else "policy", 0L, 0L,
            committed = true)
          epoch = loaded.copy(meta = Some(m0))
          remember(spark, indexDir, epoch)
        }
      case Some(m) =>
        val epochConsistent = m.committed &&
          m.pivotFp == loaded.pivotFp && m.cbFp == loaded.cbFp
        if (!epochConsistent) doRebuild()
    }
    if (!healed)
      healIfNeeded(spark, preCorpusCount, preIdxCount,
        Seq(s"$indexDir/near")) { doRebuild() }
    // every branch above leaves a parsed, rebuilt or first-touch meta
    val meta = epoch.meta.get
    val lastN = meta.n
    val nprobe = meta.nprobe
    // the EPOCH's recorded depths, not the live conf: incremental
    // appends must write the exact slice the rebuild wrote, or the
    // store==batch-path pin (and the heal's count invariant) drift
    val payloadRkEpoch = meta.payloadRk
    val storeRkEpoch = math.max(nprobe, payloadRkEpoch)
    val existingIds = readOrEmpty(spark, corpusDir, vecSchema).select($"vec_id")
    // a semi-join, not a de-duplicated inner join: its only consumer is
    // the anti-join below, which needs no unique keys
    val idHits = existingIds
      .join(broadcast(batch.select($"vec_id")), Seq("vec_id"), "left_semi")
    // in-batch exact-id dedup — same rationale and winner rule as
    // [[AnnIndex.admitBatch]] (a duplicated vec_id in one batch would
    // wedge the row-vs-distinct heal into perpetual rebuilds). The same
    // checkpoint carries each fresh vector's epoch kernels: its
    // full-slice assignment, its (code, resid) and its LUT.
    val fresh = ck(withKernels(
      batch.join(broadcast(idHits), Seq("vec_id"), "left_anti")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
            .orderBy(xxhash64($"embedding"), $"label")))
        .filter($"rk" === 1)
        .select($"vec_id", $"embedding", $"label"),
      epoch.kernels, storeRkEpoch))
    // DELIBERATELY NOT checkpointed: the candidate relation is
    // batch × corpus × (admitNprobe/nlist) pairs — at a 32k batch
    // against a 64k corpus with the epoch's recall nprobe that was
    // ~270M wide rows (inlined code arrays), and materializing it OOMed
    // a single JVM (measured: the r15 evidence ladder's wave-5 heap
    // death) while buying nothing at cluster scale. Its two consumers
    // (the certain-reject pass and the gray-band pass) each stream the
    // rk=1 list scan + broadcast joins instead: scan-heavy,
    // memory-light, fully distributed. The probe slice is the
    // [[admitNprobe]] prefix of the epoch assignment (default: the
    // nearest list only — √n candidates per vector under the policy);
    // the store append below keeps the FULL epoch slice.
    val probeNear = nearRows(fresh).filter($"rk" <= admitNprobe(spark, nprobe))
    val candCoded = candidatePairsCoded(spark, indexDir, probeNear, payloadRkEpoch)
    val rejected =
      if (exactVerify(spark))
        cosineRejectedIds(spark, corpusDir, vecSchema, fresh,
          candCoded.select($"a_id", $"b_id"), maxCosine)
      else adcRejectedIds(spark, corpusDir, fresh, candCoded,
        epoch.kernels.kEff, maxCosine, ck)
    val admitted = ck(fresh.drop("lut")
      .join(broadcast(rejected), Seq("vec_id"), "left_anti"))
    val nAdmitted = admitted.count()
    admitted.select($"vec_id", $"embedding", $"label")
      .write.mode("append").parquet(corpusDir)
    // RE-POLICY trigger (post-append, so the rebuild sees this batch):
    // doubling since the last snapshot — or ANY admission while the
    // store has never rebuilt (lastN == 0: the pivot/codebook stores
    // are empty, so incremental appends could not index the rows) —
    // re-derives nlist/nprobe/pivots/codebook and every assignment;
    // the incremental append is skipped, the rebuild already indexed
    // the admitted rows. corpusTotal is derived (pre-heal count + this
    // batch's admissions — fresh ids are by construction absent from
    // the corpus), not a second full count; the rebuilds take it as
    // their corpus size.
    val corpusTotal = preCorpusCount + nAdmitted
    if (corpusTotal >= 2L * math.max(1L, lastN) ||
        (lastN == 0L && corpusTotal > 0L)) {
      rebuildEpoch(spark, corpusDir, indexDir, Some(corpusTotal))
    } else {
      // the admitted rows already carry their frozen-epoch assignment
      // and payload: the append is a projection, no join. One writer
      // needs no shuffle: clustering by p_id into one file buys nothing.
      val writers = appendWriters(spark, nAdmitted)
      val rows = storeRows(admitted, payloadRkEpoch)
      (if (writers == 1) rows.coalesce(1) else rows.repartition(writers, $"p_id"))
        .write.mode("append").parquet(s"$indexDir/near")
      compactIfOverCap(spark, Seq(s"$indexDir/near")) {
        rebuildEpoch(spark, corpusDir, indexDir, Some(corpusTotal))
      }
    }
    } finally ck.freeAll()
  }

  /** Ranked top-k similarity SEARCH over the persisted incremental
    * index — the serving-tier probe that makes the store a queryable
    * FAISS-style index, not only an admission filter (the q242/q246
    * search shape at micro-batch grain over the streaming stores).
    * Stages, all broadcast-shaped with per-query cost bounded by the
    * probe slice (≈ nprobe/nlist of the corpus — the q236 policy):
    *
    *  1. queries assign against the BROADCAST frozen pivots → their
    *     top-`nprobe` probe lists (default: the epoch's recall nprobe
    *     from meta — the ⌈nlist/8⌉ recall budget, NOT the admission
    *     slice; search recall comes from probe depth, membership depth
    *     is an admission concept);
    *  2. candidates = the rk = 1 single-assignment inverted lists
    *     (q226/q242's search semantics) scanned ONCE against a
    *     broadcast of the probe rows;
    *  3. ADC scoring: each candidate's inlined code against the
    *     query's LUT — frozen-integer exact, 16 lookups, no raw
    *     vector — reduced to a per-query shortlist (max(k, 4k) unless
    *     `shortlist` overrides) through the bounded-state
    *     [[graft.functions.TopKByScore]] aggregator (map-side partial:
    *     the shuffle carries shortlist rows per query per partition,
    *     never the candidate set);
    *  4. exact re-rank (`exactRerank=true`, default): the shortlist's
    *     raw vectors fetched via broadcast-ids semi-join on the
    *     corpus, ranked by exact cosine, keep k. With
    *     `exactRerank=false` the ADC ranking is returned directly and
    *     `score` is the NEGATED frozen ADC distance (higher = closer)
    *     — rank-comparable, not a cosine.
    *
    * Returns (vec_id, rk, b_id, score), rk 1-based best-first.
    * Zero-norm queries carry no direction (no LUT under the PQ model)
    * and return no rows — the same exclusion the exact arm's NaN
    * filter applies. Version-guarded like [[admitBatch]].
    */
  def topK(spark: SparkSession, indexDir: String, corpusDir: String,
      queries: DataFrame, k: Int, shortlist: Int = 0,
      exactRerank: Boolean = true): DataFrame = {
    import spark.implicits._
    val sim = graft.operators.Similarity
    val epoch = loadEpoch(spark, indexDir)
    epoch.meta.foreach(requireVersion(indexDir, _))
    val nprobe = epoch.meta.map(_.nprobe).getOrElse(1)
    val kEff = epoch.kernels.kEff
    val q = queries.select($"vec_id", $"embedding")
    val qk = withKernels(q, epoch.kernels, nprobe)
    val probes = nearRows(qk).select($"vec_id".as("q_id"), $"p_id")
    val cand = readOrEmpty(spark, s"$indexDir/near", nearSchema)
      .filter($"rk" === 1)
      .select($"vec_id".as("n_id"), $"p_id", $"code")
      .join(broadcast(probes), Seq("p_id"))
      .filter($"n_id" =!= $"q_id")
    val luts = qk.filter($"lut".isNotNull).select($"vec_id".as("q_id"), $"lut")
    val sl = if (shortlist > 0) shortlist else 4 * k
    val topSl = graft.functions.TopKByScore(sl)
    val adcTop = cand.join(broadcast(luts), Seq("q_id"))
      .withColumn("score", -sim.adcDistOf($"code", $"lut", kEff).cast("double"))
      // a payload-less candidate (zero-norm corpus vector outside the
      // PQ model) has no ADC score and cannot be ranked — excluded,
      // like the exact arm's NaN cosine exclusion
      .filter($"score".isNotNull && !isnan($"score"))
      .groupBy($"q_id")
      .agg(topSl($"score", $"n_id").as("top"))
    if (!exactRerank) {
      adcTop
        .select($"q_id", posexplode($"top").as(Seq("pos", "t")))
        .filter($"pos" < k)
        .select($"q_id".as("vec_id"), ($"pos" + 1).cast("int").as("rk"),
          $"t.b_id".as("b_id"), $"t.cs".as("score"))
    } else {
      val short = adcTop
        .select($"q_id", explode($"top.b_id").as("n_id"))
      val raw = readOrEmpty(spark, corpusDir, vecSchema)
        .join(broadcast(short.select($"n_id")), col("vec_id") === col("n_id"),
          "left_semi")
        .select($"vec_id".as("n_id"), $"embedding".as("en"))
      val qe = q.select($"vec_id".as("q_id"), $"embedding".as("eq"))
      val topk = graft.functions.TopKByScore(k)
      short
        .join(broadcast(raw), Seq("n_id"))
        .join(broadcast(qe), Seq("q_id"))
        .withColumn("cs",
          graft.functions.VectorFunctions.cosineSim($"eq", $"en"))
        .filter(!isnan($"cs"))
        .groupBy($"q_id")
        .agg(topk($"cs", $"n_id").as("top"))
        .select($"q_id", posexplode($"top").as(Seq("pos", "t")))
        .select($"q_id".as("vec_id"), ($"pos" + 1).cast("int").as("rk"),
          $"t.b_id".as("b_id"), $"t.cs".as("score"))
    }
  }

  /** The IVF-indexed admission policy as a continuous query — the
    * [[AnnIndex.annIntakeIndexed]] sibling for the inverted-list family.
    */
  def ivfIntakeIndexed(spark: SparkSession, srcDir: String,
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
