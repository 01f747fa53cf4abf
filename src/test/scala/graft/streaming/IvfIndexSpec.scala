package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental IVF+PQ index: frozen-epoch incremental assignment AND
  * coding are bit-equal to the batch path, the doubling rebuild
  * re-policies (√n nlist, nprobe = ⌈nlist/8⌉), ADC-primary admission is
  * bit-equal to the exact-verify path, admission rejects indexed cosine
  * near-dups through the inverted lists, mixed-epoch crash states heal
  * pre-probe via the meta fingerprints, and the per-batch probe never
  * shuffles the corpus-sided stores.
  */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
    (base.resolve("corpus").toString, base.resolve("index").toString)
  }

  private def fixtureVecs = graft.sources.Tables.embeddings(spark, sfDir)

  private def vec(seed: Int): Array[Float] =
    Array.tabulate(64)(d => math.sin(seed * 64 + d + 1).toFloat)

  test("incremental intake == batch-path recompute across a re-policy rebuild boundary") {
    val (corpus, index) = freshDirs()
    // three waves: wave 2 crosses the doubling trigger (re-policy
    // rebuild with fresh pivots + codebook), wave 3 lands in the NEW
    // epoch and is appended incrementally under its frozen state
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 10 < 4), corpus, index)
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 10 >= 4 && $"vec_id" % 10 <= 7),
      corpus, index)
    val metaAfterRebuild = spark.read.parquet(s"$index/meta").head()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 10 === 8), corpus, index)
    val meta = spark.read.parquet(s"$index/meta").head()
    assert(meta.getLong(0) == metaAfterRebuild.getLong(0),
      "wave 3 must NOT have re-policied (no doubling): same snapshot count")
    // the epoch's params are the q236 policy of the snapshot size
    val lastN = meta.getLong(0)
    assert(meta.getInt(1) == graft.operators.Similarity.ivfPolicyNlist(lastN))
    assert(meta.getInt(2) == graft.operators.Similarity.ivfPolicyNprobe(meta.getInt(1)))
    // the epoch's recorded payload depth: the admitListRk default (4)
    // capped at nlist, and the stored slice covers max(nprobe, it)
    val payloadRk = meta.getAs[Int]("payload_rk")
    assert(payloadRk ==
      math.min(IvfIndex.admitListRk(spark), math.max(1, meta.getInt(1))))
    val storeRk = math.max(meta.getInt(2), payloadRk)
    // the store (rebuild-written epoch base + wave-3 incremental
    // append) is bit-equal to a from-scratch batch assignment of the
    // WHOLE admitted corpus under the SAME frozen pivots/params
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id", $"embedding")
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
    val batchPath = graft.operators.Similarity
      .ivfNearOf(admitted, piv, storeRk)
      .as[(Long, Long, Int)].collect().toSet
    val store = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .select($"vec_id", $"p_id", $"rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(store.nonEmpty && store == batchPath,
      s"incremental store diverged from batch path: only-store=${(store -- batchPath).take(5)}, " +
        s"only-batch=${(batchPath -- store).take(5)}")
    // the INLINED ADC payload is bit-equal to a batch recompute of the
    // q246 coding kernel against the stored epoch codebook — across the
    // rebuild boundary (epoch-base rows coded at rebuild, wave-3 rows
    // coded incrementally under the frozen codebook)
    val cb = spark.read.schema(IvfIndex.cbSchema).parquet(s"$index/cb")
    // EVERY rk ≤ payload_rk row self-carries the vector's ONE payload
    // (FAISS multi-assignment duplication): the distinct payload set
    // over the whole membership slice equals the kernel's, and no
    // membership row of a PQ-covered vector is payload-less (the r15
    // rk=1-only layout left rk>1-overlap candidates NULL, which the
    // ADC bands silently admitted)
    val storeCodes = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .filter($"rk" <= payloadRk && $"resid".isNotNull)
      .select($"vec_id", $"code", $"resid").distinct()
      .as[(Long, Seq[Int], Long)].collect().toSet
    val batchCodes = graft.operators.Similarity
      .trainedPqCodesWithResid(admitted, cb)
      .select($"vec_id", $"codes", $"resid")
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(storeCodes.nonEmpty && storeCodes == batchCodes,
      "inlined codes/residuals must equal the q246 batch coding kernel")
    val pqCovered = batchCodes.map(_._1)
    assert(spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .filter($"rk" <= payloadRk && $"resid".isNull)
      .select($"vec_id").as[Long].collect().toSet.intersect(pqCovered).isEmpty,
      "every membership row of a PQ-covered vector must carry its payload")
    // rows beyond the membership depth carry no payload (the
    // duplication is bounded by payload_rk, not ×nprobe)
    assert(spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .filter($"rk" > payloadRk && ($"code".isNotNull || $"resid".isNotNull))
      .count() == 0L)
    // candidate pin through the public probe: an unseen batch's
    // candidates from the incremental store == the batch path at the
    // SAME membership depth (rk ≤ payload_rk — the admitListRk=4
    // admission semantics, r15's final-commit change now pinned on
    // both sides)
    val probeBatch = fixtureVecs.filter($"vec_id" % 10 === 9)
      .select($"vec_id", $"embedding")
    val bn = graft.operators.Similarity.ivfNearOf(probeBatch, piv, meta.getInt(2))
    val incr = IvfIndex.candidatePairs(spark, index, bn)
      .as[(Long, Long)].collect().toSet
    val listsAll = graft.operators.Similarity.ivfNearOf(admitted, piv, storeRk)
      .select($"vec_id".as("a_id"), $"p_id", $"rk".as("a_rk"))
      .localCheckpoint()
    def candAt(depth: Int): Set[(Long, Long)] = listsAll
      .filter($"a_rk" <= depth)
      .join(bn.select($"vec_id".as("b_id"), $"p_id"), Seq("p_id"))
      .filter($"a_id" =!= $"b_id").select($"a_id", $"b_id")
      .distinct().as[(Long, Long)].collect().toSet
    val batchCand = candAt(payloadRk)
    assert(incr.nonEmpty && incr == batchCand)
    // and the widened membership is a strict superset of the r15
    // rk=1-only candidate set (the recall direction of the change)
    val rk1Cand = candAt(1)
    assert(rk1Cand.subsetOf(incr) && rk1Cand.size < incr.size)
  }

  test("ADC-primary admission == exact-verify admission (identical admitted sets)") {
    def run(exact: Boolean): Set[Long] = {
      val (corpus, index) = freshDirs()
      if (exact) spark.conf.set("spark.graft.ivfIndex.exactVerify", "true")
      try {
        IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 3 === 0), corpus, index)
        // wave 2 plants exact copies of indexed vectors under fresh ids
        // (certain-reject band) among genuinely new vectors — the mix
        // exercises certain-reject, certain-keep AND the gray band
        val dupes = fixtureVecs
          .filter($"vec_id" % 3 === 0 && $"vec_id" % 5 === 0)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label")
        IvfIndex.admitBatch(
          fixtureVecs.filter($"vec_id" % 3 === 1).unionByName(dupes),
          corpus, index)
        spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
          .select($"vec_id").as[Long].collect().toSet
      } finally spark.conf.unset("spark.graft.ivfIndex.exactVerify")
    }
    val adc = run(exact = false)
    val ex = run(exact = true)
    assert(adc == ex,
      s"ADC and exact admission diverged: only-adc=${(adc -- ex).take(5)}, " +
        s"only-exact=${(ex -- adc).take(5)}")
    assert(!adc.exists(_ >= 1000000L),
      "planted exact copies must be rejected by the ADC path")
  }

  test("ADC == exact admission for PERTURBED near-dups whose only list overlap is at rk > 1") {
    // Multiplicative-jitter clones: cosine to the source ≥ 0.958 by the
    // [0.7, 1.3] per-dim bound (typically ~0.985) — inside the 0.92
    // gate but NOT exact copies, so the nearest-list argmax flips
    // against the source's for some of them (the teeth assertion below
    // proves the flip case occurs). Flipped pairs overlap the corpus
    // side only at rk > 1 — exactly where the r15
    // rk=1-only payload layout served NULL (code, resid) and the ADC
    // bands silently admitted what exactVerify=true rejected (r16
    // advisor finding; the exact-copy test above can NOT reach this
    // path because a copy shares its twin's rk=1 list by construction).
    def clones = fixtureVecs.filter($"vec_id" % 3 === 0 && $"vec_id" % 4 === 0)
      .select(($"vec_id" + 2000000L).as("vec_id"),
        expr("""transform(embedding, (x, d) -> CAST(
               |  x * (1.0D + 0.3D * (pmod(xxhash64(vec_id, d), 2001) - 1000) / 1000.0D)
               |  AS FLOAT))""".stripMargin).as("embedding"),
        $"label")
    def run(exact: Boolean): (Set[Long], String, String) = {
      val (corpus, index) = freshDirs()
      if (exact) spark.conf.set("spark.graft.ivfIndex.exactVerify", "true")
      try {
        IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 3 === 0), corpus, index)
        // wave 2 is clones-only and far below the doubling trigger, so
        // the wave-1 epoch's pivots survive the run for the teeth check
        IvfIndex.admitBatch(clones, corpus, index)
        (spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
          .select($"vec_id").as[Long].collect().toSet, corpus, index)
      } finally spark.conf.unset("spark.graft.ivfIndex.exactVerify")
    }
    val (adc, _, index) = run(exact = false)
    val (ex, _, _) = run(exact = true)
    assert(adc == ex,
      s"ADC and exact admission diverged on perturbed near-dups: " +
        s"only-adc=${(adc -- ex).take(5)}, only-exact=${(ex -- adc).take(5)}")
    val caught = clones.select($"vec_id").as[Long].collect().toSet -- adc
    assert(caught.nonEmpty, "no perturbed clone was rejected — the ladder " +
      "geometry moved; re-tune the jitter so the test keeps its teeth")
    // teeth: among the caught clones, at least one's ONLY membership
    // overlap with its source sits at rk > 1 — the admission decision
    // for it was payload-backed by the duplicated (code, resid), not by
    // an rk=1 row
    val meta = spark.read.parquet(s"$index/meta").head()
    val payloadRk = meta.getAs[Int]("payload_rk")
    val storeRk = math.max(meta.getAs[Int]("nprobe"), payloadRk)
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
    val srcLists = graft.operators.Similarity
      .ivfNearOf(fixtureVecs.filter($"vec_id" % 3 === 0)
        .select($"vec_id", $"embedding"), piv, storeRk)
      .select(($"vec_id" + 2000000L).as("vec_id"), $"p_id", $"rk".as("src_rk"))
    val minOverlap = graft.operators.Similarity
      .ivfNearOf(clones.select($"vec_id", $"embedding"), piv, 1)
      .join(srcLists, Seq("vec_id", "p_id"))
      .groupBy($"vec_id").agg(min($"src_rk").as("mn"))
      .as[(Long, Int)].collect().toMap
    assert(caught.exists(id => minOverlap.get(id).exists(_ > 1)),
      s"every caught clone overlapped its source at rk=1 — the rk>1 " +
        s"payload path went unexercised: $minOverlap")
  }

  test("admission rejects an indexed near-identical vector; replay appends nothing") {
    val (corpus, index) = freshDirs()
    val batch1 = (1 to 8).map(i => (i.toLong, vec(i), 0))
      .toDF("vec_id", "embedding", "label")
    IvfIndex.admitBatch(batch1, corpus, index)
    // 101 is an exact copy of vector 1 (cosine 1.0 — same nearest
    // pivot, so the m=1 list join surfaces it); 9 is unrelated
    val batch2 = Seq((101L, vec(1), 0), (9L, vec(9), 0))
      .toDF("vec_id", "embedding", "label")
    IvfIndex.admitBatch(batch2, corpus, index)
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == (1L to 8L).toSet + 9L,
      s"the exact copy must be rejected, the new vector admitted: $admitted")
    IvfIndex.admitBatch(batch2, corpus, index)
    val n = spark.read.schema(IvfIndex.vecSchema).parquet(corpus).count()
    assert(n == 9L, s"replay must append nothing, corpus has $n rows")
    val idxN = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .select($"vec_id").distinct().count()
    assert(idxN == 9L)
  }

  test("divergence self-heal: an orphaned corpus vector's near-dup is rejected in the SAME batch") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch((1 to 6).map(i => (i.toLong, vec(i), 0))
      .toDF("vec_id", "embedding", "label"), corpus, index)
    // crash between the two appends: vector in corpus, no assignments
    Seq((50L, vec(50), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(corpus)
    // the companion must be genuinely unrelated: the sin-family has
    // accidental near-identities (64·43 ≈ 438·2π, so vec(7) ≈ vec(50)
    // at cosine 0.9995!) — seed 9 is safe against every corpus seed
    IvfIndex.admitBatch(
      Seq((51L, vec(50), 0), (9L, vec(9), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == (1L to 6L).toSet + 9L + 50L,
      s"the healed index must reject the orphan's exact copy in the SAME batch: $admitted")
  }

  test("epoch-consistency heal: mixed pivot/store state with MATCHING counts rebuilds pre-probe") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch((1 to 8).map(i => (i.toLong, vec(i), 0))
      .toDF("vec_id", "embedding", "label"), corpus, index)
    // simulate the r14 advisor crash window: the piv/ store is
    // overwritten with a DIFFERENT pivot set (a trainedPivots toggle +
    // crash between the piv and near writes of a pure-compaction
    // rebuild) while near/ and every row count stay consistent — the
    // count heal alone can NOT see this
    val corrupted = spark.read.schema(IvfIndex.pivSchema)
      .parquet(s"$index/piv")
      .select($"p_id", reverse($"pe").as("pe"))
      .localCheckpoint()
    corrupted.coalesce(1).write.mode("overwrite").parquet(s"$index/piv")
    // the next batch carries an exact copy of an indexed vector: the
    // fingerprint mismatch must rebuild BEFORE the probe, so the copy
    // is rejected in this same batch
    IvfIndex.admitBatch(Seq((101L, vec(1), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == (1L to 8L).toSet,
      s"the fingerprint heal must reject the copy in the SAME batch: $admitted")
    // and the invariant is restored: stored fingerprint matches meta
    val meta = spark.read.parquet(s"$index/meta").head()
    assert(meta.getAs[Boolean]("committed"))
  }

  test("a one-vector first batch rebuilds: the stream may end there without stranding the store") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(Seq((1L, vec(1), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    // r14 advisor: under the doubling rule alone (corpusTotal=1 < 2)
    // this batch appended assignments computed against an EMPTY pivot
    // store — near/ stayed empty while the corpus had one row
    val idxN = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .select($"vec_id").distinct().count()
    assert(idxN == 1L, s"first admission must rebuild, store has $idxN vecs")
    assert(spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv").count() >= 1L)
    // an exact copy arriving next is rejected through the store
    IvfIndex.admitBatch(Seq((2L, vec(1), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L))
  }

  test("a non-positive admitNprobe conf cannot disable admission dedup") {
    val (corpus, index) = freshDirs()
    spark.conf.set("spark.graft.ivfIndex.admitNprobe", "0")
    try {
      IvfIndex.admitBatch((1 to 8).map(i => (i.toLong, vec(i), 0))
        .toDF("vec_id", "embedding", "label"), corpus, index)
      // the knob floors at 1 (r15 review: min/max were composed the
      // wrong way round, so 0 emptied the probe slice and every copy
      // was silently admitted)
      IvfIndex.admitBatch(Seq((101L, vec(1), 0)).toDF("vec_id", "embedding", "label"),
        corpus, index)
      val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
        .select($"vec_id").as[Long].collect().toSet
      assert(admitted == (1L to 8L).toSet,
        s"the exact copy must be rejected under admitNprobe=0: $admitted")
    } finally spark.conf.unset("spark.graft.ivfIndex.admitNprobe")
  }

  test("a vec_id duplicated WITHIN one batch is admitted once (no perpetual heal wedge)") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(
      Seq((1L, vec(1), 0), (1L, vec(1), 0), (2L, vec(2), 0))
        .toDF("vec_id", "embedding", "label"), corpus, index)
    assert(spark.read.schema(IvfIndex.vecSchema).parquet(corpus).count() == 2L,
      "the duplicated id must be admitted exactly once")
    IvfIndex.admitBatch(Seq((3L, vec(3), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val idxN = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .select($"vec_id").distinct().count()
    val corpusN = spark.read.schema(IvfIndex.vecSchema).parquet(corpus).count()
    assert(corpusN == 3L && idxN == 3L,
      s"corpus ($corpusN) and index ($idxN) must agree — no heal wedge")
  }

  test("per-batch probe plan: every join broadcasts — the stores are never shuffle-joined") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // the candidate-generation plan (store scan ⋈ broadcast batch
    // probes, pre-checkpoint — since r16 the probe plan below executes
    // this eagerly into the bands checkpoint, so its join shape is
    // pinned here directly)
    val meta = spark.read.parquet(s"$index/meta").head()
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
    val bn = graft.operators.Similarity.ivfNearOf(
      fixtureVecs.filter($"vec_id" % 2 === 1).select($"vec_id", $"embedding"),
      piv, 1)
    val candPlan = planOf(IvfIndex.candidatePairsCoded(spark, index, bn))
    assert(!candPlan.contains("SortMergeJoin") &&
      !candPlan.contains("ShuffledHashJoin"),
      "corpus-sided store must only be scanned against broadcast batch keys:\n" + candPlan)
    assert(candPlan.contains("BroadcastHashJoin"))
    // the full probe plan (ADC bands → gray-band exact verify)
    val probe = IvfIndex.batchProbePlan(spark, index, corpus,
      fixtureVecs.filter($"vec_id" % 2 === 1), maxCosine = 0.92)
    val plan = planOf(probe)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "gray-band exact verify must fetch raw vectors via broadcast only:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("trained-pivot epochs: rebuild freezes k-means centroids, incremental stays exact") {
    val (corpus, index) = freshDirs()
    spark.conf.set("spark.graft.ivfIndex.trainedPivots", "true")
    try {
      IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 10 < 4), corpus, index)
      IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 10 >= 4 && $"vec_id" % 10 <= 7),
        corpus, index)
      // wave 3: incremental under the trained frozen pivots
      IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 10 === 8), corpus, index)
      val meta = spark.read.parquet(s"$index/meta").head()
      val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
      assert(piv.count() == meta.getInt(1).toLong,
        "the epoch freezes exactly nlist trained centroids")
      assert(meta.getAs[String]("pivot_src") == "trained")
      // trained pivots are MEANS, not corpus vectors: at least one
      // centroid must differ from every corpus embedding (the payload
      // proves training actually ran, vs the lowest-vec_id default)
      val corpusVecs = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
        .select($"embedding").as[Seq[Float]].collect().toSet
      val pivVecs = piv.select($"pe").as[Seq[Float]].collect()
      assert(pivVecs.exists(p => !corpusVecs.contains(p)),
        "trained pivots must not all be raw corpus vectors")
      // exactness pin unchanged: store == batch path under the SAME
      // frozen (trained) pivots and epoch params (slice depth =
      // max(nprobe, payload_rk), the r16 membership layout)
      val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
        .select($"vec_id", $"embedding")
      val batchPath = graft.operators.Similarity
        .ivfNearOf(admitted, piv,
          math.max(meta.getInt(2), meta.getAs[Int]("payload_rk")))
        .as[(Long, Long, Int)].collect().toSet
      val store = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
        .select($"vec_id", $"p_id", $"rk")
        .as[(Long, Long, Int)].collect().toSet
      assert(store.nonEmpty && store == batchPath,
        "trained-pivot incremental store must equal the batch path")
    } finally spark.conf.unset("spark.graft.ivfIndex.trainedPivots")
  }

  test("topK search: a planted twin ranks first; ADC shortlist == batch-kernel recompute") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    // queries = exact copies of five indexed vectors under fresh ids:
    // the exact re-rank must surface each twin at rank 1 with cosine ~1
    val twins = fixtureVecs.filter($"vec_id" % 2 === 0 && $"vec_id" % 20 === 0)
      .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding")
      .localCheckpoint()
    val got = IvfIndex.topK(spark, index, corpus, twins, k = 3)
      .filter($"rk" === 1)
      .select($"vec_id", $"b_id", $"score")
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, b, s) =>
      assert(b == q - 5000000L, s"query $q's rank-1 must be its twin, got $b")
      assert(s > 0.9999, s"twin cosine must be ~1, got $s")
    }
    // the ADC stage (exactRerank=false) is bit-equal to a recompute
    // from the batch kernels under the same frozen epoch state
    val meta = spark.read.parquet(s"$index/meta").head()
    val nprobe = meta.getAs[Int]("nprobe")
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
    val cb = spark.read.schema(IvfIndex.cbSchema).parquet(s"$index/cb")
    val sim = graft.operators.Similarity
    val k = 3
    val adc = IvfIndex.topK(spark, index, corpus, twins, k, exactRerank = false)
      .select($"vec_id", $"rk", $"b_id")
      .as[(Long, Int, Long)].collect().toSet
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id", $"embedding")
    val lists = sim.ivfNearOf(admitted, piv, nprobe).filter($"rk" === 1)
      .select($"vec_id".as("n_id"), $"p_id")
    val probes = sim.ivfNearOf(twins, piv, nprobe)
      .select($"vec_id".as("q_id"), $"p_id")
    val kEff = cb.agg(coalesce(max($"c_id"), lit(0))).head().getInt(0)
    val luts = sim.trainedPqLutsFor(twins, cb, kEff)
      .select($"a_id".as("q_id"), $"lut")
    val codes = sim.trainedPqCodesWithResid(admitted, cb)
      .select($"vec_id".as("n_id"), $"codes")
    val expect = lists.join(probes, Seq("p_id")).filter($"n_id" =!= $"q_id")
      .join(codes, Seq("n_id")).join(luts, Seq("q_id"))
      .withColumn("d", sim.adcDistOf($"codes", $"lut", kEff))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"d", $"n_id")))
      .filter($"rk" <= k)
      .select($"q_id", $"rk", $"n_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(adc.nonEmpty && adc == expect,
      s"ADC top-k diverged from the batch-kernel recompute: " +
        s"only-index=${(adc -- expect).take(5)}, only-batch=${(expect -- adc).take(5)}")
  }

  test("topK plan: candidate scan and re-rank join broadcast only") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    val q = fixtureVecs.filter($"vec_id" % 2 === 1).limit(8)
      .select($"vec_id", $"embedding").localCheckpoint()
    val plan = IvfIndex.topK(spark, index, corpus, q, k = 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "topK must never shuffle-join the corpus-sided stores:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("admitBandCounts: census totals the candidate set and bands agree with admission") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    // a batch of exact copies + genuinely novel vectors. An exact
    // copy's ADC distance to its twin IS the twin's quantization
    // residual (a = r), so |a − r| = 0 ≤ bound + eps: a copy can land
    // certain-dup (well-quantized twin, 2√resid under the bound) or
    // gray (coarse residual — the fixture's 16-centroid geometry), but
    // NEVER certain-clean
    val copies = fixtureVecs.filter($"vec_id" % 2 === 0 && $"vec_id" % 10 === 0)
      .select(($"vec_id" + 7000000L).as("vec_id"), $"embedding", $"label")
    val batch = fixtureVecs.filter($"vec_id" % 2 === 1).unionByName(copies)
      .localCheckpoint()
    val (cd, gy, cc) = IvfIndex.admitBandCounts(spark, index, batch)
    // the census is read-only over exactly the admission candidate set
    val meta = spark.read.parquet(s"$index/meta").head()
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
    val bn = graft.operators.Similarity.ivfNearOf(
      batch.select($"vec_id", $"embedding"), piv, 1)
    val nCand = IvfIndex.candidatePairs(spark, index, bn).count()
    assert(cd + gy + cc == nCand,
      s"band census ($cd+$gy+$cc) must total the candidate set ($nCand)")
    val nCopies = copies.count()
    assert(cd + gy >= nCopies,
      s"each planted copy pairs with its twin OUTSIDE certain-clean " +
        s"(|a−r| = 0), so decided-dup+gray ($cd+$gy) must cover $nCopies")
    // and the bands are consistent with what admitBatch then does: the
    // copies are rejected, the novel vectors admitted
    IvfIndex.admitBatch(batch, corpus, index)
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(!admitted.exists(_ >= 7000000L))
  }

  // ——— per-row epoch kernels vs their relational references ———————————

  private def kernelsOf(piv: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): IvfKernels =
    IvfKernels(piv.select($"p_id", $"pe").collect(),
      cb.select($"m", $"c_id", $"fc").collect())

  /** A relation's rows, rendered and sorted (multiplicity kept). */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Each per-row kernel against its `Similarity` reference on `emb`
    * under the epoch (piv, cb), at assignment depths `rs`.
    */
  private def assertKernelsMatch(emb: org.apache.spark.sql.DataFrame,
      piv: org.apache.spark.sql.DataFrame, cb: org.apache.spark.sql.DataFrame,
      rs: Seq[Int]): Unit = {
    val sim = graft.operators.Similarity
    val k = kernelsOf(piv, cb)
    rs.foreach { r =>
      val perRow = emb.select($"vec_id", explode(k.near($"embedding", r)).as("n"))
        .select($"vec_id", $"n.p_id", $"n.rk")
      assert(rowsOf(perRow) == rowsOf(sim.ivfNearOf(emb, piv, r)), s"assignment at r=$r")
    }
    val codes = emb.select($"vec_id", k.code($"embedding").as("pq"))
      .filter($"pq".isNotNull).select($"vec_id", $"pq.codes", $"pq.resid")
    assert(rowsOf(codes) == rowsOf(sim.trainedPqCodesWithResid(emb, cb)
      .select($"vec_id", $"codes", $"resid")), "PQ codes + residual")
    val kEff = cb.agg(coalesce(max($"c_id"), lit(0))).head().getInt(0)
    assert(k.kEff == kEff)
    val luts = emb.select($"vec_id", k.lut($"embedding").as("lut"))
      .filter($"lut".isNotNull)
    assert(rowsOf(luts) == rowsOf(sim.trainedPqLutsFor(emb, cb, kEff)
      .select($"a_id", $"lut")), "ADC LUTs")
  }

  test("per-row kernels == relational kernels: NaN cosines, exact ties, null and zero-norm vectors, kEff < 16") {
    val emb = ((1 to 12).map(i => (i.toLong, vec(i))) ++ Seq(
        (100L, Array.fill(64)(0f)), // zero norm: NaN against every pivot
        (101L, null.asInstanceOf[Array[Float]]), // null: NULL cosines
        (102L, vec(3))))
      .toDF("vec_id", "embedding").localCheckpoint()
    // p_id 3 is pivot 7 doubled (power-of-two scaling is exact, so the
    // two cosines tie bit-for-bit and p_id must break it); pivot 9 is
    // zero-norm, so its NaN cosine ranks FIRST under DESC for every
    // vector; listed out of p_id order on purpose
    val piv = Seq((7L, vec(1)), (5L, vec(2)), (3L, vec(1).map(_ * 2f)),
        (9L, Array.fill(64)(0f)), (1L, vec(4)))
      .toDF("p_id", "pe").localCheckpoint()
    // codebooks trained on 5 and on 12 vectors: kEff = 5 and 12
    val small = graft.operators.Similarity
      .trainedPqCodebookOf(emb.filter($"vec_id" <= 5L)).localCheckpoint()
    val mid = graft.operators.Similarity
      .trainedPqCodebookOf(emb.filter($"vec_id" <= 12L)).localCheckpoint()
    assert(small.agg(max($"c_id")).head().getInt(0) == 5)
    assert(mid.agg(max($"c_id")).head().getInt(0) == 12)
    assertKernelsMatch(emb, piv, small, Seq(0, 1, 3, 5, 9))
    assertKernelsMatch(emb, piv, mid, Seq(2))
    // the orderings are exercised: the NaN pivot 9 ranks first for
    // every vector, and pivot 3 precedes its exact-tie twin 7
    val k = kernelsOf(piv, small)
    val top = emb.select($"vec_id", k.near($"embedding", 3).as("n"))
      .filter($"vec_id" <= 12L).select($"n.p_id").as[Seq[Long]].collect()
    assert(top.nonEmpty && top.forall(_.take(1) == Seq(9L)))
    assert(top.exists(_ == Seq(9L, 3L, 7L)))
  }

  test("per-row kernels == relational kernels on an empty first-touch epoch") {
    val emb = fixtureVecs.filter($"vec_id" % 7 === 0).select($"vec_id", $"embedding")
    val piv = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      IvfIndex.pivSchema)
    val cb = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      IvfIndex.cbSchema)
    assertKernelsMatch(emb, piv, cb, Seq(1, 4))
    val k = kernelsOf(piv, cb)
    assert(k.kEff == 0)
    assert(emb.select(size(k.near($"embedding", 4))).as[Int].collect().forall(_ == 0))
  }

  test("per-row kernels == relational kernels on the fixture epoch (trained 16-centroid codebook)") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
    val cb = spark.read.schema(IvfIndex.cbSchema).parquet(s"$index/cb")
    assert(cb.agg(max($"c_id")).head().getInt(0) == 16)
    assertKernelsMatch(fixtureVecs.select($"vec_id", $"embedding"), piv, cb, Seq(1, 4))
  }

  test("meta fingerprints from the relational bit_xor fold verify without a rebuild; a tampered piv/ still heals") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch((1 to 40).map(i => (i.toLong, vec(i), 0))
      .toDF("vec_id", "embedding", "label"), corpus, index)
    // the fold earlier stores were stamped with: xxhash64 per row,
    // bit_xor aggregate, 0 when empty
    def relationalFp(store: String, schema: org.apache.spark.sql.types.StructType,
        cols: Seq[String]): Long =
      spark.read.schema(schema).parquet(s"$index/$store")
        .select(xxhash64(cols.map(col): _*).as("h"))
        .agg(expr("coalesce(bit_xor(h), CAST(0 AS BIGINT))"))
        .head().getLong(0)
    def pivFp = relationalFp("piv", IvfIndex.pivSchema, Seq("p_id", "pe"))
    def cbFp = relationalFp("cb", IvfIndex.cbSchema, Seq("m", "c_id", "fc"))
    val meta0 = spark.read.parquet(s"$index/meta").head()
    assert(meta0.getAs[Long]("pivot_fp") == pivFp && meta0.getAs[Long]("cb_fp") == cbFp,
      "the driver-folded fingerprints must equal the relational fold")
    // re-stamp meta with the relational values, as an older writer did
    spark.read.parquet(s"$index/meta")
      .withColumn("pivot_fp", lit(pivFp)).withColumn("cb_fp", lit(cbFp))
      .localCheckpoint().coalesce(1).write.mode("overwrite").parquet(s"$index/meta")
    def nearFiles: Set[String] =
      new java.io.File(s"$index/near").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    val before = nearFiles
    // far below the doubling trigger: only a heal could rebuild here
    IvfIndex.admitBatch(Seq((41L, vec(41), 0), (42L, vec(42), 0))
      .toDF("vec_id", "embedding", "label"), corpus, index)
    val after = nearFiles
    assert(before.subsetOf(after) && after.size > before.size,
      "a consistent older-stamped epoch must append, not rebuild")
    // a tampered piv/ with matching counts still triggers the heal
    spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
      .select($"p_id", reverse($"pe").as("pe")).localCheckpoint()
      .coalesce(1).write.mode("overwrite").parquet(s"$index/piv")
    IvfIndex.admitBatch(Seq((43L, vec(43), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    assert(nearFiles.intersect(after).isEmpty, "the fingerprint heal must rebuild near/")
    val meta = spark.read.parquet(s"$index/meta").head()
    assert(meta.getAs[Boolean]("committed") && meta.getAs[Long]("pivot_fp") == pivFp)
  }

  /** The call site of every Spark job started while `body` runs
    * (listener bus drained on both sides, so no job is missed or
    * borrowed from a neighbour).
    */
  private def jobSitesOf(body: => Unit): Seq[String] = {
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse(""))
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try { body; drain() } finally spark.sparkContext.removeSparkListener(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(sites).asScala.toSeq
  }

  private def jobsOf(body: => Unit): Int = jobSitesOf(body).size

  test("per-call job budget: an incremental admitBatch and a topK stay within their Spark job counts") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.filter($"vec_id" % 4 =!= 3), corpus, index)
    val n0 = spark.read.parquet(s"$index/meta").head().getLong(0)
    val batch = fixtureVecs.filter($"vec_id" % 4 === 3).localCheckpoint()
    val queries = fixtureVecs.filter($"vec_id" % 4 === 0).limit(16)
      .select($"vec_id", $"embedding").localCheckpoint()
    val admitJobs = jobsOf(IvfIndex.admitBatch(batch, corpus, index))
    assert(spark.read.parquet(s"$index/meta").head().getLong(0) == n0,
      "the measured batch must be incremental (no re-policy rebuild)")
    val topkJobs = jobsOf(IvfIndex.topK(spark, index, corpus, queries, k = 5).collect())
    // upper bounds at this fixture's counts: a per-call action added
    // back fails here
    assert(admitJobs <= 20, s"incremental admitBatch ran $admitJobs jobs")
    assert(topkJobs <= 7, s"topK ran $topkJobs jobs")
  }

  test("a second topK on an unchanged index reads no store: same jobs, no meta or collect job") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs, corpus, index)
    val queries = fixtureVecs.filter($"vec_id" % 4 === 0).limit(16)
      .select($"vec_id", $"embedding").localCheckpoint()
    def search(): Unit = IvfIndex.topK(spark, index, corpus, queries, k = 5).collect()
    // a store read is a job started from the index code itself (meta
    // schema inference and head, the piv/ and cb/ collects); the
    // query's own jobs start from this spec or Spark's broadcast threads
    def storeReads(sites: Seq[String]): Seq[String] =
      sites.filter(s => s.contains("IvfIndex.scala") || s.contains("IndexLifecycle.scala"))
    val first = jobSitesOf(search())
    val second = jobSitesOf(search())
    assert(second.size == first.size, s"first $first, second $second")
    assert(storeReads(second).isEmpty, s"the second topK read the stores: $second")
    // the same meta rows re-written: new file identity, so the next call
    // loads the epoch again — which this detector sees
    spark.read.parquet(s"$index/meta").localCheckpoint()
      .coalesce(1).write.mode("overwrite").parquet(s"$index/meta")
    val reloaded = jobSitesOf(search())
    assert(storeReads(reloaded).nonEmpty && reloaded.size > second.size,
      s"a changed listing must reload the epoch: $reloaded")
  }

  test("snapshot invalidation: meta/ rewritten uncommitted between calls forces a rebuild") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch((1 to 40).map(i => (i.toLong, vec(i), 0))
      .toDF("vec_id", "embedding", "label"), corpus, index)
    // a second call in this JVM, served from the snapshot
    IvfIndex.admitBatch(Seq((41L, vec(41), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    def nearFiles: Set[String] =
      new java.io.File(s"$index/near").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    val before = nearFiles
    // the state a crash between the two meta writes of a rebuild leaves
    spark.read.parquet(s"$index/meta").withColumn("committed", lit(false))
      .localCheckpoint().coalesce(1).write.mode("overwrite").parquet(s"$index/meta")
    // far below the doubling trigger: only the committed check rebuilds
    IvfIndex.admitBatch(Seq((42L, vec(42), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    assert(nearFiles.intersect(before).isEmpty,
      "an uncommitted meta must rebuild near/, not append to it")
    assert(spark.read.parquet(s"$index/meta").head().getAs[Boolean]("committed"))
    val n = spark.read.schema(IvfIndex.vecSchema).parquet(corpus).count()
    val idxN = spark.read.schema(IvfIndex.nearSchema).parquet(s"$index/near")
      .select($"vec_id").distinct().count()
    assert(n == idxN, s"corpus $n and index $idxN must agree")
  }

  test("snapshot invalidation: piv/ rewritten with other content between calls heals pre-probe") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch((1 to 8).map(i => (i.toLong, vec(i), 0))
      .toDF("vec_id", "embedding", "label"), corpus, index)
    val queries = Seq((200L, vec(3))).toDF("vec_id", "embedding")
    // the snapshot is warm: this search reads no store
    IvfIndex.topK(spark, index, corpus, queries, k = 3).collect()
    val piv = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
      .as[(Long, Array[Float])].collect()
    // other content, same row count: every pivot vector rotated by one
    piv.map { case (p, pe) => (p, pe.tail :+ pe.head) }.toSeq
      .toDF("p_id", "pe").coalesce(1).write.mode("overwrite").parquet(s"$index/piv")
    // an exact copy of an indexed vector: the fingerprint heal must
    // rebuild before the probe, so the copy is rejected in this batch
    IvfIndex.admitBatch(Seq((101L, vec(1), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val admitted = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == (1L to 8L).toSet, s"the copy must be rejected: $admitted")
    val meta = spark.read.parquet(s"$index/meta").head()
    val restored = spark.read.schema(IvfIndex.pivSchema).parquet(s"$index/piv")
      .select(xxhash64($"p_id", $"pe").as("h")).as[Long].collect()
      .foldLeft(0L)(_ ^ _)
    assert(meta.getAs[Boolean]("committed") && meta.getAs[Long]("pivot_fp") == restored,
      "the heal must leave piv/ and its meta fingerprint agreeing")
  }

  test("a batch vector with several indexed near-duplicates is rejected once; no id is duplicated") {
    val (corpus, index) = freshDirs()
    val rnd = new scala.util.Random(7)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = gauss()
    def nearCopy(): Array[Float] = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    // 100 vectors: nlist 10, nprobe 2, so admitNprobe = 2 takes effect;
    // ids 1-3 are near-copies of `base`, all admitted in-batch
    val corpusRows = (1 to 3).map(i => (i.toLong, nearCopy(), 0)) ++
      (4 to 100).map(i => (i.toLong, gauss(), 0))
    spark.conf.set("spark.graft.ivfIndex.admitNprobe", "2")
    try {
      IvfIndex.admitBatch(corpusRows.toDF("vec_id", "embedding", "label"), corpus, index)
      assert(spark.read.parquet(s"$index/meta").head().getAs[Int]("nprobe") == 2)
      val batch = Seq((101L, base, 0), (102L, gauss(), 0))
        .toDF("vec_id", "embedding", "label").localCheckpoint()
      // the rejected relation is a multiset: 101 sits on one decided
      // row per near-copy
      val rejected = IvfIndex.batchProbePlan(spark, index, corpus, batch, 0.92)
        .as[Long].collect().toSeq
      assert(rejected.count(_ == 101L) >= 2 && !rejected.contains(102L),
        s"101 should reject through several corpus rows: $rejected")
      IvfIndex.admitBatch(batch, corpus, index)
    } finally spark.conf.unset("spark.graft.ivfIndex.admitNprobe")
    val ids = spark.read.schema(IvfIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, s"duplicated corpus ids: ${ids.diff(ids.distinct)}")
    assert(ids.toSet == (1L to 100L).toSet + 102L, s"admitted ${ids.toSet.diff((1L to 100L).toSet)}")
  }

  test("version guard: an index persisted under different assignment arithmetic refuses probes") {
    val (corpus, index) = freshDirs()
    IvfIndex.admitBatch(fixtureVecs.limit(10), corpus, index)
    Seq((10L, 4, 1, "euclid.rowk.v9"))
      .toDF("n_vecs", "nlist", "nprobe", "logic_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$index/meta")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.admitBatch(fixtureVecs.limit(10), corpus, index)
    }
    assert(e.getMessage.contains("rebuild() required"))
  }
}
