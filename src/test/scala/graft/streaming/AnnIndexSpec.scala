package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental ANN index: per-batch candidates are bit-identical to the
  * batch-path recompute (data-independent hashing makes append-only
  * maintenance exact), admission rejects indexed near-duplicates, and
  * the per-batch probe never shuffles the corpus-sided stores.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_ann_idx")
    (base.resolve("corpus").toString, base.resolve("index").toString)
  }

  private def fixtureVecs = graft.sources.Tables.embeddings(spark, sfDir)

  test("incremental candidates == batch-path recompute (exact, both directions)") {
    val (corpus, index) = freshDirs()
    val batch1 = fixtureVecs.filter($"vec_id" % 2 === 0)
    val batch2 = fixtureVecs.filter($"vec_id" % 2 === 1)
    AnnIndex.admitBatch(batch1, corpus, index)
    // incremental probe: persisted store vs the new batch's buckets
    val bk2 = graft.operators.Similarity.multiBucketsOf(batch2)
    val incr = AnnIndex.candidatePairs(spark, index, bk2)
      .as[(Long, Long)].collect().toSet
    // batch path: hash BOTH sides fresh (what a per-session memo build
    // would do over the same corpus state) and join on (tbl, bucket)
    val bk1 = graft.operators.Similarity.multiBucketsOf(batch1)
    val batchPath = bk1.as("x").join(bk2.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(incr.nonEmpty, "fixture split should co-bucket at least one pair")
    assert(incr == batchPath,
      s"incremental probe diverged from batch path: only-incr=${(incr -- batchPath).take(5)}, " +
        s"only-batch=${(batchPath -- incr).take(5)}")
  }

  test("admission rejects an indexed near-identical vector; replay appends nothing") {
    val (corpus, index) = freshDirs()
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(d => math.sin(seed * 64 + d + 1).toFloat)
    val batch1 = Seq((1L, vec(1), 0), (2L, vec(2), 0))
      .toDF("vec_id", "embedding", "label")
    AnnIndex.admitBatch(batch1, corpus, index)
    // 101 is an exact copy of vector 1 (cosine 1.0, co-buckets in every
    // table); 3 is an unrelated vector
    val batch2 = Seq((101L, vec(1), 0), (3L, vec(3), 0))
      .toDF("vec_id", "embedding", "label")
    AnnIndex.admitBatch(batch2, corpus, index)
    val admitted = spark.read.schema(AnnIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L),
      s"the exact copy must be rejected, the new vector admitted: $admitted")
    // replay of batch2: ids already indexed -> exact id gate drops all
    AnnIndex.admitBatch(batch2, corpus, index)
    val n = spark.read.schema(AnnIndex.vecSchema).parquet(corpus).count()
    assert(n == 3L, s"replay must append nothing, corpus has $n rows")
    // index and corpus agree after the replay (no divergence rebuild ran)
    val idxN = spark.read.schema(AnnIndex.bkSchema).parquet(s"$index/bk")
      .select($"vec_id").distinct().count()
    assert(idxN == 3L)
  }

  test("per-batch probe plan: every join broadcasts — the stores are never shuffle-joined") {
    val (corpus, index) = freshDirs()
    AnnIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    val probe = AnnIndex.batchProbePlan(spark, index, corpus,
      fixtureVecs.filter($"vec_id" % 2 === 1), maxCosine = 0.92)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "corpus-sided store must only be scanned against broadcast batch keys:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("a batch vector with several indexed near-duplicates is rejected once; no id is duplicated") {
    val (corpus, index) = freshDirs()
    val rnd = new scala.util.Random(7)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = gauss()
    def nearCopy(): Array[Float] = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    // ids 1-3 are near-copies of `base`, all admitted in-batch
    val corpusRows = (1 to 3).map(i => (i.toLong, nearCopy(), 0)) ++
      (4 to 40).map(i => (i.toLong, gauss(), 0))
    AnnIndex.admitBatch(corpusRows.toDF("vec_id", "embedding", "label"), corpus, index)
    val batch = Seq((101L, base, 0), (102L, gauss(), 0))
      .toDF("vec_id", "embedding", "label").localCheckpoint()
    // the rejected relation is a multiset: 101 repeats once per
    // rejecting near-copy
    val rejected = AnnIndex.batchProbePlan(spark, index, corpus, batch, 0.92)
      .as[Long].collect().toSeq
    assert(rejected.count(_ == 101L) >= 2 && !rejected.contains(102L),
      s"101 should reject through several corpus rows: $rejected")
    AnnIndex.admitBatch(batch, corpus, index)
    val ids = spark.read.schema(AnnIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, s"duplicated corpus ids: ${ids.diff(ids.distinct)}")
    assert(ids.toSet == (1L to 40L).toSet + 102L, s"admitted ${ids.toSet.diff((1L to 40L).toSet)}")
  }

  test("version guard: an index persisted under different LSH parameters refuses probes") {
    val (corpus, index) = freshDirs()
    AnnIndex.admitBatch(fixtureVecs.limit(10), corpus, index)
    // tamper: rewrite meta with a foreign logic version
    Seq((10L, "b16xL8.md5seed.v9")).toDF("n_vecs", "logic_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$index/meta")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.admitBatch(fixtureVecs.limit(10), corpus, index)
    }
    assert(e.getMessage.contains("rebuild() required"))
  }

  test("divergence self-heal: a corpus vector landing without bucket rows triggers rebuild") {
    val (corpus, index) = freshDirs()
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(d => math.sin(seed * 64 + d + 1).toFloat)
    AnnIndex.admitBatch(Seq((1L, vec(1), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    // crash between the two appends: vector in corpus, no bucket rows
    Seq((50L, vec(50), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(corpus)
    // the STRICT form: the very next batch carries the orphan's exact
    // copy — the pre-probe divergence rebuild must heal the store before
    // this batch's probe, or the duplicate slips in forever
    AnnIndex.admitBatch(
      Seq((51L, vec(50), 0), (2L, vec(2), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val admitted = spark.read.schema(AnnIndex.vecSchema).parquet(corpus)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 50L),
      s"the healed index must reject the orphan's exact copy in the SAME batch: $admitted")
    val idxIds = spark.read.schema(AnnIndex.bkSchema).parquet(s"$index/bk")
      .select($"vec_id").distinct().as[Long].collect().toSet
    assert(idxIds == Set(1L, 2L, 50L), s"index and corpus agree after the heal: $idxIds")
  }

  test("a vec_id duplicated WITHIN one batch is admitted once (no perpetual heal wedge)") {
    val (corpus, index) = freshDirs()
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(d => math.sin(seed * 64 + d + 1).toFloat)
    // the duplicate passes the corpus anti-join whole; without in-batch
    // dedup it would land twice and diverge the row-vs-distinct heal
    // counts forever (a full rebuild per batch from then on)
    AnnIndex.admitBatch(
      Seq((1L, vec(1), 0), (1L, vec(1), 0), (2L, vec(2), 0))
        .toDF("vec_id", "embedding", "label"), corpus, index)
    assert(spark.read.schema(AnnIndex.vecSchema).parquet(corpus).count() == 2L,
      "the duplicated id must be admitted exactly once")
    AnnIndex.admitBatch(Seq((3L, vec(3), 0)).toDF("vec_id", "embedding", "label"),
      corpus, index)
    val idxN = spark.read.schema(AnnIndex.bkSchema).parquet(s"$index/bk")
      .select($"vec_id").distinct().count()
    val corpusN = spark.read.schema(AnnIndex.vecSchema).parquet(corpus).count()
    assert(corpusN == 3L && idxN == 3L,
      s"corpus ($corpusN) and index ($idxN) must agree — no heal wedge")
  }

  test("topK search: a planted twin ranks first; ranking == batch-path recompute") {
    val (corpus, index) = freshDirs()
    AnnIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    // exact copies under fresh ids: a copy hashes to its twin's buckets
    // in EVERY table (data-independent planes), so the candidate is
    // guaranteed and the exact cosine puts the twin at rank 1
    val twins = fixtureVecs.filter($"vec_id" % 2 === 0 && $"vec_id" % 20 === 0)
      .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding")
      .localCheckpoint()
    val k = 3
    val got = AnnIndex.topK(spark, index, corpus, twins, k)
      .select($"vec_id", $"rk", $"b_id", $"score")
      .as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    got.filter(_._2 == 1).foreach { case (q, _, b, s) =>
      assert(b == q - 5000000L, s"query $q's rank-1 must be its twin, got $b")
      assert(s > 0.9999, s"twin cosine must be ~1, got $s")
    }
    // full ranking == batch-path recompute: candidates from hashing
    // both sides fresh, exact cosine, per-query (cs DESC, id) window
    val admitted = spark.read.schema(AnnIndex.vecSchema).parquet(corpus)
      .select($"vec_id", $"embedding")
    val bkC = graft.operators.Similarity.multiBucketsOf(admitted)
    val bkQ = graft.operators.Similarity.multiBucketsOf(twins)
    val expect = bkC.as("x").join(bkQ.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
      .join(admitted.select($"vec_id".as("a_id"), $"embedding".as("ea")), Seq("a_id"))
      .join(twins.select($"vec_id".as("b_id"), $"embedding".as("eb")), Seq("b_id"))
      .withColumn("cs", graft.functions.VectorFunctions.cosineSim($"eb", $"ea"))
      .filter(!isnan($"cs"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"b_id")
          .orderBy($"cs".desc, $"a_id")))
      .filter($"rk" <= k)
      .select($"b_id", $"rk", $"a_id")
      .as[(Long, Int, Long)].collect().toSet
    val gotSet = got.map(t => (t._1, t._2, t._3)).toSet
    assert(gotSet == expect,
      s"topK diverged from the batch path: only-index=${(gotSet -- expect).take(5)}, " +
        s"only-batch=${(expect -- gotSet).take(5)}")
    // plan: the store and corpus are never shuffle-joined
    val plan = AnnIndex.topK(spark, index, corpus, twins, k)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("rebuild is pure compaction: candidates before == after") {
    val (corpus, index) = freshDirs()
    AnnIndex.admitBatch(fixtureVecs.filter($"vec_id" % 2 === 0), corpus, index)
    val bk2 = graft.operators.Similarity.multiBucketsOf(
      fixtureVecs.filter($"vec_id" % 2 === 1))
    val before = AnnIndex.candidatePairs(spark, index, bk2)
      .as[(Long, Long)].collect().toSet
    AnnIndex.rebuild(spark, corpus, index)
    val after = AnnIndex.candidatePairs(spark, index, bk2)
      .as[(Long, Long)].collect().toSet
    assert(before == after, "rebuild must not change candidates (data-independent hashes)")
  }

  private def bkFiles(index: String): Set[String] =
    new java.io.File(s"$index/bk").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSet

  test("per-call job budget: an incremental admitBatch and a topK stay within their Spark job counts") {
    val (corpus, index) = freshDirs()
    AnnIndex.admitBatch(fixtureVecs.filter($"vec_id" % 4 =!= 3), corpus, index)
    val batch = fixtureVecs.filter($"vec_id" % 4 === 3).localCheckpoint()
    val queries = fixtureVecs.filter($"vec_id" % 4 === 0).limit(16)
      .select($"vec_id", $"embedding").localCheckpoint()
    val before = bkFiles(index)
    val admitJobs = jobsOf(AnnIndex.admitBatch(batch, corpus, index))
    assert(before.subsetOf(bkFiles(index)),
      "the measured batch must be incremental (no heal rebuild)")
    val topkJobs = jobsOf(AnnIndex.topK(spark, index, corpus, queries, k = 5).collect())
    info(s"AnnIndex jobs: admit $admitJobs, topK $topkJobs")
    // upper bounds at this fixture's counts: a per-call action added
    // back fails here
    assert(admitJobs <= 25, s"incremental admitBatch ran $admitJobs jobs")
    assert(topkJobs <= 9, s"topK ran $topkJobs jobs")
  }

  test("a second topK on an unchanged index reads no meta/; a rewritten meta/ is read again") {
    val (corpus, index) = freshDirs()
    AnnIndex.admitBatch(fixtureVecs, corpus, index)
    val queries = fixtureVecs.filter($"vec_id" % 4 === 0).limit(16)
      .select($"vec_id", $"embedding").localCheckpoint()
    def search(): Unit = AnnIndex.topK(spark, index, corpus, queries, k = 5).collect()
    // the meta read (schema inference and head) is the only job topK
    // starts from the lifecycle code; the query's own jobs start from
    // this spec or Spark's broadcast threads
    def metaReads(sites: Seq[String]): Seq[String] =
      sites.filter(_.contains("IndexLifecycle.scala"))
    val first = jobSitesOf(search())
    val second = jobSitesOf(search())
    assert(second.size == first.size, s"first $first, second $second")
    assert(metaReads(second).isEmpty, s"the second topK read meta/: $second")
    // the same meta row re-written: new file identity, so the next call
    // reads meta/ again
    spark.read.parquet(s"$index/meta").localCheckpoint()
      .coalesce(1).write.mode("overwrite").parquet(s"$index/meta")
    val reloaded = jobSitesOf(search())
    assert(metaReads(reloaded).nonEmpty && reloaded.size > second.size,
      s"a changed listing must read meta/ again: $reloaded")
  }
}
