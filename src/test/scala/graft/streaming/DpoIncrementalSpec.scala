package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental DPO manifest: feeding the fixture in out-of-order batches
  * and reading [[DpoIncremental.manifest]] must reproduce the full q237
  * recompute row for row — including old docs whose survivor status is
  * flipped by a later batch.
  */
class DpoIncrementalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("two out-of-order batches == full q237 recompute") {
    val state = java.nio.file.Files.createTempDirectory("graft_dpo_ivm").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    // out-of-order: the SECOND batch carries the even (often smaller)
    // ids, so exact-keep winners and cluster reps flip retroactively
    DpoIncremental.update(docs.filter($"doc_id" % 2 === 1), state)
    val afterB1 = rows(DpoIncremental.manifest(spark, state))
    DpoIncremental.update(docs.filter($"doc_id" % 2 === 0), state)
    val got = rows(DpoIncremental.manifest(spark, state))
    val want = rows(graft.operators.Dedup.q237DpoManifest(spark, sfDir))
    assert(want.nonEmpty)
    assert(got == want,
      s"incremental manifest diverged from full recompute:\n" +
        s"only-incr=${(got.toSet -- want.toSet).take(3)}\n" +
        s"only-full=${(want.toSet -- got.toSet).take(3)}")
    // and the first batch genuinely produced a different (partial) state
    assert(afterB1 != got, "batch 2 must change the manifest")
  }

  test("replayed batch is a no-op; untouched strata keep their rows verbatim") {
    val state = java.nio.file.Files.createTempDirectory("graft_dpo_ivm2").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    DpoIncremental.update(docs.filter($"doc_id" < 250), state)
    val before = rows(DpoIncremental.manifest(spark, state))
    DpoIncremental.update(docs.filter($"doc_id" < 250), state) // replay
    assert(rows(DpoIncremental.manifest(spark, state)) == before)
  }

  test("a later batch retroactively drops an old doc in every funnel stage") {
    val state = java.nio.file.Files.createTempDirectory("graft_dpo_ivm3").toString
    def doc(id: Long, src: String, text: String) = (id, src, text)
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val tA = toks("a", 40)
    // batch 1: three clean docs in one stratum (len_bucket 40/16 = 2)
    val b1 = Seq(
      doc(100L, "s", tA),
      doc(101L, "s", toks("b", 40)),
      doc(102L, "s", toks("c", 40))).toDF("doc_id", "source", "text")
    DpoIncremental.update(b1, state)
    // batch 2, all with SMALLER ids — each retroactively drops an old doc:
    //  - 10: exact duplicate of 100 -> wins exact-keep (100 drops there);
    //        the two are also MUTUALLY contained (containment 1.0 both
    //        ways), so both land in the subsumed set — q237's funnel
    //        semantics, which the full-recompute arm mirrors
    //  - 11: near-dup of 101 (one-token edit, J = 0.95) -> new cluster
    //        rep min(11, 101) = 11 drops 101; the 38/39-bigram overlap
    //        also mutually subsumes both (0.97 >= 0.8)
    //  - 12: strict superset of 102 (39/39 of 102's bigrams, reverse
    //        containment 39/50 = 0.78 < 0.8) -> 102 subsumed, 12 the
    //        surviving cluster rep
    val b2 = Seq(
      doc(10L, "s", tA),
      doc(11L, "s", toks("b", 39) + " zz"),
      doc(12L, "s", toks("c", 40) + " " + toks("d", 10))).toDF("doc_id", "source", "text")
    DpoIncremental.update(b2, state)
    val got = rows(DpoIncremental.manifest(spark, state))
    // ground truth: full q237 recompute over the union, via the same
    // pipeline on a scratch corpus dir
    val union = b1.unionByName(b2)
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text").cast("long"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_dpo_ivm3_corpus").toString
    union.coalesce(1).write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val want = rows(graft.operators.Dedup.q237DpoManifest(spark, corpusDir))
    assert(got == want,
      s"retroactive drops diverged:\nincr=$got\nfull=$want")
    // sanity on the scenario itself: every batch-1 doc was retroactively
    // dropped (100/101 die with their batch-2 twins at the containment
    // stage; 102 is subsumed by 12, which alone survives)
    val surv = spark.read.parquet(s"$state/surv").select($"doc_id")
      .as[Long].collect().toSet
    assert(surv == Set(12L),
      s"old docs must drop retroactively, 12 must survive: $surv")
  }

  test("update frees only its own checkpoints: a caller-held checkpoint survives and still counts") {
    val state = java.nio.file.Files.createTempDirectory("graft_dpo_ivm4").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    val held = docs.filter($"doc_id" % 3 === 0).localCheckpoint()
    val n = held.count()
    val heldIds = held.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(heldIds.nonEmpty)
    DpoIncremental.update(held, state)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(heldIds.forall(persisted.contains),
      s"update unpersisted the caller's checkpoint $heldIds")
    assert(held.count() == n)
    org.apache.spark.sql.graft.CheckpointUtils.free(held)
  }
}
