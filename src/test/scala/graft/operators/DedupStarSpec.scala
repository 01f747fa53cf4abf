package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** dedupClustersStar (large-star/small-star, O(log n) rounds) must be
  * output-identical to dedupClusters (min-label propagation) on any edge
  * list — and must handle the adversarial long-chain case propagation is
  * too slow for.
  */
class DedupStarSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def run(pairs: Seq[(Long, Long)], star: Boolean): Set[(Long, Long, Long)] = {
    val df = pairs.toDF("a_id", "b_id")
    val out = if (star) Dedup.dedupClustersStar(df) else Dedup.dedupClusters(df)
    out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("star components == propagation components on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 200 + trial * 50
      val pairs = Seq.fill(n) {
        (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong)
      }.filter { case (a, b) => a != b }
      assert(run(pairs, star = true) == run(pairs, star = false), s"trial $trial")
    }
  }

  test("star components collapse a 400-hop chain to one cluster") {
    // diameter 400: propagation would need ~400 rounds; star needs O(log n)
    val chain = (0L until 400L).map(i => (i, i + 1))
    val got = run(chain, star = true)
    assert(got.size == 401)
    assert(got.forall { case (_, rep, size) => rep == 0L && size == 401L })
    assert(got.map(_._1) == (0L to 400L).toSet)
  }

  test("star components emit self-pair-only vertices as singletons, like propagation") {
    // vertex 7 appears only as (7,7); vertex 1 has a real edge AND a
    // self-pair; both variants must agree on the full output
    val pairs = Seq((7L, 7L), (1L, 1L), (1L, 2L))
    val star = run(pairs, star = true)
    assert(star == run(pairs, star = false))
    assert(star == Set((7L, 7L, 1L), (1L, 1L, 2L), (2L, 1L, 2L)))
  }

  test("both component loops hold O(1) checkpoint generations whatever the chain length") {
    // each round frees round N-1's checkpoint blocks (CheckpointUtils.free)
    // once round N is materialized, so the RDDs a call leaves persisted
    // must not grow with the rounds a longer chain takes (propagation needs
    // one round per hop here)
    val sc = spark.sparkContext
    def retained(hops: Long, star: Boolean): Int = {
      val df = (0L until hops).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val before = sc.getPersistentRDDs.keySet
      val out = if (star) Dedup.dedupClustersStar(df) else Dedup.dedupClusters(df)
      val grown = (sc.getPersistentRDDs.keySet -- before).size
      assert(out.count() == hops + 1)
      grown
    }
    for (star <- Seq(false, true)) {
      val short = retained(4, star)
      val long = retained(32, star)
      assert(long == short, s"star=$star: a 4-hop chain left $short persisted RDDs, a 32-hop chain $long")
    }
  }

  test("star components match propagation on the q31 near-dup pairs") {
    val pairs = Dedup.q31MinhashLsh(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (pairs.nonEmpty) {
      assert(run(pairs, star = true) == run(pairs, star = false))
    }
  }
}
