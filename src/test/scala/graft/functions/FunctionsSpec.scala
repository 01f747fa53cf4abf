package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

class FunctionsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cosRef(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.zip(b).foreach { case (x, y) =>
      dot += x.toDouble * y.toDouble; na += x.toDouble * x.toDouble; nb += y.toDouble * y.toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("cosine_similarity matches sequential double reference") {
    val a = Seq(0.1f, -0.2f, 0.3f, 0.05f)
    val b = Seq(0.2f, 0.1f, -0.4f, 0.9f)
    val got = Seq((a.toArray, b.toArray)).toDF("a", "b")
      .select(VectorFunctions.cosineSim($"a", $"b")).as[Double].head()
    assert(got == cosRef(a, b))
  }

  test("cosine_similarity of identical vectors is 1.0") {
    val a = Seq(0.5f, 0.25f, -1.0f)
    val got = Seq((a.toArray, a.toArray)).toDF("a", "b")
      .select(VectorFunctions.cosineSim($"a", $"b")).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-15)
  }

  test("cosine_similarity null-safe") {
    val got = Seq((Some(Array(1f, 2f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .select(VectorFunctions.cosineSim($"a", $"b")).collect()
    assert(got.head.isNullAt(0))
  }

  test("dot_product matches reference") {
    val got = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(VectorFunctions.dotProduct($"a", $"b")).as[Double].head()
    assert(got == (4.0 + 10.0 + 18.0))
  }

  test("int_sq_dist: equal lengths sum (x−y)²; unequal lengths are NULL on both eval paths") {
    // a checkpointed relation, not a local one: projections over a local
    // relation are folded at planning time by the interpreted path only
    val df = Seq((Array(1L, 2L, 3L), Array(4L, 6L, 3L)), (Array(1L, 2L, 3L), Array(1L, 2L)),
        (Array.empty[Long], Array(5L)))
      .toDF("a", "b").localCheckpoint()
    def run(): Seq[Option[Long]] = df.select(VectorFunctions.intSqDist($"a", $"b"))
      .as[Option[Long]].collect().toSeq
    assert(run() == Seq(Some(25L), None, None), "codegen path")
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(run() == Seq(Some(25L), None, None), "interpreted path")
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("SQL registration works") {
    VectorFunctions.register(spark)
    val got = spark.sql("SELECT cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) c")
      .as[Double].head()
    assert(got == 1.0)
  }

  test("intersect_count on sorted arrays") {
    val got = Seq((Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L))).toDF("a", "b")
      .select(SetFunctions.intersectCount($"a", $"b")).as[Long].head()
    assert(got == 2L)
    val none = Seq((Array(1L, 2L), Array(3L, 4L))).toDF("a", "b")
      .select(SetFunctions.intersectCount($"a", $"b")).as[Long].head()
    assert(none == 0L)
    val empty = Seq((Array.empty[Long], Array(3L, 4L))).toDF("a", "b")
      .select(SetFunctions.intersectCount($"a", $"b")).as[Long].head()
    assert(empty == 0L)
  }

  test("centroid aggregator") {
    import org.apache.spark.sql.functions.udaf
    val centroid = udaf(CentroidAggregator)
    val df = Seq((0, Array(1f, 2f)), (0, Array(3f, 4f)), (1, Array(10f, 20f)))
      .toDF("k", "v")
    val got = df.groupBy($"k").agg(centroid($"v").as("c"))
      .orderBy($"k").as[(Int, Array[Double])].collect()
    assert(got(0)._2.toSeq == Seq(2.0, 3.0))
    assert(got(1)._2.toSeq == Seq(10.0, 20.0))
  }

  test("TopKByScore is deterministic under NaN scores and any merge order") {
    // a NaN cosine (zero-norm embedding) is garbage similarity: it must
    // sort BELOW every real score (never evicting a genuine neighbor)
    // and land at a fixed buffer position regardless of arrival/merge
    // order — two NaNs tie-break by id
    val agg = new TopKByScore(3)
    val items = Seq(
      ScoredNeighbor(0.9, 1L), ScoredNeighbor(Double.NaN, 2L),
      ScoredNeighbor(0.7, 3L), ScoredNeighbor(Double.NaN, 4L),
      ScoredNeighbor(0.8, 5L))
    val results = items.permutations.take(24).map { perm =>
      val (l, r) = perm.splitAt(2)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      agg.finish(merged).map(s =>
        (java.lang.Double.doubleToLongBits(s.cs), s.b_id))
    }.toSet
    assert(results.size == 1, s"order-dependent top-k: $results")
    val ids = results.head.map(_._2)
    assert(ids == Seq(1L, 5L, 3L), s"reals must outrank NaN, best-first: $ids")
  }

  test("TopKByScore never fills real slots with NaN when reals exist") {
    // k=3 over 2 reals + 3 NaNs: both reals must survive; NaN only pads
    // the remainder (deterministically, lowest id first)
    val agg = new TopKByScore(3)
    val items = Seq(
      ScoredNeighbor(Double.NaN, 10L), ScoredNeighbor(0.2, 1L),
      ScoredNeighbor(Double.NaN, 11L), ScoredNeighbor(0.1, 2L),
      ScoredNeighbor(Double.NaN, 12L))
    val ids = agg.finish(items.foldLeft(agg.zero)(agg.reduce)).map(_.b_id)
    assert(ids == Seq(1L, 2L, 10L), s"NaN must pad only after all reals: $ids")
  }
}
