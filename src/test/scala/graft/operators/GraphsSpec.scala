package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.max
import graft.SparkSpec
import graft.sources.Tables

/** q125 semantics against a plain-Scala brute-force triangle enumeration
  * (adjacency sets, no orientation at all — a third independent
  * algorithm besides the operator's degree orientation and the oracle's
  * id orientation), plus the no-theta-join plan pin.
  */
class GraphsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("q125: per-part triangle counts match unoriented brute force") {
    val got = Graphs.q125TriangleCount(spark, sfDir).collect()
      .map(r => r.getAs[Long]("part") -> r.getAs[Long]("n_triangles")).toMap
    val po = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = po.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((u, v) <- edges; w <- adj(u).intersect(adj(v)); if u < w && v < w) {
      counts(u) += 1; counts(v) += 1; counts(w) += 1
    }
    assert(got == counts.toMap, s"got ${got.size} parts, expected ${counts.size}")
    assert(got.values.sum % 3 == 0, "each triangle must be attributed to exactly 3 vertices")
  }

  test("q202: clustering coefficients replay from brute-force adjacency") {
    val got = Graphs.q202ClusteringCoefficient(spark, sfDir).collect()
      .map(r => r.getAs[Long]("part") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          r.getAs[Long]("cc_bp")))).toMap
    val po = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = po.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = adj.collect { case (p, ns) if ns.size >= 2 =>
      val d = ns.size.toLong
      val tri = ns.toSeq.combinations(2)
        .count { case Seq(a, b) => edges(if (a < b) (a, b) else (b, a)) }
        .toLong
      p -> ((d, tri, tri * 20000L / (d * (d - 1))))
    }
    assert(got == expected)
    // cc is a proportion of realized wedges — can never exceed 10000 bp
    assert(got.values.forall(_._3 <= 10000L))
  }

  test("q215: edge-Jaccard histogram replays from brute-force neighbourhoods") {
    val got = Graphs.q215EdgeJaccard(spark, sfDir).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_edges"), r.getAs[Long]("common_sum"),
          r.getAs[Long]("u_checksum"), r.getAs[Long]("v_checksum")))).toMap
    val po = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = po.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = edges.toSeq.map { case (u, v) =>
      val inter = adj(u).intersect(adj(v)).size.toLong
      val union = adj(u).size.toLong + adj(v).size.toLong - inter
      (inter * 10000L / union / 500L, u, v, inter)
    }.groupBy(_._1).map { case (b, es) =>
      b -> ((es.size.toLong, es.map(_._4).sum, es.map(_._2).sum, es.map(_._3).sum))
    }
    assert(got == expected)
    // union = du + dv − inter is ≥ 2 for every edge (u ∈ N(v), v ∈ N(u)),
    // so jaccard < 10000 bp strictly: bucket 20 must never appear
    assert(got.keySet.forall(_ < 20L))
  }

  test("q215 plans with equi joins only and rides the edge-triangle memo") {
    val p = Graphs.q215EdgeJaccard(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "link-strength assembly must stay on equi hash keys:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q222: edge churn replays from driver-side per-period edge sets") {
    import org.apache.spark.sql.functions.col
    val od = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), (col("o_orderdate") < "1998-01-01").as("early"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val po = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def edgeSet(e: Boolean): Set[(Long, Long)] =
      po.filter(p => od(p._1) == e).groupBy(_._1).values.flatMap { items =>
        val ps = items.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }.toSet
    val (ea, eb) = (edgeSet(true), edgeSet(false))
    def agg(s: Set[(Long, Long)]) =
      (s.size.toLong, s.toSeq.map(_._1).sum, s.toSeq.map(_._2).sum)
    val expected = Map(
      "kept" -> agg(ea intersect eb),
      "removed" -> agg(ea diff eb),
      "added" -> agg(eb diff ea)).filter(_._2._1 > 0)
    val got = Graphs.q222GraphChurn(spark, sfDir).collect()
      .map(r => r.getAs[String]("status") ->
        ((r.getAs[Long]("n_edges"), r.getAs[Long]("u_checksum"),
          r.getAs[Long]("v_checksum")))).toMap
    assert(got == expected, s"got $got expected $expected")
    // conservation: removed + kept == |early edges|, added + kept == |late|
    assert(got.getOrElse("removed", (0L, 0L, 0L))._1 +
      got.getOrElse("kept", (0L, 0L, 0L))._1 == ea.size)
    assert(got.getOrElse("added", (0L, 0L, 0L))._1 +
      got.getOrElse("kept", (0L, 0L, 0L))._1 == eb.size)
  }

  test("degree orientation neutralizes a hub: star graph wedges collapse 10,000x") {
    // 2k-star + leaf ring. Under id orientation the hub (id 0) is the
    // SOURCE of every star edge: C(2000,2) ≈ 2.0e6 wedges land on one
    // key — the curse-of-the-last-reducer shape. Degree orientation
    // makes the hub the TARGET of every edge, so out-degrees are ≤ 2
    // and the wedge relation is linear in E.
    val n = 2000L
    val star = (1L to n).map(i => (0L, i))
    val ring = (1L until n).map(i => (i, i + 1))
    val edges = (star ++ ring).toDF("u", "v")
    val oriented = Graphs.orientByDegree(edges).cache()
    val outDeg = oriented.groupBy($"s").count().agg(max($"count")).collect()(0).getLong(0)
    assert(outDeg <= 2, s"hub must never be a wedge source, max out-degree $outDeg")
    val wedges = oriented.as("x").join(oriented.as("y"),
        $"x.s" === $"y.s" &&
          ($"x.dt" < $"y.dt" || ($"x.dt" === $"y.dt" && $"x.t" < $"y.t"))).count()
    assert(wedges <= 2 * n, s"wedge relation must stay linear in E, got $wedges")
    // and the per-edge counts are still exactly right: each ring edge
    // (i, i+1) has the hub as its one common neighbour; each star edge
    // (0, i) has i's ring neighbours, 2 of them, 1 at the ring's ends
    val got = Graphs.edgeTriangleCounts(edges).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) -> r.getAs[Long]("n_common")).toMap
    val want = ring.map(_ -> 1L).toMap ++
      star.map { case (h, i) => (h, i) -> (if (i == 1L || i == n) 1L else 2L) }
    assert(got == want, s"only-got ${(got.toSet -- want.toSet).take(5)}, " +
      s"only-want ${(want.toSet -- got.toSet).take(5)}")
    oriented.unpersist()
  }

  test("shuffle fallback (vertex dim past broadcast budget) counts identically") {
    // the enumeration itself, not a memo: the conf is read per call
    val key = "spark.graft.triangles.broadcastVertices"
    val edges = Graphs.coPurchaseEdges(spark, sfDir)
    def counts(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    /** Broadcast joins whose build side carries an adjacency array, in
      * the plan as executed.
      */
    def adjacencyBroadcasts(df: org.apache.spark.sql.DataFrame): Seq[String] =
      AdaptivePlans.collect(df.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if (j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
              case _ => j.right
            }).output.exists(a => a.name == "ns" || a.name == "nt") => j.simpleString(3)
      }
    val broadcastPath = Graphs.edgeTriangleCounts(edges)
    val broadcastCounts = counts(broadcastPath)
    assert(adjacencyBroadcasts(broadcastPath).size == 2)
    // past the budget the adjacency lists are far beyond Spark's own
    // size-based broadcast threshold too; at this fixture they are tiny,
    // so the threshold is switched off to reach the shuffle joins
    val auto = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = auto.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(key, "1")
    auto.foreach(spark.conf.set(_, "-1"))
    try {
      val shufflePath = Graphs.edgeTriangleCounts(edges)
      val shuffleCounts = counts(shufflePath)
      val plan = adjacencyBroadcasts(shufflePath)
      assert(plan.isEmpty, s"the adjacency side still broadcasts at $key=1: $plan")
      assert(broadcastCounts.nonEmpty && shuffleCounts == broadcastCounts,
        "the scale path (shuffle adjacency join) must agree with the broadcast path")
    } finally {
      spark.conf.unset(key)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("q125 plans with equi joins only — no theta/nested-loop wedge join") {
    val p = Graphs.q125TriangleCount(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedge join must ride the shared-vertex equi key:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  /** The ≥2-support undirected co-purchase graph q134/q138 run on,
    * rebuilt driver-side for replays.
    */
  private lazy val supportGraph: (Set[Long], Set[(Long, Long)]) = {
    val po = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairCounts = po.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val half = pairCounts.filter(_._2 >= 2).keys.toSet
    val edges = half ++ half.map { case (u, v) => (v, u) }
    (edges.map(_._1), edges)
  }

  test("q134: BFS levels match a driver-side frontier replay") {
    val (verts, edges) = supportGraph
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var visited = verts.filter(_ % 100 == 0)
    var frontier = visited
    val levels = scala.collection.mutable.Map(0 -> visited)
    for (hop <- 1 to 3) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- visited
      visited ++= frontier
      levels(hop) = frontier
    }
    levels(-1) = verts -- visited
    val expected = levels.toMap.filter(_._2.nonEmpty).map { case (d, s) =>
      d.toLong -> ((s.size.toLong, s.sum))
    }
    val got = Graphs.q134KhopReach(spark, sfDir).collect()
      .map(r => r.getAs[Long]("dist") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("key_sum")))).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("q138: integer PageRank matches an exact driver-side recurrence") {
    val (verts, edges) = supportGraph
    val scale = 1000000000000L
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = verts.map(_ -> scale).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, v) <- edges) contrib(v) += r(u) / deg(u)
      r = verts.map(p => p -> (15L * scale + 85L * contrib(p)) / 100L).toMap
    }
    val got = Graphs.q138Pagerank(spark, sfDir).collect()
      .map(row => row.getAs[Long]("p") -> row.getAs[Long]("r")).toMap
    assert(got == r, "fixed-point ranks must be bit-identical to the replay")
    // total mass: |V|*scale minus floor losses, never above
    assert(got.values.sum <= verts.size * scale)
    assert(got.values.sum > (verts.size * scale * 99L) / 100L)
  }

  test("q134/q138 plan with equi joins only — frontier/message passing never nested-loop") {
    for (df <- Seq(Graphs.q134KhopReach(spark, sfDir),
        Graphs.q138Pagerank(spark, sfDir))) {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    }
  }

  test("q156: rule metrics replay exactly in BigInt from the deduped baskets") {
    val ob = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = BigInt(ob.map(_._1).distinct.length)
    val marg = ob.groupBy(_._2).map { case (b, xs) => b -> BigInt(xs.length) }
    val pairCnt = ob.groupBy(_._1).toSeq
      .flatMap { case (_, xs) =>
        val bs = xs.map(_._2).sorted.toSeq
        for { a <- bs; b <- bs if a < b } yield (a, b)
      }
      .groupBy(identity).map { case (k, v) => k -> BigInt(v.length) }
    val got = Graphs.q156AssociationRules(spark, sfDir).collect()
    assert(got.length == pairCnt.size)
    got.foreach { r =>
      val k = (r.getAs[String]("brand_a"), r.getAs[String]("brand_b"))
      val (np, na, nb) = (pairCnt(k), marg(k._1), marg(k._2))
      assert(BigInt(r.getAs[Long]("n_pair")) == np)
      assert(BigInt(r.getAs[Long]("support_bp")) == np * 10000 / n)
      assert(BigInt(r.getAs[Long]("conf_ab_bp")) == np * 10000 / na)
      assert(BigInt(r.getAs[Long]("conf_ba_bp")) == np * 10000 / nb)
      assert(BigInt(r.getAs[Long]("lift_micro")) == np * n * 1000000 / (na * nb))
    }
    // the only nested-loop join allowed is the broadcast of the one-row
    // N aggregate (the repo-wide scalar-attach pattern); pair generation
    // itself must ride the order-key equi join
    val p = Graphs.q156AssociationRules(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"))
    // formatted explain lists each operator in the tree AND the detail
    // section, so one physical nested-loop join == 2 textual hits
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 2 &&
      "BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1,
      "pair generation must stay an equi join on the order key")
  }
}

/** Walks an adaptive plan's current physical plan and its query stages. */
private object AdaptivePlans
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
