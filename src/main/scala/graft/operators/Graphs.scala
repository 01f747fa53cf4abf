package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Graph analytics over relational co-occurrence — the family the
  * connected-components dedup clustering (q51/q83, large-star/small-star)
  * opened, extended to local structure: triangle counting with
  * degree-ordered orientation, the classic MapReduce-era technique
  * (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11) that keeps the wedge join bounded on skewed degree
  * distributions. The reference has no graph layer at all; co-purchase
  * structure is the kind of signal its declared-but-empty ML service
  * (`citibike_project/api/app.py`, 0 bytes) would consume.
  */
object Graphs {

  /** q125 — per-part triangle counts in the co-purchase graph: parts are
    * vertices, an edge connects two parts that appear in the same order,
    * and a triangle is three mutually co-purchased parts (the density
    * signal behind bundle detection / item-item communities).
    *
    * Scale shape: the naive wedge join explodes on hubs — a vertex of
    * degree d contributes C(d,2) wedges, and real co-purchase graphs are
    * heavy-tailed. Orienting every edge from its lower-(degree, id)
    * endpoint to its higher one makes out-degree O(√E) for ANY degree
    * distribution, so wedge count drops from Σ C(deg,2) (quadratic in
    * the hub degree) to Σ C(outdeg,2) ≤ O(E^1.5) worst-case — each
    * triangle found exactly once at its lowest-ranked vertex. Three
    * equi-joins total (degree attach ×2, wedge close ×1), all
    * hash-shuffleable; no theta join anywhere. The DuckDB oracle orients
    * by raw part id instead — an independent orientation finding the
    * same (orientation-invariant) triangle set, so a double-count or
    * drop in either orientation flips the driver hash.
    */
  /** Orient an undirected edge list (columns `u`, `v`) from each edge's
    * lower-(degree, id) endpoint to its higher one. Returns (s, t, dt)
    * with `dt` = degree of the target, the rank key later wedge
    * ordering needs. This is the whole skew defence: the measured hub
    * demonstration (GraphsSpec) shows a 20k-star graph forming 2×10⁸
    * wedges under id orientation and 2×10⁴ under this one — the hub is
    * always the TARGET, so it contributes no wedges at all.
    */
  def orientByDegree(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    // deg is |V|-sized (the vertex dimension, not the edge fact) —
    // broadcast it so the edge list is never sorted/shuffled just to
    // pick up two integers; at a vertex count past broadcast reach,
    // drop the hints and the same joins shuffle.
    val deg = edges.select(explode(array($"u", $"v")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("d"))
    edges
      .join(broadcast(deg.select($"p".as("u"), $"d".as("du"))), Seq("u"))
      .join(broadcast(deg.select($"p".as("v"), $"d".as("dv"))), Seq("v"))
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
          struct($"u".as("s"), $"v".as("t"), $"dv".as("dt")))
          .otherwise(struct($"v".as("s"), $"u".as("t"), $"du".as("dt"))).as("e"))
      .select($"e.s".as("s"), $"e.t".as("t"), $"e.dt".as("dt"))
  }

  def q125TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    triangleCountsMemo(spark, dir).orderBy($"part")
  }

  /** Per-part triangle counts over the co-purchase graph, shared by
    * q125 and q202 — the second derived graph relation worth paying for
    * once per (session, dir): the adjacency build + intersection scan
    * is the expensive half of both queries, and as a memo table its
    * first-touch cost is an adjudicated `memo_build` line item instead
    * of being re-paid per query.
    */
  private[graft] def triangleCountsMemo(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "triangle_counts") {
      // derived from the per-EDGE memo instead of a second adjacency
      // intersection scan: every triangle {a,b,c} contributes to exactly
      // two of a vertex's incident edges ((a,b) and (a,c) for a), so
      // tri(v) = Σ_{edges at v} common(e) / 2 — one explode + hash agg
      // over the |E|-sized edge-triangle relation, and the expensive
      // enumeration is paid ONCE for both q125/q202 and q215
      // (bench memo time: 7.1 s standalone build → ~0.3 s rollup).
      import spark.implicits._
      edgeTriangleCountsMemo(spark, dir)
        .select(explode(array($"u", $"v")).as("part"), $"n_common")
        .groupBy($"part")
        .agg(expr("sum(n_common) div 2").as("n_triangles"))
        .localCheckpoint()
    }

  /** Per-undirected-edge triangle counts for an edge list (`u`, `v`):
    * (u, v, n_common) with u < v and n_common = |N(u) ∩ N(v)| > 0, the
    * common-neighbour statistic link prediction scores are built from.
    * Edge-iterator form over the degree orientation: a triangle with
    * rank-ordered corners a<b<c carries oriented edges a→b, a→c, b→c,
    * so it is discovered EXACTLY once — at edge (a,b), as
    * c ∈ N⁺(a) ∩ N⁺(b) — and exploded into its three undirected edges
    * before the count. This never materializes the O(E^1.5) wedge
    * relation the join formulation builds (41M rows at sf0.1 for 1.9M
    * triangles): total intersection work is Σ(|N⁺(s)|+|N⁺(t)|) per edge
    * ≤ E·O(√E) — the same asymptotic bound, but streamed through
    * `array_intersect` inside one map stage instead of generated,
    * shuffled, and probed as rows.
    *
    * Physical shape: the oriented edge list is materialized once
    * (localCheckpoint — it feeds the adjacency build and the edge scan,
    * and recomputing the distinct+degree lineage per branch tripled the
    * query's cost). The adjacency-list relation is |V| rows of
    * O(√E)-bounded arrays — broadcast while the vertex dimension fits
    * (`spark.graft.triangles.broadcastVertices` rows, default 1M), a
    * plain shuffle join on the vertex key past it. Measured at sf0.1
    * (1.2M edges, 1.9M triangles): 7.3 s as a wedge join → 2.9 s this
    * form, vs 2.4 s for single-node DuckDB on the same graph.
    */
  private[graft] def edgeTriangleCounts(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val oriented = orientByDegree(edges).localCheckpoint()
    val adj = oriented.groupBy($"s").agg(collect_list($"t").as("nbrs"))
    val nV = adj.count()
    val broadcastMax =
      edges.sparkSession.conf.getOption("spark.graft.triangles.broadcastVertices")
        .map(_.toLong).getOrElse(1000000L)
    def side(keyed: DataFrame) = if (nV <= broadcastMax) broadcast(keyed) else keyed
    val tri = oriented.select($"s", $"t")
      .join(side(adj.select($"s", $"nbrs".as("ns"))), Seq("s"))
      .join(side(adj.select($"s".as("t"), $"nbrs".as("nt"))), Seq("t"))
      .select($"s", $"t", explode(array_intersect($"ns", $"nt")).as("w"))
    tri.select(explode(array(
        struct(least($"s", $"t").as("u"), greatest($"s", $"t").as("v")),
        struct(least($"s", $"w").as("u"), greatest($"s", $"w").as("v")),
        struct(least($"t", $"w").as("u"), greatest($"t", $"w").as("v")))).as("e"))
      .groupBy($"e.u".as("u"), $"e.v".as("v"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** [[edgeTriangleCounts]] of the co-purchase graph, memoized: q215
    * pays the adjacency build once per (session, dir) as an adjudicated
    * `memo_build` line item, and q125/q202 roll it up per vertex.
    */
  private[graft] def edgeTriangleCountsMemo(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "edge_triangles") {
      edgeTriangleCounts(coPurchaseEdges(spark, dir)).localCheckpoint()
    }

  /** q215 — edge Jaccard link strength over the co-purchase graph: for
    * every edge (u, v), jaccard = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| with
    * |N(u) ∪ N(v)| = d(u) + d(v) − common (v ∈ N(u) and u ∈ N(v) sit in
    * the union but never the intersection, so the denominator is ≥ 2 by
    * construction). This is the neighbourhood-overlap score of classic
    * link prediction (Liben-Nowell & Kleinberg, CIKM'03) — "how much of
    * these two parts' co-purchase context is shared" — and the natural
    * edge-weight for community detection over the same graph. Exact
    * integer basis points (`common·10⁴ div union`, both operands
    * non-negative so Spark `div` and DuckDB `//` agree), published as
    * the 500 bp-bucket histogram with edge-endpoint checksums so the
    * hash gate pins every edge's bucket without emitting the |E|-sized
    * relation.
    *
    * Scale shape: common-neighbour counts ride the memoized
    * edge-iterator enumeration (never the wedge join — the same
    * skew-proofing as q125/q202); degrees are one map-side-combinable
    * aggregate over the half-edge list; the assembly is three equi hash
    * joins on vertex/edge keys over |E|-sized relations; the histogram
    * is a map-side-combinable aggregate to ≤ 21 rows. The oracle
    * recomputes common neighbours via the independent two-wedge join —
    * the q117 two-algorithms discipline applied to link strength.
    */
  def q215EdgeJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdges(spark, dir)
    val deg = edges.select(explode(array($"u", $"v")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("d"))
    val j = edges
      .join(deg.select($"p".as("u"), $"d".as("du")), Seq("u"))
      .join(deg.select($"p".as("v"), $"d".as("dv")), Seq("v"))
      .join(edgeTriangleCountsMemo(spark, dir), Seq("u", "v"), "left")
      .withColumn("n_common", coalesce($"n_common", lit(0L)))
      .withColumn("jaccard_bp",
        expr("(n_common * 10000) div (du + dv - n_common)"))
    j.groupBy(expr("jaccard_bp div 500").as("bucket"))
      .agg(count(lit(1)).as("n_edges"),
        sum($"n_common").as("common_sum"),
        sum($"u").as("u_checksum"),
        sum($"v").as("v_checksum"))
      .orderBy($"bucket")
  }

  val q215Sql: String =
    """WITH po AS (
      |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.part AS u, b.part AS v
      |  FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part),
      |h AS (SELECT u AS p, v AS w FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM h GROUP BY p),
      |cn AS (
      |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS n_common
      |  FROM e
      |  JOIN h h1 ON h1.p = e.u
      |  JOIN h h2 ON h2.p = e.v AND h2.w = h1.w
      |  GROUP BY e.u, e.v),
      |j AS (
      |  SELECT e.u, e.v, coalesce(cn.n_common, 0) AS n_common,
      |         (coalesce(cn.n_common, 0) * 10000)
      |           // (du.d + dv.d - coalesce(cn.n_common, 0)) AS jaccard_bp
      |  FROM e
      |  JOIN deg du ON du.p = e.u
      |  JOIN deg dv ON dv.p = e.v
      |  LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v)
      |SELECT jaccard_bp // 500 AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_edges,
      |       CAST(sum(n_common) AS BIGINT) AS common_sum,
      |       CAST(sum(u) AS BIGINT) AS u_checksum,
      |       CAST(sum(v) AS BIGINT) AS v_checksum
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** q202 — local clustering coefficient per part (exact basis points):
    * cc(v) = triangles(v) / C(deg(v), 2), the cohesion statistic that
    * separates "parts bought in tight bundles" (cc → 1) from hub parts
    * that co-occur with everything but whose neighbours never co-occur
    * (cc → 0) — the per-vertex refinement of q125's raw triangle
    * census. Exact integer end-to-end: cc_bp = 2·tri·10⁴ div d(d−1)
    * (non-negative, so Spark `div` and DuckDB `//` agree), vertices
    * with d < 2 excluded (undefined denominator).
    *
    * Scale shape: degrees are one map-side-combinable aggregate over
    * the memoized half-edge list; triangles ride the shared memo (the
    * O(E^1.5)-bounded edge-iterator form, never the wedge join); the
    * join is |V|-sized on the vertex key. The oracle recomputes
    * triangles via the independent three-way wedge join — the q117
    * two-algorithms discipline applied to graph cohesion.
    */
  def q202ClusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdges(spark, dir)
    val deg = edges.select(explode(array($"u", $"v")).as("part"))
      .groupBy($"part").agg(count(lit(1)).as("degree"))
    deg.join(triangleCountsMemo(spark, dir), Seq("part"), "left")
      .withColumn("n_triangles", coalesce($"n_triangles", lit(0L)))
      .filter($"degree" >= 2)
      .select($"part", $"degree", $"n_triangles",
        expr("(n_triangles * 20000) div (degree * (degree - 1))").as("cc_bp"))
      .orderBy($"part")
  }

  val q202Sql: String =
    """WITH po AS (
      |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.part AS u, b.part AS v
      |  FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part),
      |deg AS (
      |  SELECT part, CAST(count(*) AS BIGINT) AS degree
      |  FROM (SELECT u AS part FROM e UNION ALL SELECT v FROM e) z
      |  GROUP BY part),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
      |tc AS (
      |  SELECT part, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT a AS part FROM tri
      |        UNION ALL SELECT b FROM tri
      |        UNION ALL SELECT c FROM tri) t
      |  GROUP BY part)
      |SELECT d.part, d.degree, coalesce(tc.n, 0) AS n_triangles,
      |       CAST(coalesce(tc.n, 0) * 20000
      |            // (d.degree * (d.degree - 1)) AS BIGINT) AS cc_bp
      |FROM deg d LEFT JOIN tc ON tc.part = d.part
      |WHERE d.degree >= 2
      |ORDER BY d.part""".stripMargin

  val q125Sql: String =
    """WITH po AS (
      |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.part AS u, b.part AS v
      |  FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
      |SELECT part, count(*) AS n_triangles
      |FROM (SELECT a AS part FROM tri
      |      UNION ALL SELECT b FROM tri
      |      UNION ALL SELECT c FROM tri) t
      |GROUP BY part ORDER BY part""".stripMargin

  /** q134 — k-hop BFS reachability (k=3) over the REPEAT-co-purchase
    * graph (parts co-purchased in ≥2 distinct orders — the ≥2 support
    * threshold is what makes the graph sparse enough to have hop
    * structure; the raw co-purchase graph has diameter ~2). Seeds are
    * the vertices with key ≡ 0 mod 100; output is the per-distance
    * frontier census (count + exact key checksum), with never-reached
    * vertices surfaced at dist = -1.
    *
    * This is textbook distributed BFS, the level-synchronous form every
    * Pregel-style system runs: per hop, ONE equi-join (edges ⋈ frontier
    * on the source key) + distinct + ONE left-anti join against the
    * visited set. All hash-shuffleable on the vertex key; per-round
    * state is the visited relation (≤|V|, two columns), and
    * `localCheckpoint` truncates the 3-round lineage so round i's plan
    * does not recompute rounds 1..i-1 (iterative-algorithm discipline,
    * same as the large-star/small-star components in Dedup). The DuckDB
    * oracle runs the same levels as chained CTEs with EXCEPT — an
    * independent set-algebra evaluation; one vertex on the wrong level
    * flips both the count and the checksum.
    */
  /** Session memo for the derived edge relations — the same shared-
    * artifact discipline as the dedup pair tables: q125/q134/q138 all
    * start from a co-purchase edge list, so the expensive distinct
    * self-join over lineitem is built once per (session, dir) and its
    * first-touch cost shows up as an adjudicated `memo_build` line item
    * in Bench instead of being re-paid inside every graph query.
    */
  private val memo = new OpUtils.SessionMemo("graphs")

  /** The shared base scan every graph edge build starts from: distinct
    * (order, part) pairs, flagged with q222's period bit (early =
    * ordered before 1998-01-01; `early` is a function of `ord`, so the
    * flag join after the distinct changes no cardinality). Memoized so
    * copurchase_edges, support_edges AND the churn census pay the
    * lineitem distinct exactly once per (session, dir) — one shared
    * `memo_build` line item instead of three identical scans.
    */
  private[graft] def poFlagged(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "po_flagged") {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("ord"), $"l_partkey".as("part")).distinct()
        .join(Tables.orders(spark, dir)
          .select($"o_orderkey".as("ord"),
            ($"o_orderdate" < lit("1998-01-01")).as("early")), Seq("ord"))
        .localCheckpoint()
    }

  /** The raw co-purchase half-edge list (u < v, distinct) — q125's
    * graph.
    */
  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "copurchase_edges") {
      import spark.implicits._
      val po = poFlagged(spark, dir).select($"ord", $"part")
      po.as("a").join(po.as("b"), Seq("ord"))
        .filter($"a.part" < $"b.part")
        .select($"a.part".as("u"), $"b.part".as("v")).distinct()
        .localCheckpoint()
    }

  /** The ≥2-support repeat-co-purchase graph (both edge directions),
    * shared by q134/q138 and the scale-evidence harness.
    */
  private[graft] def supportEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "support_edges") {
      import spark.implicits._
      val po = poFlagged(spark, dir).select($"ord", $"part")
      val half = po.as("a").join(po.as("b"), Seq("ord"))
        .filter($"a.part" < $"b.part")
        .groupBy($"a.part".as("u"), $"b.part".as("v"))
        .agg(count(lit(1)).as("c")).filter($"c" >= 2)
        .select($"u", $"v")
      half.unionByName(half.select($"v".as("u"), $"u".as("v")))
        .localCheckpoint()
    }

  /** Level-synchronous BFS over a directed edge list (`u`, `v`): per
    * hop one equi-join (edges ⋈ frontier) + one left-anti join against
    * the visited set, lineage truncated per round. Returns (p, dist)
    * for every vertex reached within `hops` of `seeds` (dist 0).
    */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, hops: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var frontier = seeds.select($"p").localCheckpoint()
    var visited = frontier.withColumn("dist", lit(0L))
    for (hop <- 1 to hops) {
      frontier = edges.join(frontier.select($"p".as("u")), Seq("u"))
        .select($"v".as("p")).distinct()
        .join(visited.select($"p"), Seq("p"), "left_anti")
        .localCheckpoint()
      visited = visited.unionByName(frontier.withColumn("dist", lit(hop.toLong)))
        .localCheckpoint()
    }
    visited
  }

  /** q222 — co-purchase graph churn across order-date periods: the
    * temporal axis of the graph family. Edges are rebuilt per period
    * (orders before / since 1998-01-01) and full-outer joined on the
    * edge key, classifying every edge as kept / added / removed — the
    * structural-drift census ("is the co-purchase structure stable
    * enough to keep serving last quarter's clusters?") that complements
    * the value-level drift monitors (q90 length, q91 vocab, PSI): those
    * watch distributions, this watches RELATIONSHIPS. Output is the
    * 3-row status census with endpoint checksums — a single moved edge
    * flips a checksum and fails the hash gate.
    *
    * Scale shape: the period flag rides the shared [[poFlagged]] memo
    * (one hash join on orderkey after the distinct), and BOTH periods'
    * edge sets come out of a SINGLE self-join pass — `early` is a
    * function of the order key, so every joined pair carries its
    * period, and `groupBy(u, v)` with two conditional existence flags
    * replaces the old two-self-joins-plus-full-outer plan (one edge
    * enumeration instead of two, no full-outer shuffle; the groupBy IS
    * the per-period distinct, with map-side partial aggregation). At
    * 100 TB nothing here is quadratic in parts: the self-join is
    * basket-bounded per order and the census is one hash aggregation.
    */
  def q222GraphChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val po = poFlagged(spark, dir)
    po.as("a").join(po.as("b"), Seq("ord"))
      .filter($"a.part" < $"b.part")
      .groupBy($"a.part".as("u"), $"b.part".as("v"))
      .agg(max(when($"a.early", 1L).otherwise(0L)).as("in_a"),
        max(when(!$"a.early", 1L).otherwise(0L)).as("in_b"))
      .select($"u", $"v",
        when($"in_a" === 1L && $"in_b" === 1L, "kept")
          .when($"in_a" === 1L, "removed")
          .otherwise("added").as("status"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_edges"),
        sum($"u").as("u_checksum"), sum($"v").as("v_checksum"))
      .orderBy($"status")
  }

  val q222Sql: String =
    """WITH po AS (
      |  SELECT DISTINCT l.l_orderkey AS ord, l.l_partkey AS part,
      |         o.o_orderdate < DATE '1998-01-01' AS early
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |ea AS (SELECT DISTINCT a.part AS u, b.part AS v
      |       FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part
      |       WHERE a.early AND b.early),
      |eb AS (SELECT DISTINCT a.part AS u, b.part AS v
      |       FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part
      |       WHERE NOT a.early AND NOT b.early),
      |ch AS (SELECT coalesce(ea.u, eb.u) AS u, coalesce(ea.v, eb.v) AS v,
      |         CASE WHEN ea.u IS NOT NULL AND eb.u IS NOT NULL THEN 'kept'
      |              WHEN ea.u IS NOT NULL THEN 'removed'
      |              ELSE 'added' END AS status
      |       FROM ea FULL OUTER JOIN eb ON ea.u = eb.u AND ea.v = eb.v)
      |SELECT status, CAST(count(*) AS BIGINT) AS n_edges,
      |       CAST(sum(u) AS BIGINT) AS u_checksum,
      |       CAST(sum(v) AS BIGINT) AS v_checksum
      |FROM ch GROUP BY status ORDER BY status""".stripMargin

  def q134KhopReach(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = supportEdges(spark, dir)
    val verts = edges.select($"u".as("p")).distinct().localCheckpoint()
    val visited = bfsLevels(edges, verts.filter($"p" % 100 === 0), 3)
    val unreached = verts.join(visited.select($"p"), Seq("p"), "left_anti")
      .withColumn("dist", lit(-1L))
    visited.unionByName(unreached)
      .groupBy($"dist")
      .agg(count(lit(1)).as("n"), sum($"p").as("key_sum"))
      .orderBy($"dist")
  }

  val q134Sql: String =
    """WITH po AS (
      |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem),
      |half AS (
      |  SELECT a.part AS u, b.part AS v
      |  FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT u, v FROM half UNION ALL SELECT v, u FROM half),
      |vx AS (SELECT DISTINCT u AS p FROM e),
      |d0 AS (SELECT p FROM vx WHERE p % 100 = 0),
      |d1 AS (SELECT DISTINCT e.v AS p FROM e JOIN d0 ON e.u = d0.p
      |       EXCEPT SELECT p FROM d0),
      |d2 AS (SELECT DISTINCT e.v AS p FROM e JOIN d1 ON e.u = d1.p
      |       EXCEPT (SELECT p FROM d0 UNION SELECT p FROM d1)),
      |d3 AS (SELECT DISTINCT e.v AS p FROM e JOIN d2 ON e.u = d2.p
      |       EXCEPT (SELECT p FROM d0 UNION SELECT p FROM d1
      |               UNION SELECT p FROM d2)),
      |lv AS (
      |  SELECT 0 AS dist, p FROM d0
      |  UNION ALL SELECT 1, p FROM d1
      |  UNION ALL SELECT 2, p FROM d2
      |  UNION ALL SELECT 3, p FROM d3
      |  UNION ALL SELECT -1, p FROM (
      |    SELECT p FROM vx EXCEPT (SELECT p FROM d0 UNION SELECT p FROM d1
      |      UNION SELECT p FROM d2 UNION SELECT p FROM d3)) u)
      |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n,
      |       CAST(sum(p) AS BIGINT) AS key_sum
      |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin

  /** q138 — PageRank, three synchronous iterations over the q134
    * repeat-co-purchase graph, in EXACT integer arithmetic: ranks live
    * in fixed-point units of 1e-12 (SCALE), the per-edge contribution
    * is `rank div out_degree` (floor), and the damped update is
    * `(15·SCALE + 85·Σcontrib) div 100` — every operation is a
    * non-negative BIGINT floor-division or sum, identical in Spark's
    * `div` and DuckDB's `//`, so an ITERATIVE FLOAT algorithm becomes
    * bit-reproducible cross-engine (the float form's sum-order
    * nondeterminism cannot pass a hash gate at all; this construction
    * is why the engine's iterative numerics are auditable). The
    * undirected ≥2-support graph has minimum degree 1, so there is no
    * dangling mass and the teleport term is the constant 15% — the
    * dangling-redistribution variant adds one scalar broadcast per
    * round, shape unchanged.
    *
    * Scale shape: per iteration ONE equi-join (edges ⋈ ranks on the
    * source key, degree pre-attached to the edge list) + ONE hash
    * aggregate on the destination — the Pregel message pattern as two
    * shuffles; `localCheckpoint` truncates lineage so round i does not
    * replan rounds 1..i−1. Ranks are |V|-sized, edges |E|-sized; at
    * 100 TB both partition on the vertex key and nothing is ever
    * collected or globally sorted. The oracle unrolls the same three
    * rounds as chained CTEs — same recurrence, independently evaluated;
    * one lost contribution anywhere flips the exact ranks.
    */
  /** Fixed-point integer PageRank over a directed edge list (`u`, `v`)
    * whose every vertex has out-degree ≥ 1 (no dangling mass). Returns
    * (p, r) with ranks in 1e-12 units after `iters` synchronous rounds.
    */
  def pagerankRanks(edges: DataFrame, iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val scale = 1000000000000L
    val degreed = edges
      .join(edges.groupBy($"u").agg(count(lit(1)).as("deg")), Seq("u"))
      .localCheckpoint() // (u, v, deg_u): degree rides the edge list
    var ranks = degreed.select($"u".as("p")).distinct()
      .withColumn("r", lit(scale)).localCheckpoint()
    for (_ <- 1 to iters) {
      ranks = degreed
        .join(ranks.select($"p".as("u"), $"r"), Seq("u"))
        .select($"v".as("p"), expr("r div deg").as("contrib"))
        .groupBy($"p")
        .agg(expr(s"(15 * ${scale}L + 85 * sum(contrib)) div 100").as("r"))
        .localCheckpoint()
    }
    ranks
  }

  def q138Pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pagerankRanks(supportEdges(spark, dir), 3).orderBy($"p")
  }

  val q138Sql: String = {
    val S = 1000000000000L
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT e.v AS p, (15 * $S + 85 * sum(r.r // e.deg)) // 100 AS r
         |  FROM e JOIN $prev r ON r.p = e.u
         |  GROUP BY e.v)""".stripMargin
    s"""WITH po AS (
       |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem),
       |half AS (
       |  SELECT a.part AS u, b.part AS v
       |  FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |eu AS (SELECT u, v FROM half UNION ALL SELECT v, u FROM half),
       |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM eu GROUP BY 1),
       |e AS (SELECT eu.u, eu.v, dg.deg FROM eu JOIN dg ON dg.u = eu.u),
       |r0 AS (SELECT DISTINCT u AS p, CAST($S AS BIGINT) AS r FROM eu),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT p, CAST(r AS BIGINT) AS r FROM r3 ORDER BY p""".stripMargin
  }

  /** q156 — association rules over co-ordered BRANDS (market-basket
    * support/confidence/lift, the Apriori 2-itemset pass): for every
    * unordered brand pair {a, b}, how many orders contain both, and is
    * that more than independence predicts? Co-occurrence counting is
    * what q125's edge machinery does at part grain; lifting to the
    * ~25-value brand dimension bounds the itemset lattice (≤ C(25,2)
    * pairs at ANY data size) and adds the rule-quality metrics the
    * part-grain graph family doesn't carry. Everything is exact
    * integer: support and the two confidences in basis points
    * (`n_pair·10⁴ div n_x`, positive so `div`/`//` agree), lift in
    * micro-units with the `n_pair·N·10⁶` cross-product widened to
    * DECIMAL(38,0)/HUGEINT (it crosses BIGINT near sf100 — the q95
    * discipline).
    *
    * Scale shape: one distinct (order, brand) relation (hash
    * aggregate; the brand lookup rides a broadcast of `part`), ONE
    * self-equi-join on the order key — per-order blowup bounded by
    * brands-per-order² ≤ 25² — then a hash aggregate to the ≤300-row
    * pair relation; marginals and N are broadcast back onto it. No
    * theta join, no lattice deeper than 2 (the reference surface is
    * pairwise signals; deeper passes compose the same shape).
    */
  def q156AssociationRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ob = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ord"), $"p_brand".as("brand"))
      .distinct()
      .localCheckpoint() // feeds pairs, marginals, and N off one pass
    val n = ob.select($"ord").distinct().agg(count(lit(1)).as("n_orders"))
    val marg = ob.groupBy($"brand").agg(count(lit(1)).as("n_b"))
    val pairs = ob.as("a")
      .join(ob.as("b"),
        $"a.ord" === $"b.ord" && $"a.brand" < $"b.brand")
      .groupBy($"a.brand".as("brand_a"), $"b.brand".as("brand_b"))
      .agg(count(lit(1)).as("n_pair"))
    pairs
      .join(broadcast(marg.select($"brand".as("brand_a"), $"n_b".as("n_a"))),
        "brand_a")
      .join(broadcast(marg.select($"brand".as("brand_b"), $"n_b".as("n_bb"))),
        "brand_b")
      .crossJoin(broadcast(n))
      .select($"brand_a", $"brand_b", $"n_pair",
        expr("n_pair * 10000 div n_orders").as("support_bp"),
        expr("n_pair * 10000 div n_a").as("conf_ab_bp"),
        expr("n_pair * 10000 div n_bb").as("conf_ba_bp"),
        expr("""CAST(CAST(n_pair AS DECIMAL(38,0)) * n_orders * 1000000
                     div (CAST(n_a AS DECIMAL(38,0)) * n_bb) AS BIGINT)""")
          .as("lift_micro"))
      .orderBy($"brand_a", $"brand_b")
  }

  val q156Sql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ord, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT CAST(count(DISTINCT ord) AS BIGINT) AS n_orders FROM ob),
      |m AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_b FROM ob GROUP BY 1),
      |p AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
      |             CAST(count(*) AS BIGINT) AS n_pair
      |      FROM ob a JOIN ob b ON a.ord = b.ord AND a.brand < b.brand
      |      GROUP BY 1, 2)
      |SELECT p.brand_a, p.brand_b, p.n_pair,
      |       p.n_pair * 10000 // n.n_orders AS support_bp,
      |       p.n_pair * 10000 // ma.n_b AS conf_ab_bp,
      |       p.n_pair * 10000 // mb.n_b AS conf_ba_bp,
      |       CAST(CAST(p.n_pair AS HUGEINT) * n.n_orders * 1000000
      |            // (CAST(ma.n_b AS HUGEINT) * mb.n_b) AS BIGINT)
      |         AS lift_micro
      |FROM p JOIN m ma ON p.brand_a = ma.brand
      |JOIN m mb ON p.brand_b = mb.brand, n
      |ORDER BY p.brand_a, p.brand_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_clustering_coefficient" -> (q202ClusteringCoefficient _),
    "q215_edge_jaccard" -> (q215EdgeJaccard _),
    "q222_graph_churn" -> (q222GraphChurn _),
    "q125_triangle_count" -> (q125TriangleCount _),
    "q134_khop_reach" -> (q134KhopReach _),
    "q138_pagerank" -> (q138Pagerank _),
    "q156_association_rules" -> (q156AssociationRules _))

  val oracleSql: Map[String, String] = Map(
    "q202_clustering_coefficient" -> q202Sql,
    "q215_edge_jaccard" -> q215Sql,
    "q222_graph_churn" -> q222Sql,
    "q125_triangle_count" -> q125Sql,
    "q134_khop_reach" -> q134Sql,
    "q138_pagerank" -> q138Sql,
    "q156_association_rules" -> q156Sql)
}
