package graft.operators

import graft.operators.OpUtils.SpreadOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import OpUtils.dec

/** Analytic extensions beyond the core relational set: CUBE, GROUPING SETS
  * (through the SQL surface), exact interpolated percentiles, correlated
  * scalar subqueries, and sketch-based distinct counting.
  */
object Analytics {

  /** CUBE over two dimensions with grouping flags (SURVEY.md §2.4). */
  def q38Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(dec($"o_totalprice")).cast("double").as("total"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_prio"))
      .orderBy($"g_status", $"g_prio", $"o_orderstatus", $"o_orderpriority")
  }

  val q38Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin

  /** GROUPING SETS through the SQL surface (`spark.sql` over registered
    * views) — the engine's SQL entry point, same text DuckDB runs.
    */
  def q39GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)
  }

  val q39Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  /** Exact interpolated percentiles (quartiles of quantity per return
    * flag). l_quantity is integer-valued, so the (a + f·(b-a))
    * interpolation is engine-identical.
    *
    * This is the EXACTNESS BASELINE, not the production form: Spark's
    * exact `percentile` buffers every value of the group in executor
    * memory. The 100 TB rollup is [[q99PercentileSketch]] (GK sketch,
    * bounded memory); [[q100PercentileCalibrationSlice]] audits the sketch
    * against this exact form on a deterministic ¼ slice — the same
    * production/calibration/baseline triad as q96/q97/q42 for distincts.
    */
  def q40Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q40Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Correlated scalar subquery through the SQL surface: orders above
    * their customer's average (decimal cross-multiply, no float drift).
    */
  def q41CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,4)) *
        |      (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
        |      (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val q41Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(18,4)) *
      |      (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
      |      (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** HLL++ relative standard deviation used by q42 and its bound. */
  private val hllRsd = 0.05

  /** Sketch-based distinct counting (HLL++) WITH its validation harness:
    * the sketch estimates are checked in-query against the exact
    * distinct counts, and the query emits whether each estimate lands
    * within 4 standard errors (4·rsd = 0.20) of the truth — the
    * published HLL error model. Raw HLL register values differ across
    * engines, so the estimate itself can never hash-match a DuckDB
    * oracle; the BOUND CHECK can (both engines agree on the exact counts
    * and on `true`), which turns the one permanently-unoracled query
    * into a fully checked one: a sketch regression (wrong rsd plumbing,
    * broken merge) flips a boolean and fails the driver's hash gate.
    * Measured errors at shipped SFs top out at 1.7σ (0.086).
    *
    * The exact columns make this the CALIBRATION form (the q33/q46
    * pattern): a production distinct-heavy rollup keeps only the
    * estimate columns — one pass, bounded memory, no exact-distinct
    * expand (that is q96, the every-night shape) — and re-validates the
    * sketch with this form on a CADENCE, never the full corpus:
    *
    *  - '''partition-subset''': run q42's exact+sketch comparison over a
    *    bounded slice of ingest partitions (e.g. one day out of each
    *    week's arrivals, or `tablesample (1 percent)` stratified by the
    *    group key). The exact half's Expand + per-value aggregation then
    *    costs O(slice), not O(corpus), while the sketch half of the SAME
    *    slice gives the error measurement the 4σ gate needs — HLL error
    *    is cardinality-relative, so a slice with ≥10⁵ distincts per
    *    group exercises the identical register math as the full table.
    *    Declared (and oracled) as [[q97DistinctCalibrationSlice]].
    *  - '''weekly full-stratum''': for one rotating group-key stratum
    *    (here: one `l_returnflag` value, pushed down as a partition
    *    filter), pay the exact distinct on that stratum only. Rotating
    *    covers every stratum on a bounded budget.
    *
    *  At 100 TB nothing runs THIS form unsliced: q96 carries the nightly
    *  load with bounded sketch state; a q42 slice caps calibration cost
    *  at whatever the slice is sized to.
    */
  def q42ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey", hllRsd).as("est_orders"),
        approx_count_distinct($"l_partkey", hllRsd).as("est_parts"),
        countDistinct($"l_orderkey").as("exact_orders"),
        countDistinct($"l_partkey").as("exact_parts"),
        count(lit(1)).as("n"))
      .select($"l_returnflag", $"exact_orders", $"exact_parts", $"n",
        (abs($"est_orders" - $"exact_orders").cast("double") / $"exact_orders"
          <= lit(4 * hllRsd)).as("orders_in_bounds"),
        (abs($"est_parts" - $"exact_parts").cast("double") / $"exact_parts"
          <= lit(4 * hllRsd)).as("parts_in_bounds"))
      .orderBy($"l_returnflag")
  }

  /** q42's oracle: DuckDB computes the exact distincts and asserts the
    * bound columns are literally TRUE — so the hash gate fails exactly
    * when Spark's sketch escapes its 4σ envelope.
    */
  val q42Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(*) AS n,
      |  TRUE AS orders_in_bounds,
      |  TRUE AS parts_in_bounds
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q96 — the PRODUCTION distinct-count rollup: sketch-only, no exact
    * distinct anywhere. q42 is the calibration audit — its exact
    * `COUNT(DISTINCT)` validation columns are what bought the oracle, but
    * at 100 TB the exact half dominates the cost (a full Expand +
    * per-value hash aggregation), so the cheap path a pipeline actually
    * runs must itself be a declared, benched query.
    *
    * Checkability without exact counts: each key carries TWO independent
    * HLL sketches per column at different precisions (DataSketches
    * `hll_sketch_agg` at lgK 12 and 14 ⇒ rse ≈ 1.04/√2¹² = 0.0163 and
    * 1.04/√2¹⁴ = 0.0081 — at or under the 0.05/0.01 error budget this
    * query has always declared). Both estimate the same truth D, so at
    * 4 standard errors |est5 − est1|/est1 ≤ (4·0.0163 + 4·0.0081)/
    * (1 − 4·0.0081) ≈ 0.101 — gated at the original, looser 0.25 — and
    * est1 ≤ D·1.033 ≤ n·1.04. The emitted columns are the group keys,
    * the exact row count, and these consistency booleans — all
    * engine-portable (DuckDB emits TRUE literals), so the driver's hash
    * gate stays fully active: a broken sketch (wrong lgK plumbing, bad
    * merge) flips a boolean. Weaker than q42's truth-check by
    * construction — q42 remains the periodic calibration run on a
    * slice; this is the every-night shape.
    *
    * Why DataSketches and not `approx_count_distinct` (r16 optimization):
    * Spark's HLL++ exposes its register file as per-word BIGINT buffer
    * attributes — at rsd 0.01 that is 1,639 attributes PER SKETCH, so
    * this 4-sketch aggregate planned with 3,383 aggregate attributes and
    * every stage (partial, final, even the 3-row sort) paid ~1 s of
    * giant-codegen overhead: 3.1 s measured wall at sf0.1. The
    * DataSketches aggregate carries ONE binary buffer per sketch
    * (compact plan, normal codegen): 0.42 s for the identical emitted
    * booleans — and the same cross-system wire-format argument as q106.
    *
    * Scale: ONE pass, one hash aggregation, fixed-width sketch buffers,
    * and — unlike q42 — no Expand doubling of the input (PlanSpec pins
    * the Expand-free plan).
    */
  def q96DistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 12))").as("o5"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 14))").as("o1"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 12))").as("p5"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 14))").as("p1"))
      .select($"l_returnflag", $"n",
        (abs($"o5" - $"o1").cast("double") / $"o1" <= lit(0.25)).as("orders_sketches_agree"),
        ($"o1".cast("double") <= $"n".cast("double") * 1.04).as("orders_est_bounded"),
        (abs($"p5" - $"p1").cast("double") / $"p1" <= lit(0.25)).as("parts_sketches_agree"),
        ($"p1".cast("double") <= $"n".cast("double") * 1.04).as("parts_est_bounded"))
      .orderBy($"l_returnflag")
  }

  val q96Sql: String =
    """SELECT l_returnflag,
      |  COUNT(*) AS n,
      |  TRUE AS orders_sketches_agree,
      |  TRUE AS orders_est_bounded,
      |  TRUE AS parts_sketches_agree,
      |  TRUE AS parts_est_bounded
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q97 — q42's calibration CADENCE as a declared query: the
    * exact-vs-sketch 4σ audit over a DETERMINISTIC ~1/4 slice of the
    * fact table instead of the whole of it. The slice predicate is
    * `substr(md5(orderkey), 1, 1) IN ('0'..'3')` — engine-portable
    * (both engines md5 the same decimal string, the q34 panel trick),
    * scan-parallel (no sample() nondeterminism, no global sort), and
    * hash-uniform so every group keeps ~¼ of its orders — thousands of
    * distincts per group at sf0.01+, enough to exercise the identical
    * HLL register math (error is cardinality-relative). This is the
    * partition-subset calibration the q42 scaladoc prescribes: at
    * 100 TB the exact half costs O(slice), the 4σ gate still
    * hash-fails on a broken sketch, and q96 keeps carrying the
    * unsliced nightly load. Slicing on the DISTINCT-count key itself
    * (orderkey) keeps sliced-exact vs sliced-estimate comparable —
    * both sides see the same ~D/4 population.
    */
  def q97DistinctCalibrationSlice(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(substring(md5($"l_orderkey".cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey", hllRsd).as("est_orders"),
        countDistinct($"l_orderkey").as("exact_orders"),
        count(lit(1)).as("n"))
      .select($"l_returnflag", $"exact_orders", $"n",
        (abs($"est_orders" - $"exact_orders").cast("double") / $"exact_orders"
          <= lit(4 * hllRsd)).as("orders_in_bounds"))
      .orderBy($"l_returnflag")
  }

  val q97Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(*) AS n,
      |  TRUE AS orders_in_bounds
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** GK-sketch relative rank error of the production percentile rollup
    * (`approx_percentile` accuracy 10000 ⇒ ε = 1e-4) — shared by q99's
    * self-check and its scaladoc math.
    */
  private val pctlEps = 1e-4

  /** q99 — the PRODUCTION percentile rollup: `approx_percentile`
    * (Greenwald–Khanna sketch, bounded memory per group) instead of q40's
    * exact `percentile`, whose imperative aggregate buffers EVERY value of
    * the group in executor memory — fine at 600k rows / 3 groups, OOM at a
    * 100×-scale group. This is the q96 pattern applied to quantiles: q40
    * stays as the exactness baseline, q100 is the sliced calibration
    * cadence, and THIS is the every-night shape.
    *
    * Checkability without exact order statistics: a GK sketch at accuracy
    * 1/ε guarantees the returned value's exact rank lies within ε·n of the
    * target quantile. Ranks ARE exactly countable in one aggregation pass:
    * for returned value v and target q, `count(x < v) ≤ (q+ε)n` and
    * `count(x ≤ v) ≥ (q−ε)n` must both hold (the rank interval
    * [count(<v), count(≤v)] of v must intersect [q−ε, q+ε]·n; ±2 rows of
    * absolute slack absorbs rank-convention off-by-ones). The emitted
    * columns are the group key, exact n, and these booleans — engine-
    * portable (DuckDB emits TRUE literals), so the driver's hash gate stays
    * fully active: a broken sketch (bad merge, wrong accuracy plumbing)
    * flips a boolean. The sketch VALUES themselves are never emitted — GK
    * results are merge-order-dependent, so they can never hash-match an
    * oracle.
    *
    * Scale shape: two passes, each ONE hash aggregation with map-side
    * partials — pass 1 builds fixed-width GK sketches per group, pass 2
    * counts ranks against the broadcast groups-sized estimate relation.
    * No per-group value buffer anywhere (PlanSpec pins the exact
    * `Percentile` aggregate OUT of this plan and the bounded
    * `ApproximatePercentile` IN).
    */
  def q99PercentileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val est = li
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        percentile_approx($"l_quantity",
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("ps"))
      .select($"l_returnflag", $"n",
        $"ps".getItem(0).as("e25"), $"ps".getItem(1).as("e50"), $"ps".getItem(2).as("e75"))
    def rankOk(lt: Column, le: Column, q: Double, n: Column): Column =
      (lt.cast("double") <= (lit(q) + lit(pctlEps)) * n + 2.0) &&
        (le.cast("double") >= (lit(q) - lit(pctlEps)) * n - 2.0)
    li.join(broadcast(est), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(
        first($"n").as("n"),
        sum(when($"l_quantity" < $"e25", 1L).otherwise(0L)).as("lt25"),
        sum(when($"l_quantity" <= $"e25", 1L).otherwise(0L)).as("le25"),
        sum(when($"l_quantity" < $"e50", 1L).otherwise(0L)).as("lt50"),
        sum(when($"l_quantity" <= $"e50", 1L).otherwise(0L)).as("le50"),
        sum(when($"l_quantity" < $"e75", 1L).otherwise(0L)).as("lt75"),
        sum(when($"l_quantity" <= $"e75", 1L).otherwise(0L)).as("le75"))
      .select($"l_returnflag", $"n",
        rankOk($"lt25", $"le25", 0.25, $"n").as("p25_rank_ok"),
        rankOk($"lt50", $"le50", 0.5, $"n").as("p50_rank_ok"),
        rankOk($"lt75", $"le75", 0.75, $"n").as("p75_rank_ok"))
      .orderBy($"l_returnflag")
  }

  val q99Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  TRUE AS p25_rank_ok, TRUE AS p50_rank_ok, TRUE AS p75_rank_ok
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q100 — q40's calibration CADENCE as a declared query (the q97 move
    * applied to percentiles): the exact-vs-sketch audit over the same
    * deterministic `substr(md5(orderkey),1,1) IN ('0'..'3')` ~¼ slice —
    * engine-portable, scan-parallel, hash-uniform, and sliced on the
    * orderkey so every group keeps a representative quantity distribution.
    * The exact `percentile` half then buffers O(slice) per group instead of
    * O(corpus) — the bounded calibration cost — while the sketch half runs
    * the identical GK register math it runs in q99 (rank error is
    * rank-relative, so a ¼ slice exercises it fully).
    *
    * Emits the exact interpolated quartiles (oracle: `quantile_cont`, the
    * q40 parity precedent) plus audit booleans asserting each sketch value
    * lies within the exact quantile envelope [Q(q−0.01), Q(q+0.01)] — a
    * ±1%-rank gate, ~100× the sketch's ε guarantee, mirroring q42's 4σ
    * philosophy: generous against boundary noise, instantly failed by a
    * genuinely broken sketch. DuckDB emits the same exact quantiles and
    * TRUE literals, so the driver's hash gate checks both halves.
    */
  def q100PercentileCalibrationSlice(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(substring(md5($"l_orderkey".cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.24)").as("lo25"),
        expr("percentile(l_quantity, 0.26)").as("hi25"),
        expr("percentile(l_quantity, 0.49)").as("lo50"),
        expr("percentile(l_quantity, 0.51)").as("hi50"),
        expr("percentile(l_quantity, 0.74)").as("lo75"),
        expr("percentile(l_quantity, 0.76)").as("hi75"),
        percentile_approx($"l_quantity",
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("ps"))
      .select($"l_returnflag", $"n", $"p25", $"p50", $"p75",
        ($"ps".getItem(0) >= $"lo25" && $"ps".getItem(0) <= $"hi25").as("a25_ok"),
        ($"ps".getItem(1) >= $"lo50" && $"ps".getItem(1) <= $"hi50").as("a50_ok"),
        ($"ps".getItem(2) >= $"lo75" && $"ps".getItem(2) <= $"hi75").as("a75_ok"))
      .orderBy($"l_returnflag")
  }

  val q100Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  TRUE AS a25_ok, TRUE AS a50_ok, TRUE AS a75_ok
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q104 — RECURSIVE CTE (Spark 4's `WITH RECURSIVE` / UnionLoop): a
    * month spine generated by recursion from the orders date span,
    * LEFT-joined back so empty months appear with zero counts — the
    * classic reason a spine exists, inexpressible with a plain GROUP BY
    * (which drops absent groups). The span bounds are read once
    * (two scalars) and inlined, keeping the recursive step free of
    * scalar subqueries; ~80 iterations at the fixture span, under
    * Spark's default recursion limit. Each step is the previous row plus
    * one month, so the loop materializes spine-sized state (rows =
    * months), never data-sized — the recursion is over the CALENDAR, not
    * the corpus; the corpus-sized work stays one hash aggregation under
    * the join. DuckDB runs the same WITH RECURSIVE shape computing its
    * own bounds.
    */
  def q104RecursiveSpine(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    val mm = spark.sql(
      """SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS a,
        |       CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS b
        |FROM orders""".stripMargin).head()
    val (lo, hi) = (mm.getDate(0), mm.getDate(1))
    spark.sql(
      s"""WITH RECURSIVE spine AS (
         |  SELECT DATE '$lo' AS m
         |  UNION ALL
         |  SELECT CAST(m + INTERVAL '1 month' AS DATE) FROM spine
         |  WHERE m < DATE '$hi'
         |)
         |SELECT spine.m AS month,
         |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
         |  CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
         |FROM spine
         |LEFT JOIN orders o
         |  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = spine.m
         |GROUP BY spine.m
         |ORDER BY month""".stripMargin)
  }

  val q104Sql: String =
    """WITH RECURSIVE spine AS (
      |  SELECT (SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) FROM orders) AS m
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL '1 month' AS DATE) FROM spine
      |  WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) FROM orders)
      |)
      |SELECT spine.m AS month,
      |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
      |  CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
      |FROM spine
      |LEFT JOIN orders o
      |  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = spine.m
      |GROUP BY spine.m
      |ORDER BY month""".stripMargin

  /** q105 — heavy hitters via `approx_top_k` (Spark 4's space-saving /
    * Misra–Gries sketch aggregate): top event types by frequency in ONE
    * pass with a fixed-size sketch, exploded to (rank, item, est_count)
    * rows. Oracle-exactness by the space-saving guarantee: with
    * maxItemsTracked ≥ the column's distinct count the sketch counts are
    * EXACT (no evictions ever happen), so the fixture regime IS the
    * calibration run — DuckDB's exact ROW_NUMBER-over-counts top-3 must
    * match value-for-value (the q42 philosophy: the sketch's exactness
    * regime is oracle-checkable; a broken merge changes a count and
    * fails the hash gate). The production regime tracks k' ≪ D with the
    * published n/k' count-error bound — same plan shape, same fixed
    * memory, just a smaller capacity than cardinality.
    */
  def q105HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .agg(expr("approx_top_k(event_type, 3, 100)").as("tk"))
      .select(posexplode($"tk").as(Seq("pos", "s")))
      .select(($"pos" + 1).cast("long").as("rank"),
        $"s.item".as("item"), $"s.count".cast("long").as("est_count"))
      .orderBy($"rank")
  }

  val q105Sql: String =
    """SELECT CAST(rn AS BIGINT) AS rank, event_type AS item, n AS est_count
      |FROM (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rn
      |  FROM events GROUP BY 1) t
      |WHERE rn <= 3
      |ORDER BY rank""".stripMargin

  /** q106 — PERSISTED, MERGEABLE distinct-count sketches (Apache
    * DataSketches HLL via Spark 4's `hll_sketch_agg` family): the
    * sketch-rollup-table pattern a 100 TB warehouse actually runs.
    * `approx_count_distinct` (q42/q96) computes an estimate and throws
    * the sketch away; here stage 1 builds PARTIAL sketches per
    * (group, ingest-shard), materializes the binary sketch column to
    * parquet — the nightly rollup table — and stage 2 answers the
    * distinct question by `hll_union_agg` over the STORED sketches, no
    * re-scan of the fact data. At scale the rollup table is
    * groups × shards rows regardless of corpus size, merges associatively
    * across days/partitions, and is exchangeable with any DataSketches
    * implementation (the wire format is cross-system — the reason to
    * prefer it over Spark's private HLL++ buffers when sketches outlive
    * one query). Checkability: the merged estimate is gated within the
    * published HLL error envelope of the live exact count (lgK=12 ⇒
    * rsd ≈ 0.8%, gated at ±5% ≫ 6σ); DuckDB emits the exact counts and
    * TRUE literals, so a broken merge or serialization flips the boolean
    * and fails the hash gate.
    */
  def q106SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_hll_rollup").toString
    val li = Tables.lineitem(spark, dir)
    // stage 1: per-(group, shard) partial sketches -> the rollup table
    li.groupBy($"l_returnflag", pmod(xxhash64($"l_orderkey"), lit(16L)).as("shard"))
      .agg(expr("hll_sketch_agg(l_orderkey, 12)").as("sk"),
        count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(out)
    // stage 2: merge STORED sketches; never re-touches lineitem rows
    val merged = spark.read.parquet(out)
      .groupBy($"l_returnflag")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"),
        sum($"n").as("n"))
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_orders"))
    merged.join(exact, Seq("l_returnflag"))
      .select($"l_returnflag", $"exact_orders", $"n",
        (abs($"est" - $"exact_orders").cast("double") / $"exact_orders" <= 0.05)
          .as("est_in_bounds"))
      .orderBy($"l_returnflag")
  }

  val q106Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(*) AS n,
      |  TRUE AS est_in_bounds
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q107 — UNPIVOT/melt (wide → long): the three lineitem measures fold
    * into (measure, value) rows, then aggregate per (flag, measure).
    * Spark's `unpivot` plans as an Expand (3 output rows per input row,
    * no shuffle until the aggregation), the exact dual of q13's pivot;
    * the long form is what generic per-metric pipelines (drift monitors,
    * metric stores) consume. Decimal-exact sums per the oracle-parity
    * discipline.
    */
  def q107Unpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice", $"l_discount")
      .unpivot(Array($"l_returnflag"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        "measure", "value")
      .groupBy($"l_returnflag", $"measure")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value")).cast("string").cast("double").as("sum_value"))
      .orderBy($"l_returnflag", $"measure")
  }

  val q107Sql: String =
    """SELECT l_returnflag, measure, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT l_returnflag, measure, value
      |  FROM lineitem
      |  UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount)))
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q108 — LATERAL correlated subquery: each customer's top-2 orders by
    * price through a per-row dependent subquery with ORDER BY + LIMIT —
    * the SQL-surface dual of q8's window top-N. Catalyst decorrelates
    * the lateral into a join + per-key limit (no per-customer re-scan);
    * at scale this is one shuffle on the correlation key, same cost
    * class as the window form. Deterministic tie-break on orderkey.
    */
  def q108LateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  val q108Sql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  /** Range (theta) join: clicks within 30 minutes after a purchase by the
    * same user. The time bound is integer microsecond arithmetic so both
    * engines evaluate the identical predicate. Spark plans the non-equi
    * part inside the user_id equi join (hash join + filter).
    */
  def q43RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
    p.join(c, $"user_id" === $"c_user" &&
        unix_micros($"c_ts") > unix_micros($"p_ts") &&
        unix_micros($"c_ts") - unix_micros($"p_ts") <= 1800L * 1000000L)
      .select($"p_id", $"c_id", $"user_id", $"p_ts", $"c_ts")
      .orderBy($"p_id", $"c_id")
  }

  val q43Sql: String =
    """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id, p.ts AS p_ts, c.ts AS c_ts
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND epoch_us(c.ts) > epoch_us(p.ts)
      | AND epoch_us(c.ts) - epoch_us(p.ts) <= 1800000000
      |ORDER BY p_id, c_id""".stripMargin

  /** Full ranking-function family (SURVEY.md §2.5): rank/dense_rank/
    * percent_rank/cume_dist over a tie-bearing order (o_orderdate), ntile
    * over a total order (ties would make ntile nondeterministic).
    */
  def q44RankVariants(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy($"o_custkey").orderBy($"o_orderdate")
    val total = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        rank().over(byDate).cast("long").as("rk"),
        dense_rank().over(byDate).cast("long").as("drk"),
        percent_rank().over(byDate).as("prk"),
        cume_dist().over(byDate).as("cd"),
        ntile(4).over(total).cast("long").as("quartile"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q44Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(RANK() OVER w AS BIGINT) AS rk,
      |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
      |  PERCENT_RANK() OVER w AS prk,
      |  CUME_DIST() OVER w AS cd,
      |  CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** MapType surface (SURVEY.md §2.8 F9): JSON object → map → explode to
    * (key, value) rows, aggregated per key.
    */
  def q45JsonMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    Tables.events(spark, dir)
      .spreadAcrossCores
      .select(explode(from_json($"props", MapType(StringType, LongType))).as(Seq("k", "v")))
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"), max($"v").as("max_v"))
      .orderBy($"k")
  }

  val q45Sql: String =
    """SELECT k, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS BIGINT) AS sum_v,
      |  MAX(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS max_v
      |FROM (SELECT props, unnest(json_keys(props)) AS k FROM events) t
      |GROUP BY k
      |ORDER BY k""".stripMargin

  /** q122 — deterministic per-group mode (most frequent value), as pure
    * aggregation: the modal order priority per market segment. Built-in
    * `mode()` breaks ties nondeterministically in BOTH engines, so ties
    * are broken explicitly — highest count, then lexicographically
    * smallest value — via `min(struct(-cnt, value))`: one struct-ordered
    * aggregate instead of a per-group sort. Scale shape: two hash
    * aggregations (fact → (group, value) counts → group argmin), both
    * map-side-combinable, with aggregate state bounded by
    * |groups|×|domain|; the window-rank alternative (what the oracle
    * runs, independently) would sort every group's candidate set. The
    * customer side rides the o_custkey join, broadcast-or-shuffle per
    * AQE's runtime stats.
    */
  def q122ModalPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), $"o_orderpriority".as("pri"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy($"segment")
      .agg(min(struct((-$"cnt").as("neg"), $"pri")).as("m"),
        sum($"cnt").as("n_orders"))
      .select($"segment", $"m.pri".as("modal_priority"), (-$"m.neg").as("cnt"),
        $"n_orders")
      .orderBy($"segment")
  }

  val q122Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS pri, count(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT segment, pri AS modal_priority, cnt, n_orders FROM (
      |  SELECT segment, pri, cnt,
      |         CAST(sum(cnt) OVER (PARTITION BY segment) AS BIGINT) AS n_orders,
      |         row_number() OVER (PARTITION BY segment ORDER BY cnt DESC, pri) AS rn
      |  FROM c) t
      |WHERE rn = 1 ORDER BY segment""".stripMargin

  /** q132 — equi-depth feature binning at scale (the QuantileDiscretizer
    * job, SQL-native): decile boundaries from ONE `approx_percentile`
    * pass (GK sketch, bounded memory), bucket assignment as a pure
    * map — `size(filter(boundaries, b -> b <= x))` against the
    * broadcast 9-element boundary array — and the audit closed by
    * exact rank arithmetic: per-bucket counts (one hash aggregate)
    * prefix-summed over the 10-row bucket relation give count(x < bᵢ)
    * and count(x ≤ bᵢ) EXACTLY, which must bracket i·n/10 within the
    * sketch's ε·n envelope (the q99 rank-gate discipline; boundary
    * VALUES never cross the oracle — GK results are merge-order-
    * dependent). The fact is touched exactly twice (sketch pass +
    * assignment pass), never sorted; every post-aggregate relation is
    * ≤ 20 rows.
    */
  def q132EquidepthBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_totalprice".as("x"))
    val bounds = o.agg(count(lit(1)).as("n"),
      percentile_approx($"x", array((1 to 9).map(i => lit(i / 10.0)): _*),
        lit(10000)).as("bs"))
    val perBucket = o.crossJoin(broadcast(bounds))
      .select($"n",
        size(filter($"bs", b => b <= $"x")).cast("long").as("bucket"),
        coalesce(array_position($"bs", $"x"), lit(0L)).as("eqpos"))
      .groupBy($"bucket", $"eqpos")
      .agg(first($"n").as("n"), count(lit(1)).as("cnt"))
      .localCheckpoint() // ≤20 rows; feeds two tiny branches
    val deciles = spark.range(1, 10).select($"id".as("decile"))
      .crossJoin(broadcast(perBucket.agg(first($"n").as("n"))))
    // lt_i = rows in buckets < i (a 9x20 theta join over tiny relations
    // — the fact never re-enters); eq_i = rows exactly ON boundary i
    val lt = deciles.join(perBucket.select($"bucket", $"cnt"),
        $"bucket" < $"decile", "left")
      .groupBy($"decile").agg(first($"n").as("n"),
        coalesce(sum($"cnt"), lit(0L)).as("lt"))
    val eq = perBucket.filter($"eqpos" > 0)
      .groupBy($"eqpos".as("decile")).agg(sum($"cnt").as("eqc"))
    lt.join(eq, Seq("decile"), "left")
      .withColumn("le", $"lt" + coalesce($"eqc", lit(0L)))
      .select($"decile", $"n",
        (($"lt".cast("double") <= ($"decile" / 10.0 + lit(pctlEps)) * $"n" + 2.0) &&
          ($"le".cast("double") >= ($"decile" / 10.0 - lit(pctlEps)) * $"n" - 2.0))
          .as("rank_ok"))
      .orderBy($"decile")
  }

  val q132Sql: String =
    """SELECT i AS decile, n.n AS n, TRUE AS rank_ok
      |FROM range(1, 10) t(i), (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) n
      |ORDER BY decile""".stripMargin

  /** q146 — hierarchical percent-of-parent rollup (region → nation):
    * each nation's revenue share of ITS REGION and each region's share
    * of the grand total, in exact basis points — the drill-down tree
    * every BI layer renders, without a window: the fact aggregates
    * ONCE to the nation grain (cents frozen at the leaf, the q139
    * discipline), then the region totals (25ish rows) and the
    * one-row grand total are broadcast back. Shares are
    * `rev·10000 div parent` — pure BIGINT floor division, and the spec
    * invariant is structural: children's share_bp sums land in
    * (10000−n_children, 10000] at every level.
    */
  def q146PercentOfParent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    val region = Tables.region(spark, dir)
      .select($"r_regionkey", $"r_name")
    val natRev = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .withColumn("cents",
        expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
      .groupBy($"r_name", $"n_name")
      .agg(sum($"cents").as("rev_cents"))
    val regRev = natRev.groupBy($"r_name").agg(sum($"rev_cents").as("reg_cents"))
    val total = regRev.agg(sum($"reg_cents").as("tot_cents"))
    natRev.join(broadcast(regRev), Seq("r_name"))
      .crossJoin(broadcast(total))
      .select($"r_name", $"n_name", $"rev_cents",
        expr("rev_cents * 10000 div reg_cents").as("nation_share_bp"),
        expr("reg_cents * 10000 div tot_cents").as("region_share_bp"))
      .orderBy($"r_name", $"n_name")
  }

  val q146Sql: String =
    """WITH nr AS (
      |  SELECT r_name, n_name,
      |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
      |                       AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |rr AS (SELECT r_name, CAST(sum(rev_cents) AS BIGINT) AS reg_cents
      |       FROM nr GROUP BY 1),
      |t AS (SELECT CAST(sum(reg_cents) AS BIGINT) AS tot_cents FROM rr)
      |SELECT nr.r_name, nr.n_name, nr.rev_cents,
      |       nr.rev_cents * 10000 // rr.reg_cents AS nation_share_bp,
      |       rr.reg_cents * 10000 // t.tot_cents AS region_share_bp
      |FROM nr JOIN rr ON nr.r_name = rr.r_name, t
      |ORDER BY nr.r_name, nr.n_name""".stripMargin

  /** q152 — group-wise least-squares trend (revenue slope per market
    * segment): the closed-form OLS slope
    * `(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` over (epoch-day, daily cents)
    * points, per segment, emitted in exact micro-units — regression as
    * ONE map-side-combinable aggregate per group (five sums), the
    * in-database ML-lite primitive that needs no iteration and no
    * collect. Cross-products accumulate in DECIMAL(38,0) (day·cents
    * reaches ~2e11 per point; n·Σxy crosses BIGINT near sf10 — the
    * q95 widen discipline). The final division SIGN-SPLITS explicitly:
    * slopes go negative, and Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — the divergence class q131's always-positive
    * idf avoided by construction is handled here by computing
    * `sign·(|num|·10⁶ div den)` in BOTH engines (den > 0 whenever a
    * segment has ≥2 distinct days).
    */
  def q152SegmentTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")
          .as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    pts.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"day").as("sx"), sum($"y").as("sy"),
        sum($"day".cast(d38) * $"y").as("sxy"),
        sum($"day".cast(d38) * $"day").as("sxx"))
      .withColumn("num",
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("den",
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .select($"segment", $"n",
        expr("""CAST(CASE WHEN num < 0 THEN -((-num * 1000000) div den)
                          ELSE (num * 1000000) div den END AS BIGINT)""")
          .as("slope_micro"))
      .orderBy($"segment")
  }

  val q152Sql: String =
    """WITH d AS (
      |  SELECT c.c_mktsegment AS segment,
      |         CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |a AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(CAST(day AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |        CAST(sum(CAST(day AS HUGEINT) * day) AS HUGEINT) AS sxx
      |      FROM d GROUP BY 1),
      |b AS (SELECT segment, n,
      |        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
      |      FROM a)
      |SELECT segment, n,
      |       CAST(CASE WHEN num < 0 THEN -((-num * 1000000) // den)
      |                 ELSE (num * 1000000) // den END AS BIGINT)
      |         AS slope_micro
      |FROM b ORDER BY segment""".stripMargin

  /** q198 — Theil–Sen robust trend per market segment: the MEDIAN of
    * all pairwise weekly-revenue slopes — the estimator that shrugs off
    * the outlier weeks that drag q152's OLS (median breakdown point
    * 29%, OLS 0%). The robust-statistics discipline (q161/q162) applied
    * to regression:
    *
    *  - points are the (segment, week) weekly revenue relation —
    *    calendar-bounded, so the pairwise self-join is C(weeks, 2) per
    *    segment (~thousands), NEVER fact², and stays so at 100 TB;
    *  - each pairwise slope is frozen to exact micro-cents/week with
    *    the q152 sign-split division (slopes go negative);
    *  - the per-segment median is an exact low order statistic by rank
    *    arithmetic ([[OpUtils.exactCuts]] per segment), with the
    *    magnitude bucket computed as an ARITHMETIC RIGHT-SHIFT
    *    (`v >> 30`, the q181 shift trick) so negative slopes get buckets
    *    as even as positive ones.
    *
    * Oracle computes the same median definition via a direct ordered
    * window over the pair relation — two mechanisms, one gate.
    */
  def q198TheilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT) div 7")
          .as("wk"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
      .localCheckpoint() // both sides of the pair join
    val later = pts.select($"segment", $"wk".as("wk2"), $"y".as("y2"))
    // divisor guarded with greatest(..., 1): identical on every surviving
    // row (wk2 > wk forces >= 1), but InferFiltersFromConstraints hoists
    // an isnotnull(v >> 30) conjunct INTO the join condition, where ANSI
    // evaluates the division before the wk2 > wk conjunct prunes the
    // equal-week candidates — the guard makes that eager evaluation
    // harmless instead of a DIVIDE_BY_ZERO
    val slopes = pts.join(later, Seq("segment"))
      .filter($"wk2" > $"wk")
      .select($"segment",
        expr("""CAST(CASE WHEN (y2 - y) < 0
                          THEN -((-(y2 - y) * 1000000) div greatest(wk2 - wk, 1))
                          ELSE ((y2 - y) * 1000000) div greatest(wk2 - wk, 1)
                     END AS BIGINT)""").as("v"))
    OpUtils.exactCuts(slopes, Seq("segment"), "v", expr("v >> 30"),
        ("theilsen_slope_micro", 1L, 2L))
      .select($"segment", $"n".as("n_pairs"), $"theilsen_slope_micro")
      .orderBy($"segment")
  }

  val q198Sql: String =
    """WITH d AS (
      |  SELECT c.c_mktsegment AS segment,
      |         CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |           // 7 AS wk,
      |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |s AS (SELECT a.segment,
      |        CAST(CASE WHEN (b.y - a.y) < 0
      |                  THEN -((-(b.y - a.y) * 1000000) // greatest(b.wk - a.wk, 1))
      |                  ELSE ((b.y - a.y) * 1000000) // greatest(b.wk - a.wk, 1)
      |             END AS BIGINT) AS v
      |      FROM d a JOIN d b ON a.segment = b.segment AND b.wk > a.wk),
      |n AS (SELECT segment, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
      |c AS (SELECT segment, v,
      |        CAST(sum(count(*)) OVER (PARTITION BY segment ORDER BY v)
      |             AS BIGINT) AS cum
      |      FROM s GROUP BY segment, v)
      |SELECT n.segment, n.n AS n_pairs,
      |       (SELECT min(v) FROM c
      |        WHERE c.segment = n.segment AND cum * 2 >= n.n)
      |         AS theilsen_slope_micro
      |FROM n ORDER BY n.segment""".stripMargin

  /** q154 — equi-WIDTH histogram (the q132 equi-depth dual): 20 fixed-
    * width bands over order totals in cents, width
    * `w = (hi−lo) div 20 + 1` so the max lands in band 19 by
    * construction — every edge, band id, and count is pure BIGINT
    * arithmetic from the broadcast (lo, hi) one-row aggregate. Two
    * passes over the fact (min/max + banding), both map-side
    * combinable; output is 20 rows at any scale. Unlike q132 no sketch
    * is involved — equi-width needs only the exact extrema, which is
    * why it's the cheap first-look histogram.
    */
  def q154EquiwidthHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100).cast("long").as("c"))
    val mm = x.agg(min($"c").as("lo"), max($"c").as("hi"))
    x.crossJoin(broadcast(mm))
      .withColumn("w", expr("(hi - lo) div 20 + 1"))
      .withColumn("band", expr("(c - lo) div w"))
      .groupBy($"band", expr("lo + band * w").as("lo_edge"))
      .agg(count(lit(1)).as("n"), sum($"c").as("sum_cents"))
      .orderBy($"band")
  }

  val q154Sql: String =
    """WITH x AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |           FROM orders),
      |mm AS (SELECT CAST(min(c) AS BIGINT) AS lo, CAST(max(c) AS BIGINT) AS hi
      |       FROM x),
      |b AS (SELECT (c - lo) // ((hi - lo) // 20 + 1) AS band,
      |             lo, (hi - lo) // 20 + 1 AS w, c
      |      FROM x, mm)
      |SELECT CAST(band AS BIGINT) AS band,
      |       CAST(lo + band * w AS BIGINT) AS lo_edge,
      |       count(*) AS n, CAST(sum(c) AS BIGINT) AS sum_cents
      |FROM b GROUP BY 1, 2 ORDER BY band""".stripMargin

  /** q175 — deterministic jackknife variance of the mean order value:
    * uncertainty quantification WITHOUT randomness — the 16
    * delete-one-group estimates come from the deterministic
    * `substr(md5(orderkey),1,1)` slicing (the q97 hash-slice
    * discipline), so the variance is reproducible bit-for-bit. Each
    * leave-one-out mean is frozen to exact MILLI-cents
    * (`(tot−sum_g)·10³ div (n−n_g)`, positive so `div`/`//` agree —
    * first cut froze to micro and Σdev² overflowed BIGINT in BOTH
    * engines at sf0.01); their spread `(g−1)/g · Σ(mean_g − mean_bar)²`
    * is accumulated in DECIMAL(38,0)/HUGEINT. The oracle
    * recomputes the identical frozen pipeline — and q175's value is
    * the OPERATOR: the error bar a data steward attaches to any
    * whole-corpus scalar, at one aggregate's cost.
    *
    * Scale shape: one map-side-combinable aggregate to the 16-row
    * slice relation; everything after is arithmetic on those 16 rows
    * broadcast against the one-row total.
    */
  def q175JackknifeVariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slices = Tables.orders(spark, dir)
      .select(substring(md5($"o_orderkey".cast("string")), 1, 1).as("g"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n_g"), sum($"cents").as("sum_g"))
    val tot = slices.agg(sum($"n_g").as("n"), sum($"sum_g").as("tot"),
      count(lit(1)).as("n_slices"))
    val loo = slices.crossJoin(broadcast(tot))
      .withColumn("mean_g_milli",
        expr("(tot - sum_g) * 1000 div (n - n_g)"))
    val bar = loo.agg(sum($"mean_g_milli").as("s"), count(lit(1)).as("g"))
      .select(expr("s div g").as("mean_bar_milli"))
    loo.crossJoin(broadcast(bar))
      .withColumn("dev",
        ($"mean_g_milli" - $"mean_bar_milli")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .groupBy($"n", $"tot", $"n_slices")
      .agg(sum($"dev" * $"dev").as("ss"))
      .select($"n".as("n_orders"), $"tot".as("total_cents"),
        expr("tot * 1000000 div n").as("mean_micro"),
        expr("CAST((n_slices - 1) * ss div n_slices AS BIGINT)")
          .as("jk_var_milli2"))
  }

  val q175Sql: String =
    """WITH s AS (
      |  SELECT substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS g,
      |         CAST(count(*) AS BIGINT) AS n_g,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS sum_g
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(sum_g) AS BIGINT)
      |        AS tot, CAST(count(*) AS BIGINT) AS n_slices FROM s),
      |loo AS (SELECT s.g, (t.tot - s.sum_g) * 1000 // (t.n - s.n_g)
      |          AS mean_g_milli
      |        FROM s, t),
      |b AS (SELECT CAST(sum(mean_g_milli) AS BIGINT) // count(*)
      |        AS mean_bar_milli FROM loo)
      |SELECT t.n AS n_orders, t.tot AS total_cents,
      |       t.tot * 1000000 // t.n AS mean_micro,
      |       CAST((t.n_slices - 1) *
      |         sum(CAST(loo.mean_g_milli - b.mean_bar_milli AS HUGEINT)
      |           * (loo.mean_g_milli - b.mean_bar_milli))
      |         // t.n_slices AS BIGINT) AS jk_var_milli2
      |FROM loo, b, t
      |GROUP BY t.n, t.tot, t.n_slices""".stripMargin

  /** q177 — revenue bridge (price/volume waterfall): the FP&A
    * decomposition of per-brand revenue change between two periods
    * (ship years ≤1997 vs ≥1998) into a volume effect at old prices
    * plus a price effect, in exact milli-cents: `volume =
    * Δqty·rev_A div qty_A` (Δqty·rev_A widened to
    * DECIMAL(38,0)/HUGEINT — it crosses BIGINT near sf1 — and
    * SIGN-SPLIT because Δqty goes negative and Spark `div` truncates
    * where DuckDB `//` floors, the q152 class), and `price =
    * Δrev·10³ − volume` BY CONSTRUCTION — the residual assignment
    * makes additivity (volume + price = Δrev·10³) an identity, not a
    * rounding hope, and the spec pins it. Quantities are frozen to
    * centi-units at the leaf.
    *
    * Scale shape: one map-side-combinable aggregate per period over
    * the fact (period = pushed-down year predicate), joined on the
    * ~25-row brand dimension; all bridge arithmetic runs on that tiny
    * relation.
    */
  def q177RevenueBridge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def period(lo: Boolean): DataFrame = {
      val pred = if (lo) expr("year(CAST(l_shipdate AS DATE)) <= 1997")
      else expr("year(CAST(l_shipdate AS DATE)) >= 1998")
      val tag = if (lo) "a" else "b"
      Tables.lineitem(spark, dir).filter(pred)
        .join(broadcast(Tables.part(spark, dir)),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand".as("brand"))
        .agg(sum(round($"l_extendedprice" * 100).cast("long")).as(s"rev_$tag"),
          sum(round($"l_quantity" * 100).cast("long")).as(s"qty_$tag"))
    }
    period(lo = true).join(period(lo = false), "brand")
      .withColumn("num",
        expr("(CAST(qty_b AS DECIMAL(38,0)) - qty_a) * rev_a * 1000"))
      .withColumn("volume_effect_milli",
        expr("""CAST(CASE WHEN num < 0 THEN -((-num) div CAST(qty_a AS DECIMAL(38,0)))
                          ELSE num div CAST(qty_a AS DECIMAL(38,0)) END AS BIGINT)"""))
      .select($"brand", $"rev_a", $"rev_b", $"qty_a", $"qty_b",
        (($"rev_b" - $"rev_a") * 1000).as("delta_milli"),
        $"volume_effect_milli",
        (($"rev_b" - $"rev_a") * 1000 - $"volume_effect_milli")
          .as("price_effect_milli"))
      .orderBy($"brand")
  }

  val q177Sql: String =
    """WITH a AS (
      |  SELECT p_brand AS brand,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_a,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_a
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE year(CAST(l_shipdate AS DATE)) <= 1997 GROUP BY 1),
      |b AS (
      |  SELECT p_brand AS brand,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_b,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE year(CAST(l_shipdate AS DATE)) >= 1998 GROUP BY 1),
      |j AS (SELECT a.brand, rev_a, rev_b, qty_a, qty_b,
      |        (CAST(qty_b AS HUGEINT) - qty_a) * rev_a * 1000 AS num
      |      FROM a JOIN b ON a.brand = b.brand)
      |SELECT brand, rev_a, rev_b, qty_a, qty_b,
      |       (rev_b - rev_a) * 1000 AS delta_milli,
      |       CAST(CASE WHEN num < 0 THEN -((-num) // CAST(qty_a AS HUGEINT))
      |                 ELSE num // CAST(qty_a AS HUGEINT) END AS BIGINT)
      |         AS volume_effect_milli,
      |       (rev_b - rev_a) * 1000
      |         - CAST(CASE WHEN num < 0 THEN -((-num) // CAST(qty_a AS HUGEINT))
      |                     ELSE num // CAST(qty_a AS HUGEINT) END AS BIGINT)
      |         AS price_effect_milli
      |FROM j ORDER BY brand""".stripMargin

  /** q186 — RFM (recency / frequency / monetary) segmentation: every
    * ordering customer scored 1–5 on each axis against EXACT quintile
    * cut points, rolled up to the RFM-cell census (≤125 rows) with
    * custkey-sum checksums so CELL MEMBERSHIP — not just cell sizes —
    * crosses the driver's hash gate. The classic CRM/marketing
    * segmentation (Hughes), done with the house exactness discipline:
    *
    *  - per-customer metrics in pure integers (recency = max epoch day,
    *    frequency = order count, monetary = Σ cents);
    *  - each axis's four cut points (20/40/60/80%) are EXACT low order
    *    statistics — min v with cum·5 ≥ n·k — by [[OpUtils.exactCuts]]
    *    (per-axis magnitude buckets, windows bounded by the bucket,
    *    never a global sort and never a percentile buffer);
    *  - scores are `1 + Σ [v > cut_k]`: pure integer comparisons, so
    *    heavy ties (frequency takes ~40 distinct values) collapse into
    *    the same score DETERMINISTICALLY in both engines.
    *
    * Scale shape: one custkey hash aggregate, three distinct-value
    * prefix scans (each bounded by its value domain, frequency's is
    * tiny), one broadcast of the 1-row cut relation, one ≤125-group
    * rollup. The oracle computes the same rank definition via DuckDB's
    * direct ordered window over distinct values — the q117
    * two-mechanisms discipline.
    */
  def q186RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.orders(spark, dir)
      .select($"o_custkey",
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")
          .as("day"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"o_custkey")
      .agg(max($"day").as("rec"), count(lit(1)).as("frq"),
        sum($"cents").as("mon"))
      .localCheckpoint() // feeds three cut scans + the scoring pass
    // exact 20/40/60/80% cut points of one metric column; 1 row (c1..c4)
    def cuts(metric: String, bktDiv: Long): DataFrame =
      OpUtils.exactCuts(m.select(col(metric).as("v")), Nil, "v", expr(s"v div $bktDiv"),
          (1L to 4L).map(k => (s"${metric}_c$k", k, 5L)): _*)
        .drop("n")
    def score(v: Column, pfx: String): Column =
      lit(1L) +
        when(v > col(s"${pfx}_c1"), 1L).otherwise(0L) +
        when(v > col(s"${pfx}_c2"), 1L).otherwise(0L) +
        when(v > col(s"${pfx}_c3"), 1L).otherwise(0L) +
        when(v > col(s"${pfx}_c4"), 1L).otherwise(0L)
    m.crossJoin(broadcast(
        cuts("rec", 64L).crossJoin(cuts("frq", 8L)).crossJoin(cuts("mon", 1000000L))))
      .select($"o_custkey",
        score($"rec", "rec").as("r"), score($"frq", "frq").as("f"),
        score($"mon", "mon").as("mv"))
      .groupBy($"r", $"f", $"mv")
      .agg(count(lit(1)).as("n_customers"), sum($"o_custkey").as("cust_checksum"))
      .select(($"r" * 100 + $"f" * 10 + $"mv").as("rfm_cell"),
        $"r", $"f", $"mv".as("m"), $"n_customers", $"cust_checksum")
      .orderBy($"rfm_cell")
  }

  val q186Sql: String =
    """WITH m AS (
      |  SELECT o_custkey,
      |    CAST(max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT)
      |      AS rec,
      |    CAST(count(*) AS BIGINT) AS frq,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS mon
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
      |rc AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      |       FROM (SELECT rec AS v FROM m) GROUP BY v),
      |fc AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      |       FROM (SELECT frq AS v FROM m) GROUP BY v),
      |mc AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      |       FROM (SELECT mon AS v FROM m) GROUP BY v),
      |cuts AS (SELECT
      |    (SELECT min(v) FROM rc, n WHERE cum * 5 >= n * 1) AS rec_c1,
      |    (SELECT min(v) FROM rc, n WHERE cum * 5 >= n * 2) AS rec_c2,
      |    (SELECT min(v) FROM rc, n WHERE cum * 5 >= n * 3) AS rec_c3,
      |    (SELECT min(v) FROM rc, n WHERE cum * 5 >= n * 4) AS rec_c4,
      |    (SELECT min(v) FROM fc, n WHERE cum * 5 >= n * 1) AS frq_c1,
      |    (SELECT min(v) FROM fc, n WHERE cum * 5 >= n * 2) AS frq_c2,
      |    (SELECT min(v) FROM fc, n WHERE cum * 5 >= n * 3) AS frq_c3,
      |    (SELECT min(v) FROM fc, n WHERE cum * 5 >= n * 4) AS frq_c4,
      |    (SELECT min(v) FROM mc, n WHERE cum * 5 >= n * 1) AS mon_c1,
      |    (SELECT min(v) FROM mc, n WHERE cum * 5 >= n * 2) AS mon_c2,
      |    (SELECT min(v) FROM mc, n WHERE cum * 5 >= n * 3) AS mon_c3,
      |    (SELECT min(v) FROM mc, n WHERE cum * 5 >= n * 4) AS mon_c4),
      |sc AS (SELECT o_custkey,
      |    1 + CASE WHEN rec > rec_c1 THEN 1 ELSE 0 END
      |      + CASE WHEN rec > rec_c2 THEN 1 ELSE 0 END
      |      + CASE WHEN rec > rec_c3 THEN 1 ELSE 0 END
      |      + CASE WHEN rec > rec_c4 THEN 1 ELSE 0 END AS r,
      |    1 + CASE WHEN frq > frq_c1 THEN 1 ELSE 0 END
      |      + CASE WHEN frq > frq_c2 THEN 1 ELSE 0 END
      |      + CASE WHEN frq > frq_c3 THEN 1 ELSE 0 END
      |      + CASE WHEN frq > frq_c4 THEN 1 ELSE 0 END AS f,
      |    1 + CASE WHEN mon > mon_c1 THEN 1 ELSE 0 END
      |      + CASE WHEN mon > mon_c2 THEN 1 ELSE 0 END
      |      + CASE WHEN mon > mon_c3 THEN 1 ELSE 0 END
      |      + CASE WHEN mon > mon_c4 THEN 1 ELSE 0 END AS m
      |  FROM m, cuts)
      |SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_cell,
      |       CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
      |       CAST(m AS BIGINT) AS m,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(o_custkey) AS BIGINT) AS cust_checksum
      |FROM sc GROUP BY 1, 2, 3, 4
      |ORDER BY rfm_cell""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_rfm_segments" -> (q186RfmSegments _),
    "q198_theil_sen" -> (q198TheilSen _),
    "q177_revenue_bridge" -> (q177RevenueBridge _),
    "q175_jackknife_variance" -> (q175JackknifeVariance _),
    "q154_equiwidth_hist" -> (q154EquiwidthHist _),
    "q152_segment_trend" -> (q152SegmentTrend _),
    "q146_percent_of_parent" -> (q146PercentOfParent _),
    "q132_equidepth_bins" -> (q132EquidepthBins _),
    "q122_modal_priority" -> (q122ModalPriority _),
    "q38_cube" -> (q38Cube _),
    "q39_grouping_sets" -> (q39GroupingSets _),
    "q40_percentiles" -> (q40Percentiles _),
    "q41_correlated_subquery" -> (q41CorrelatedSubquery _),
    "q42_approx_distinct" -> (q42ApproxDistinct _),
    "q43_range_join" -> (q43RangeJoin _),
    "q44_rank_variants" -> (q44RankVariants _),
    "q45_json_map" -> (q45JsonMap _),
    "q96_distinct_sketch" -> (q96DistinctSketch _),
    "q97_distinct_calibration_slice" -> (q97DistinctCalibrationSlice _),
    "q99_percentile_sketch" -> (q99PercentileSketch _),
    "q100_percentile_calibration_slice" -> (q100PercentileCalibrationSlice _),
    "q104_recursive_spine" -> (q104RecursiveSpine _),
    "q105_heavy_hitters" -> (q105HeavyHitters _),
    "q106_sketch_rollup" -> (q106SketchRollup _),
    "q107_unpivot" -> (q107Unpivot _),
    "q108_lateral_top_orders" -> (q108LateralTopOrders _))

  val oracleSql: Map[String, String] = Map(
    "q186_rfm_segments" -> q186Sql,
    "q198_theil_sen" -> q198Sql,
    "q177_revenue_bridge" -> q177Sql,
    "q175_jackknife_variance" -> q175Sql,
    "q154_equiwidth_hist" -> q154Sql,
    "q152_segment_trend" -> q152Sql,
    "q146_percent_of_parent" -> q146Sql,
    "q132_equidepth_bins" -> q132Sql,
    "q122_modal_priority" -> q122Sql,
    "q42_approx_distinct" -> q42Sql,
    "q97_distinct_calibration_slice" -> q97Sql,
    "q38_cube" -> q38Sql,
    "q39_grouping_sets" -> q39Sql,
    "q40_percentiles" -> q40Sql,
    "q41_correlated_subquery" -> q41Sql,
    "q43_range_join" -> q43Sql,
    "q44_rank_variants" -> q44Sql,
    "q45_json_map" -> q45Sql,
    "q96_distinct_sketch" -> q96Sql,
    "q99_percentile_sketch" -> q99Sql,
    "q100_percentile_calibration_slice" -> q100Sql,
    "q104_recursive_spine" -> q104Sql,
    "q105_heavy_hitters" -> q105Sql,
    "q106_sketch_rollup" -> q106Sql,
    "q107_unpivot" -> q107Sql,
    "q108_lateral_top_orders" -> q108Sql)
}
