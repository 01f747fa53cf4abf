package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression tests: the properties that matter at 100 TB must
  * stay in the physical plan — pushed filters, pruned scans, broadcast
  * dimensions, top-k without a full sort, codegen'd kernels.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  /** Post-execution plan: runs the query so AQE finalizes its runtime
    * join/coalesce decisions, then explains the adaptive result.
    */
  private def runtimePlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.count()
    df.queryExecution.explainString(FormattedMode)
  }

  test("q1: shipdate filter pushed to parquet, columns pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
  }

  test("q2: all predicates pushed") {
    val p = plan("q2_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"))
    assert(p.contains("LessThan(l_discount,0.03)"))
  }

  test("q3: top-k plans as TakeOrderedAndProject, customer broadcast") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q5: star join broadcasts dimensions") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q4: semi join stays a semi join") {
    val p = plan("q4_semi_join_exists")
    assert(p.contains("LeftSemi"))
  }

  test("q7: anti join stays an anti join") {
    val p = plan("q7_customers_without_orders")
    assert(p.contains("LeftAnti"))
  }

  test("q34: native cosine kernel, bounded-state top-k agg, no corpus window sort") {
    val p = plan("q34_cosine_topk")
    assert(p.contains("cosinesimilarity"))
    // per-query top-5 runs through the TopKByScore aggregator with a
    // partial (map-side) phase — the shuffle carries <=5 rows per query
    // per partition, never the scored corpus
    assert(p.contains("partial_topkbyscore"),
      "map-side partial top-k aggregation must be in the plan")
    // the old shape — shuffle all scored rows to a per-query partition
    // and window-sort there — must be gone
    assert(!p.contains("WindowGroupLimit") && !p.contains("RunningWindowFunction"),
      "q34 must not window-sort the scored corpus")
    // the query panel is a bounded TakeOrdered selection, not a sort
    assert(p.contains("TakeOrderedAndProject"),
      "panel selection must plan as bounded top-K")
  }

  test("q68: vocabulary rank is two-stage — no partition-less window over a data-sized relation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // The global rank/prefix-sum must range-partition the vocabulary and
    // rank per-partition; the ONLY partition-less windows allowed are the
    // offset merges over the per-partition-id aggregate, whose row count
    // is the partition count (configuration-sized, not data-sized).
    val df = SparkEntry.queries("q68_vocab_coverage")(spark, sfDir)
    val offenders = df.queryExecution.analyzed.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
          !w.child.exists {
            case a: Aggregate =>
              a.groupingExpressions.exists(_.references.exists(_.name == "pid"))
            case _ => false
          } => w
    }
    assert(offenders.isEmpty,
      s"data-sized relation funnels through a single-partition window:\n$offenders")
    // and a per-partition ranking window IS present
    val partitioned = df.queryExecution.analyzed.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w
    }
    assert(partitioned.nonEmpty, "expected the pid-partitioned local rank window")
  }

  test("q96: sketch-only distinct rollup plans without an Expand") {
    // q42 (the calibration form) pays an Expand to compute two exact
    // COUNT(DISTINCT)s — the cost that dominates at 100 TB. The
    // production q96 must stay one pass over fixed-width HLL buffers.
    val p96 = plan("q96_distinct_sketch")
    assert(!p96.contains("Expand"),
      "sketch-only rollup must not expand the input for exact distincts")
    val p42 = plan("q42_approx_distinct")
    assert(p42.contains("Expand"),
      "calibration form is EXPECTED to pay the exact-distinct expand " +
        "(if this stops holding, re-check q96's cost rationale)")
  }

  test("q99: production percentile rollup plans sketch-only — no full-group value buffer") {
    // q40's exact Percentile aggregate buffers every group value in
    // executor memory (the one aggregation shape that cannot survive a
    // 100x group). The production q99 must carry ONLY the bounded-memory
    // GK sketch (ApproximatePercentile) plus plain count/sum aggregates.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Percentile}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def aggExprs(name: String) =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.collect {
        case a: Aggregate => a.aggregateExpressions.flatMap(_.collect {
          case p: Percentile => p
          case ap: ApproximatePercentile => ap
        })
      }.flatten
    val q99 = aggExprs("q99_percentile_sketch")
    assert(q99.exists(_.isInstanceOf[ApproximatePercentile]),
      "q99 must aggregate through the bounded-memory GK sketch")
    assert(!q99.exists(_.isInstanceOf[Percentile]),
      "q99 must not plan the full-group-buffer exact Percentile")
    // and the baseline is EXPECTED to keep the exact form (if this stops
    // holding, re-check q99's cost rationale)
    assert(aggExprs("q40_percentiles").exists(_.isInstanceOf[Percentile]))
  }

  test("q108: lateral subquery decorrelates — per-key limit, no per-row re-scan") {
    val p = plan("q108_lateral_top_orders")
    // Catalyst must rewrite the correlated LATERAL (ORDER BY + LIMIT per
    // customer) into the window-top-N shape: a WindowGroupLimit with a
    // map-side partial, ONE exchange on the correlation key, and a hash
    // join against customer — never a nested-loop/cartesian per-row
    // re-execution of the subquery.
    assert(p.contains("WindowGroupLimit"),
      "decorrelated per-key limit missing from the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lateral must not plan as a per-row re-scan")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("q75: pair comparison is a label equi-join, verdict join broadcasts") {
    val p = plan("q75_semantic_dedup")
    // all-pairs only WITHIN a cluster: the pair stage must hash-join on
    // the label key, never cross the whole table
    assert(!p.contains("CartesianProduct"), "pair stage must not be all-pairs")
    assert(p.contains("cosinesimilarity"), "native codegen kernel in plan")
    assert(p.contains("BroadcastHashJoin"), "verdict left join must broadcast drops")
  }

  test("q76: type-scoring join broadcasts the vocab table") {
    val p = plan("q76_unigram_nll")
    // the frozen surprisal table is vocabulary-sized (Heaps'-law small);
    // it must be the broadcast build side, with the doc-term counts
    // streaming through — never a shuffle of the corpus against it
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q78: windows consume the per-source aggregate, never the corpus") {
    val p = plan("q78_temperature_mix")
    val w = p.indexOf("Window")
    val a = p.indexOf("HashAggregate")
    assert(w >= 0 && a >= 0 && w < a,
      "q78 normalizing windows must sit above the source aggregate")
  }

  test("q79: leakage probe joins on the shingle key") {
    val p = plan("q79_split_leakage")
    assert(!p.contains("CartesianProduct"))
    // two-level aggregate with map-side combine for the per-doc counts
    assert(p.contains("partial_count") || p.contains("HashAggregate"))
  }

  test("q84: bounded tables broadcast; the vocab join is unhinted (AQE decides)") {
    val p = plan("q84_source_kl")
    // the corpus-sized (source, tok) relation must stream; the #sources
    // table is a hinted broadcast build side
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // the vocab-sized type join must NOT be a forced broadcast: at the
    // 100 TB design point a hint would OOM instead of degrading to a
    // shuffle join; AQE converts it to broadcast at runtime while small
    val r = runtimePlan("q84_source_kl")
    assert(r.contains("AQEShuffleRead") || r.contains("BroadcastHashJoin"),
      "AQE should pick the join strategy for the vocab table at runtime")
  }

  test("q85: top-50 selection plans as TakeOrderedAndProject, vocab unhinted") {
    val p = plan("q85_importance_weights")
    // never a global sort of the corpus for a top-k selection
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q86: span-novelty join is keyed, never all-pairs") {
    val p = plan("q86_doc_novelty")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"))
  }

  test("q90: PSI window consumes the bucket aggregate, never the corpus") {
    val p = plan("q90_length_drift")
    val w = p.indexOf("Window")
    val a = p.indexOf("HashAggregate")
    assert(w >= 0 && a >= 0 && w < a,
      "the unpartitioned PSI-total window must sit above the <=10-row bucket aggregate")
  }

  test("q95: correlation scoring joins are keyed, vocab join unhinted") {
    val p = plan("q95_quality_nll_correlation")
    assert(!p.contains("CartesianProduct"))
    // scoring join is unhinted: AQE broadcasts the vocab table at this
    // size (runtime plan), and would shuffle-join past the threshold
    val r = runtimePlan("q95_quality_nll_correlation")
    assert(r.contains("BroadcastHashJoin"),
      "AQE should broadcast the small vocab table at fixture SF")
  }

  test("q87: source attachment joins on doc_id, never all-pairs") {
    val p = plan("q87_neardup_source_matrix")
    assert(!p.contains("CartesianProduct"))
  }

  test("indexed near-dup probe: stores only scanned, batch broadcast, no corpus-shuffle join") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_plan")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    def docs(ds: (Long, String)*) =
      ds.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.streaming.NearDupIndex.admitBatch(
      docs(1L -> toks("a", 40), 2L -> toks("b", 40)), corpus, indexDir)
    val p = graft.streaming.NearDupIndex.batchProbePlan(
      spark, indexDir, docs(3L -> (toks("a", 39) + " zz")))
      .queryExecution.explainString(FormattedMode)
    // every corpus-sided join must broadcast the batch-derived side: the
    // persisted px/docs stores are SCANNED, never shuffled — the
    // property that bounds per-batch cost by batch + candidates
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join would shuffle the corpus-sized index store per batch")
    assert(!p.contains("ShuffledHashJoin"),
      "a shuffled hash join would shuffle the corpus-sized index store per batch")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("intersectcountsortedlong"),
      "verification must use the codegen merge-intersection kernel")
  }

  test("custom expressions are codegen-capable (not CodegenFallback)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val lit = Literal.create(Array(1f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    assert(!graft.functions.CosineSimilarity(lit, lit).isInstanceOf[CodegenFallback])
    val litL = Literal.create(Array(1L), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    assert(!graft.functions.IntersectCountSortedLong(litL, litL).isInstanceOf[CodegenFallback])
    val litS = Literal.create("x", org.apache.spark.sql.types.StringType)
    assert(!graft.functions.Md5Prefix60(litS).isInstanceOf[CodegenFallback])
  }

  test("aggregations use partial (map-side) aggregation") {
    val p = plan("q1_pricing_summary")
    // two HashAggregate nodes around one exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q32: simhash candidates come from an equi-join, never a nested loop") {
    val p = plan("q32_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin"), "all-pairs scan crept back in")
    assert(!p.contains("CartesianProduct"))
  }

  // q31/q47 are memoized heads (their declared plan is a checkpoint
  // leaf after first touch), so the shape pins target the unmemoized
  // pipeline views — the live plan above the shared hx leaf.
  test("q31: minhash candidate join is a single equi-join (no per-band branches)") {
    val p = graft.operators.Dedup.q31PairsPipeline(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // one exploded band join, not 8 union'd branches
    assert("Generate explode".r.findAllIn(p).length <= 2)
  }

  test("q47: prefix-filtered jaccard joins on shingles, verifies with the kernel") {
    val p = graft.operators.Dedup.invertedPairsPipeline(spark, sfDir, 0.7)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("intersectcountsortedlong"),
      "verification must use the codegen merge-intersection kernel")
  }

  test("q48: IVF candidates from pivot equi-join; only the verify stage uses the kernel") {
    // memoized head presents as a checkpoint leaf — pin the pipeline view
    // of the scored candidates it reads, with q48's cut
    val p = graft.operators.Similarity.ivfCandScoredPipeline(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("cs") >= 0.45)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"))
    // the n x C assignment cross join IS expected (C is a constant); the
    // pair join must be an equi (hash) join on p_id
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("q60/q62: release-prep and chunking stay pure map + generate") {
    Seq("q60_pseudonymize", "q62_chunk_docs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join")
      assert(!p.contains("HashAggregate"), s"$q must not aggregate")
      // exactly two exchanges: the harness single-row-group repartition
      // and the declared output ordering — nothing else may shuffle
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
      assert(exchanges == 2, s"$q expected 2 exchanges, got $exchanges:\n$p")
    }
  }

  test("q59: bloom prefilter feeds an anti join, near-dup stage stays equi") {
    val p = plan("q59_incremental_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "exact confirm must be an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q58: repetition metrics pre-aggregate map-side, single scan, no join") {
    val p = plan("q58_repetition_metrics")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "token counts must partial-aggregate before the shuffle")
    assert(!p.contains("Join"), "trigram metrics ride the token relation")
    // count detail headers, not tree lines: each node prints twice
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, "one documents scan only")
  }

  test("q63: manifest composition introduces no nested-loop pair scans") {
    val p = plan("q63_training_manifest")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"), "drop stages must be anti joins")
  }

  test("q64: quantization is one partial-aggregated pass") {
    val p = plan("q64_quantize_embeddings")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
    assert(!p.contains("Join"))
  }

  test("runtime bloom-filter pruning injects on a selective shuffle join") {
    // At 100 TB a selective dim filter should prune the fact scan at
    // RUNTIME via an injected bloom filter (InjectRuntimeFilter), not
    // only after the shuffle. Local fixtures are below the default size
    // thresholds, so lower them to what a cluster would see relative to
    // its data; force the shuffle-join path (runtime filters don't apply
    // to broadcast joins, which prune via reused exchange instead).
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.Tables.lineitem(spark, sfDir)
      val o = graft.sources.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "expected an injected runtime bloom filter on the fact side:\n" +
          p.linesIterator.take(25).mkString("\n"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q139: six-table market share broadcasts dims, no nested loop; shares sum to ~10000 bp") {
    val df = graft.operators.Relational.q139MarketShare(spark, sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      "fixed-size dims (nation/region) and the years-sized totals must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val perYear = df.collect()
      .groupBy(_.getAs[Long]("o_year"))
      .view.mapValues(rs => (rs.map(_.getAs[Long]("share_bp")).sum, rs.length)).toMap
    perYear.foreach { case (y, (bp, n)) =>
      assert(bp <= 10000 && bp > 10000 - n,
        s"year $y: floor shares must sum into (10000-$n, 10000], got $bp")
    }
  }

  test("q172/q173: set algebra and presence masks replay from a driver-side fold") {
    import org.apache.spark.sql.functions.col
    val rows = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def cohort(p: String) = rows.filter(_._2 == p).map(_._1).toSet
    val (a, b, c) = (cohort("1-URGENT"), cohort("2-HIGH"), cohort("3-MEDIUM"))
    val r = SparkEntry.queries("q172_inclusion_exclusion")(spark, sfDir)
      .collect()(0)
    assert(r.getAs[Long]("n_a") == a.size && r.getAs[Long]("n_b") == b.size &&
      r.getAs[Long]("n_c") == c.size)
    assert(r.getAs[Long]("n_ab") == (a & b).size)
    assert(r.getAs[Long]("n_abc") == (a & b & c).size)
    assert(r.getAs[Long]("union_direct") == (a | b | c).size)
    assert(r.getAs[Long]("union_ie") == r.getAs[Long]("union_direct"))
    assert(r.getAs[Boolean]("ie_holds"))
    assert((a & b).nonEmpty && (a | b | c).size < rows.map(_._1).distinct.length + 1,
      "cohorts must overlap non-trivially for the audit to bite")

    val bitOf = Map("1-URGENT" -> 1, "2-HIGH" -> 2, "3-MEDIUM" -> 4,
      "4-NOT SPECIFIED" -> 8).withDefaultValue(16)
    val masks = rows.groupBy(_._1).values
      .map(_.map(x => bitOf(x._2)).reduce(_ | _))
    val exp = masks.groupBy(identity).map { case (m, xs) =>
      m.toLong -> xs.size.toLong }
    val got = SparkEntry.queries("q173_presence_mask")(spark, sfDir).collect()
      .map(x => x.getAs[Long]("mask") ->
        ((x.getAs[Long]("n_priorities"), x.getAs[Long]("n_customers")))).toMap
    assert(got.view.mapValues(_._2).toMap == exp, s"got $got expected $exp")
    got.foreach { case (m, (np, _)) =>
      assert(np == java.lang.Long.bitCount(m).toLong)
    }
  }

  test("q178: the range twin pushes to the scan; the year() twin cannot") {
    val r = SparkEntry.queries("q178_sargability_twin")(spark, sfDir).collect()(0)
    assert(r.getAs[Boolean]("rewrite_equivalent"),
      "the sargable rewrite must be value-identical")
    assert(r.getAs[Long]("n_fn") > 0)
    val range = graft.operators.Relational.q178RangeAgg(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    val fn = graft.operators.Relational.q178YearFnAgg(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(range.contains("GreaterThanOrEqual(o_orderdate"),
      "half-open range must reach the parquet scan as a pushed filter")
    assert(!fn.contains("GreaterThanOrEqual(o_orderdate"),
      "year() over the column must NOT be pushable — that asymmetry is the lesson")
  }

  test("q170: NOT IN with a NULL plans null-aware and the identities hold") {
    val r = SparkEntry.queries("q170_null_semantics")(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_not_in_clean") > 0,
      "probe list must exclude some customers or the audit is vacuous")
    assert(r.getAs[Long]("n_not_in_null") == 0L,
      "a NULL in the NOT IN list must poison every non-member to UNKNOWN")
    assert(r.getAs[Long]("n_not_exists") == r.getAs[Long]("n_not_in_clean"),
      "NOT EXISTS equality correlation must ignore the NULL")
    assert(r.getAs[Boolean]("null_poisons_not_in"))
    assert(r.getAs[Boolean]("not_exists_ignores_null"))
    // the poisoned variant requires the null-aware anti-join machinery —
    // a plain LeftAnti would silently return the clean count. The audit
    // query hides its joins inside scalar Subquery nodes (which formatted
    // explain does not inline), so pin the shape on the standalone form;
    // the temp views are registered by the query call above.
    val p = spark.sql(
      """SELECT COUNT(*) FROM graft_q170_customer
        |WHERE c_nationkey NOT IN (
        |  SELECT CASE WHEN n_nationkey % 5 = 2 THEN NULL
        |              ELSE n_nationkey END
        |  FROM graft_q170_nation WHERE n_nationkey < 12)""".stripMargin)
      .queryExecution.executedPlan.toString
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as the
    // trailing boolean: "LeftAnti, BuildRight, true"
    assert(p.contains("LeftAnti, BuildRight, true"),
      "NOT IN against a nullable subquery must plan a null-aware anti join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("prefix-scan callers never sort a data-sized relation globally") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // Every OpUtils.prefixSums / exactCuts caller windows per bucket; the
    // only partition-less windows allowed are the bucket-offset prefix
    // sums over the per-bucket aggregate (bucket-count-sized, not
    // data-sized).
    val callers = Seq("q115_pps_sample", "q136_sorted_neighborhood",
      "q151_gini_concentration", "q155_weighted_median", "q161_mad_dispersion",
      "q162_iqr_outliers", "q174_pareto_cut", "q184_robust_means",
      "q186_rfm_segments", "q195_quality_calibration", "q196_convert_quartiles",
      "q198_theil_sen", "q201_exact_auc", "q218_quantile_normalize")
    for (name <- callers) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val offenders = df.queryExecution.analyzed.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          !w.child.exists {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
              a.groupingExpressions.exists(_.references.exists(_.name == "bkt"))
            case _ => false
          } => w
      }
      assert(offenders.isEmpty,
        s"$name: a data-sized relation funnels through one window:\n$offenders")
    }
    val p = plan("q186_rfm_segments")
    assert(!p.contains("Percentile"),
      "cuts must come from rank arithmetic, never a percentile buffer")
  }

  test("q188/q190: LM scoring and entropy census plan window-free") {
    // Both are pure aggregate pipelines: corpus tables + one hash agg.
    // A window sneaking in would mean a per-group sort of a data-sized
    // relation.
    Seq("q188_bigram_nll", "q190_entropy_census").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not plan a window")
      assert(p.contains("HashAggregate"), s"$q should hash-aggregate")
    }
  }

  /** The windows of query `name` that sit above neither a LIMIT nor the
    * checkpointed BM25 memo pool (itself limit-20 by construction).
    */
  private def unboundedWindows(name: String) = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.collect {
      case w: LWindow if !w.child.exists {
        case _: GlobalLimit => true
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.output.exists(_.name == "score") // the memoized q131 pool
        case _ => false
      } => w
    }
  }

  test("q185: fusion arms are bounded before the join — no corpus-sized window") {
    // the semantic arm ranks through the bounded-state TopKByScore
    // aggregator, never a window over the corpus
    val unbounded = unboundedWindows("q185_hybrid_rrf")
    assert(unbounded.isEmpty,
      s"window over an unbounded relation in the fusion plan:\n$unbounded")
    val p = plan("q185_hybrid_rrf")
    assert(p.contains("TopKByScore") || p.contains("topkbyscore"),
      "semantic arm must rank via the bounded-state aggregator")
  }

  test("q223: the lexical rank window runs over the memoized BM25 pool") {
    val unbounded = unboundedWindows("q223_rank_overlap")
    assert(unbounded.isEmpty,
      s"window over an unbounded relation in the rank-overlap plan:\n$unbounded")
  }

  test("q205: the stats aggregate is answered from parquet footers") {
    val p = plan("q205_footer_stats")
    assert(p.contains("PushedAggregation"),
      s"expected the count/min/max to push into the parquet scan:\n$p")
    assert(p.contains("COUNT(*)") && p.contains("MIN(l_orderkey)"),
      s"pushed aggregate list incomplete:\n$p")
  }

  test("q209: bucketed tables join without a join-key shuffle") {
    val p = plan("q209_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      "broadcast is disabled on the clone — the join must be sort-merge")
    assert(p.contains("Bucketed: true"),
      s"scans must consume the on-disk bucketing:\n$p")
    assert(!p.contains("hashpartitioning(o_orderkey") &&
      !p.contains("hashpartitioning(l_orderkey"),
      "the bucket-co-located join must not shuffle on the join key")
  }

  test("q214: the day-scoped read prunes lake partitions at planning time") {
    val p = plan("q214_partition_pruned_lake")
    // the day predicates must land in PartitionFilters (directory
    // pruning), NOT as row-level PushedFilters over data pages
    val scanSection = p.split("PartitionFilters:")
    assert(scanSection.length > 1, s"no PartitionFilters in the scan:\n$p")
    assert(scanSection(1).takeWhile(_ != '\n').contains("day"),
      "day bounds must prune directories")
  }

  test("q201: the score-prefix scan is bucket-partitioned") {
    val p = plan("q201_exact_auc")
    assert(p.contains("hashpartitioning(bkt"),
      "the distinct-score cumulative must run per magnitude bucket, " +
        "not as a data-sized global window")
  }

  test("q218: both rank scans are bucket-partitioned; the only cross join is the 1-row total") {
    val p = plan("q218_quantile_normalize")
    assert(p.contains("hashpartitioning(bkt"),
      "the global cumulative must run per value bucket (q201 discipline)")
    assert(p.contains("hashpartitioning(source"),
      "the per-source cumulative must partition on (source, bkt)")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross join")
    // the cross joins present must all be BROADCAST builds (the 1-row
    // total and the <=1000-row grid), never a shuffled cartesian
    assert(p.linesIterator.filter(_.contains("NestedLoopJoin"))
      .forall(_.contains("Broadcast")), p.linesIterator
      .filter(_.contains("Join")).mkString("\n"))
  }

  test("q219: overlap is answered by sketch algebra, exact arm stays equi-keyed") {
    val p = plan("q219_sketch_vocab_overlap")
    assert(p.contains("hll_union") && p.contains("hll_sketch_estimate"),
      "pair overlap must ride hll_union over stored sketches")
    assert(!p.contains("CartesianProduct"),
      "the pair frame must broadcast the |sources|-row dim")
  }

  test("q221: multi-probe candidates join on the bucket equi key") {
    val p = plan("q221_multiprobe_recall")
    assert(!p.contains("CartesianProduct"), "no cartesian candidate join")
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("bucket")) ||
      p.contains("bucket#"),
      "candidates must form only within probe buckets:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q225: tuned-index candidates join on the (tbl, bucket) equi key") {
    val p = plan("q225_lsh_tuned_recall")
    assert(!p.contains("CartesianProduct"), "no cartesian candidate join")
    assert(p.contains("tbl#") && p.contains("bucket#"),
      "candidates must form only within per-table probe buckets")
  }

  test("q226/q230: nested loops only where bounded by design; candidates " +
      "ride the pivot-list equi key") {
    // permitted nested loops: the pivot assignment (nlist rows,
    // broadcast — here hidden behind the assignment checkpoint) and, in
    // q226 only, the exact ground-truth arm (32-row panel broadcast).
    // Candidate formation itself must be a hash/sort join on the list id.
    Seq("q226_ivf_recall" -> 2).foreach {
      case (q, maxNested) =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"),
          s"$q: every broadcast side must be panel- or pivot-bounded")
        val nested = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
        assert(nested <= maxNested,
          s"$q: $nested nested loops (max $maxNested):\n" +
            p.linesIterator.filter(_.contains("Join")).mkString("\n"))
        assert(p.contains("p_id#"), s"$q: candidates must join on the pivot key")
    }
    // q230 rides the shared scored-candidate memo (r16): the pivot-key
    // candidate property is pinned on the memo's PIPELINE view (the
    // memoized head presents as a checkpoint leaf), and q230's own plan
    // must be join-free over that leaf — filter + union + bounded top-k.
    val pp = graft.operators.Similarity.ivfCandScoredPipeline(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!pp.contains("CartesianProduct"),
      "ivf_cand_scored: every broadcast side must be pivot-bounded")
    // the pipeline view (no checkpoints) repeats the pivot-assignment
    // cross join on both self-join sides, and FormattedMode renders each
    // node twice (tree + details): 2 bounded NLJs -> 4 matching lines
    val ppNested = pp.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(ppNested <= 4,
      s"ivf_cand_scored: $ppNested NLJ lines (max 4 — the duplicated " +
        "pivot assignment, tree + details)")
    assert(pp.contains("p_id#"),
      "ivf_cand_scored: candidates must join on the pivot key")
    val p230 = plan("q230_hard_negatives")
    assert(!p230.contains("CartesianProduct") &&
      !p230.contains("BroadcastNestedLoopJoin"),
      "q230 must be a join-free pass over the checkpointed scored candidates")
  }

  test("q239/q242: every partition-less window ranks at most pqCodebookK codebook rows") {
    import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // pqCentroids numbers its codebook with row_number() over
    // Window.orderBy(vec_id) — Similarity's only partition-less window.
    // It is bounded because it sits on the kCent-row limit of the
    // lowest-vec_id vectors, never on the corpus.
    val bound = graft.operators.Similarity.pqCodebookK
    def limitBelow(n: SparkPlan): Option[Int] = n match {
      case t: TakeOrderedAndProjectExec => Some(t.limit)
      case g: GlobalLimitExec => Some(g.limit)
      case _ if n.children.size == 1 => limitBelow(n.children.head)
      case _ => None
    }
    for (name <- Seq("q239_pq_adc_recall", "q242_ivfpq_recall")) {
      val root = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val global = root.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.nonEmpty, s"$name: expected the codebook's row_number window")
      global.foreach { w =>
        val lim = limitBelow(w.child)
        assert(lim.exists(_ <= bound),
          s"$name: a partition-less window over $lim rows, not a ≤ $bound-row limit:\n$w")
      }
    }
  }

  test("q222: churn enumerates edges once — a single self-join, no full-outer") {
    val p = plan("q222_graph_churn")
    assert(!p.contains("FullOuter"), "single-pass census needs no full-outer join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q236: policy-derived IVF keeps the q226 shape — candidates on the pivot key") {
    val p = plan("q236_ivf_policy_recall")
    assert(!p.contains("CartesianProduct"),
      "every broadcast side must be panel- or pivot-bounded")
    val nested = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nested <= 2,
      s"$nested nested loops (max 2: pivot assignment + exact arm):\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("p_id#"), "candidates must join on the pivot key")
  }

  test("q193: mutual-NN candidates form only within (tbl, bucket) cells") {
    // the declared query checkpoints its NN relation, so the candidate
    // shape is pinned on the un-checkpointed pipeline view (q31/q48
    // precedent)
    val p = graft.operators.Similarity.q193NearestNeighbours(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), "no cartesian candidate join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the index self-join must be an equi join on (tbl, bucket)")
    assert(p.contains("tbl#") && p.contains("bucket#"),
      "candidates must join on the per-table bucket key")
    assert(p.contains("cosinesimilarity"), "native codegen kernel in plan")
  }

  test("q237: DPO composition — anti-join drops, no nested loop, window above the stratum aggregate") {
    val p = plan("q237_dpo_manifest")
    assert(p.contains("LeftAnti"), "funnel drop stages must be anti joins")
    assert(p.contains("LeftSemi"), "exact-keep must be a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the packing window consumes the per-stratum aggregate (one row per
    // (source, len_bucket)), never the corpus: in plan order the window
    // must sit ABOVE the pairing aggregate
    val w = p.indexOf("Window")
    val a = p.indexOf("SortAggregate") max p.indexOf("HashAggregate")
    assert(w >= 0 && a >= 0 && w < a,
      "packing window must consume the stratum aggregate, not the corpus")
  }

  test("q220: exactly one window (the bounded minimizer frame) — no unbounded count") {
    // the r11 regression class: a second, UNBOUNDED count(*) window over
    // the exploded token relation to recover n, when size(toks) on the
    // pre-explode row already knows it. Pin one Window node, with the
    // bounded ROWS frame.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q220_minimizer_signature")(spark, sfDir)
    val windows = df.queryExecution.analyzed.collect { case w: LWindow => w }
    assert(windows.size == 1,
      s"q220 must plan exactly one window, got ${windows.size}")
    assert(windows.head.windowExpressions.toString.contains("specifiedwindowframe(RowFrame"),
      "the one window must be the bounded ROWS sliding-min frame")
  }

  test("q231: preference pairing is window-free — one hash aggregation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q231_preference_pairs")(spark, sfDir)
    val windows = df.queryExecution.analyzed.collect { case w: LWindow => w }
    assert(windows.isEmpty,
      "chosen/rejected must come from struct max/min aggregates, not rank windows")
  }

  test("q112/q136: fuzzy verification uses the thresholded (banded) kernel") {
    // levenshtein(l, r, 40) plans the O(threshold·len) banded DP; the
    // unbounded two-arg form (full O(len²) Wagner-Fischer) must not creep
    // back into either verification stage
    Seq("q112_fuzzy_match", "q136_sorted_neighborhood").foreach { q =>
      val p = plan(q)
      assert(p.contains("levenshtein(sig_a") && p.contains("Some(40))"),
        s"$q must verify with the thresholded kernel:\n" +
          p.linesIterator.filter(_.contains("levenshtein")).take(3).mkString("\n"))
    }
  }
}
