package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Data-selection operators: the distribution-level audits and
  * importance-weight machinery a mix designer runs to decide WHAT to
  * train on (the DoReMi / DSIR recipes), complementing the dedup and
  * quality gates that decide what to throw away.
  *
  * Reference tie-in: the reference's analytics layer (dbt service +
  * notebook aggregation, citibike_project/docker-compose.yaml:115-126)
  * stops at descriptive per-source counts; these are the prescriptive
  * corpus-analytics a training pipeline layers on top (SURVEY.md §2,
  * LLM-pipeline extensions).
  *
  * Cross-engine discipline (the q76 pattern): every transcendental is
  * frozen to integer micro-nats per TYPE — round(ln(ratio of exact
  * integers) * 1e6) — so corpus-sized aggregation is exact integer
  * arithmetic, and the only doubles the driver compares come from
  * identical IEEE expression trees in both engines. Every ln argument
  * is assembled with each factor cast to double BEFORE multiplying
  * (the q69 overflow class: products of corpus-scale BIGINTs wrap
  * Int64 silently). SelectionSpec proves every frozen value sits far
  * from its rounding boundary at every shipped SF.
  */
object Selection {

  private def toks: Column = split(trim(col("text")), " ")

  /** (source, tok) term counts — the shared scaffolding: one explode +
    * one aggregation with map-side combine, checkpointed because both
    * queries fan it into several derived aggregates.
    */
  private def sourceTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", explode(toks).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
  }

  /** q84 — per-source KL divergence to the corpus unigram distribution:
    * KL(p_source || p_corpus) in nats, the mix-audit number that says
    * which sources are linguistically unusual relative to the corpus
    * they sit in (the DoReMi-style domain-weighting signal; a source
    * with high KL dominates its own token neighborhoods and gets
    * re-weighted). Terms with c_st = 0 contribute 0 (standard 0·ln0
    * convention), so the sum runs over each source's own support and
    * KL >= 0 always — SelectionSpec asserts it.
    *
    * Exactness: per-(source, type) divergence frozen to micro-nats
    * d_micro = round(ln((c_st·N) / (n_s·c_t)) · 1e6); the per-source
    * sum Σ c_st·d_micro runs in DECIMAL(38,0) — NOT BIGINT, because at
    * the 100 TB design point a 1e13-token source times a 3e7 micro-nat
    * bound is ~3e20 > 2^63 (the q69 overflow class, this time in the
    * aggregate; DuckDB side uses HUGEINT). Only the final
    * CAST(sum AS DOUBLE)/1e6/n_s is floating point — both engines
    * correctly round the same exact integer, then run the same
    * division tree.
    *
    * Scale shape: one (source, tok) shuffle agg; the per-source totals
    * (#sources rows) and the type table (vocab-sized, Zipf keeps vocab
    * << corpus) join onto it; one #sources-row result. The type join is
    * deliberately UNHINTED: AQE broadcasts it at runtime while it fits
    * and genuinely degrades to a shuffle join on tok when a real
    * tokenizer's vocab blows the threshold — nothing else changes.
    */
  def q84SourceKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = sourceTerms(spark, dir)
    val srcTot = st.groupBy($"source").agg(sum($"c_st").as("n_s"))
    val types = st.groupBy($"tok").agg(sum($"c_st").as("c_t"))
    val total = types.agg(sum($"c_t").as("n"))
    st.join(broadcast(srcTot), Seq("source"))
      // the type table is vocab-sized (scale-DEPENDENT): no broadcast
      // hint — AQE broadcasts it at runtime while it fits under the
      // threshold and falls back to a shuffle join on tok beyond (a hint
      // would force the broadcast regardless and OOM at the 100 TB
      // design point); srcTot (#sources) and total (1 row) are bounded,
      // so their hints are safe
      .join(types, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("d_micro",
        round(log(($"c_st".cast("double") * $"n".cast("double")) /
          ($"n_s".cast("double") * $"c_t".cast("double"))) * lit(1000000.0))
          .cast("long"))
      .groupBy($"source")
      .agg(
        sum($"c_st").cast("long").as("n_tokens"),
        sum($"c_st".cast(DecimalType(38, 0)) * $"d_micro").as("kl_sum"))
      .select($"source", $"n_tokens",
        // decimal → STRING → double (the q67/q95 house pattern): DuckDB's
        // direct HUGEINT→DOUBLE cast is not correctly rounded, so both
        // engines parse the same exact decimal string instead — exact at
        // shipped SFs either way, but this form stays exact past 2^53
        ($"kl_sum".cast("string").cast("double") / lit(1000000.0) / $"n_tokens")
          .as("kl_nats"))
      .orderBy($"source")
  }

  val q84Sql: String =
    """WITH t AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
      |       FROM t GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      |ty AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ty),
      |d AS (SELECT st.source, st.c_st,
      |        CAST(round(ln(CAST(c_st AS DOUBLE) * CAST(n AS DOUBLE) /
      |          (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE))) * 1000000.0) AS BIGINT) AS d_micro
      |      FROM st JOIN stot USING (source) JOIN ty USING (tok) CROSS JOIN tot)
      |SELECT source,
      |  CAST(SUM(c_st) AS BIGINT) AS n_tokens,
      |  CAST(CAST(SUM(CAST(c_st AS HUGEINT) * d_micro) AS VARCHAR) AS DOUBLE) / 1000000.0 / SUM(c_st) AS kl_nats
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q85 — DSIR-style importance weights + top-k selection: score every
    * document by the log-likelihood ratio between a TARGET domain's
    * unigram LM and the background (whole-corpus) LM, then keep the 50
    * highest-scoring docs per token — the importance-resampling recipe
    * for "give me more data that looks like my target domain" (Xie et
    * al., Data Selection for Language Models via Importance Resampling;
    * hashed-ngram features there, unigram LM here — same plan shape).
    * The target is the alphabetically-first source — deterministic and
    * expressible identically in both engines; a deployment passes its
    * real target slice.
    *
    * Both LMs are add-one smoothed over the CORPUS vocabulary V, so
    * out-of-target types get a finite negative weight instead of -inf:
    * w(t) = ln( ((c_tgt+1)·(n_bg+V)) / ((n_tgt+V)·(c_bg+1)) ), frozen
    * to micro-nats per type. Per-doc sums stay BIGINT — a pathological
    * 1e9-token doc times the 3e7 micro-nat bound is ~3e16 < 2^63 (the
    * per-SOURCE aggregate in q84 is where BIGINT breaks; per-doc is
    * safe — audited, not assumed).
    *
    * Scale shape: (doc, tok) shuffle agg; vocab-sized weight table
    * joined back onto it (unhinted — AQE broadcasts while it fits,
    * shuffle join on tok beyond); top-50 plans as TakeOrderedAndProject
    * (map-side partial top-k, never a global sort of the corpus) —
    * PlanSpec pins it. Rank ties at the cut are broken by doc_id, so
    * the selected set is deterministic in both engines (avg_llr is
    * bit-identical by the frozen-table construction).
    */
  def q85ImportanceWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dt = Tables.documents(spark, dir)
      .select($"doc_id", $"source", explode(toks).as("tok"))
      .groupBy($"doc_id", $"source", $"tok")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val types = dt.groupBy($"tok").agg(sum($"cnt").as("c_bg"))
    val tgt = Tables.documents(spark, dir).agg(min($"source").as("tgt_source"))
    val tgtTypes = dt.join(broadcast(tgt), $"source" === $"tgt_source")
      .groupBy($"tok").agg(sum($"cnt").as("c_tgt"))
    val consts = types.agg(sum($"c_bg").as("n_bg"), count(lit(1)).as("v"))
    val tgtTot = tgtTypes.agg(coalesce(sum($"c_tgt"), lit(0L)).as("n_tgt"))
    // vocab-sized relations (types, tgtTypes, w) carry no broadcast
    // hint — see q84's note; the 1-row consts/tgtTot/tgt stay hinted
    val w = types
      .join(tgtTypes, Seq("tok"), "left")
      .crossJoin(broadcast(consts))
      .crossJoin(broadcast(tgtTot))
      .select($"tok",
        round(log(
          ((coalesce($"c_tgt", lit(0L)) + lit(1L)).cast("double") *
            ($"n_bg" + $"v").cast("double")) /
            (($"n_tgt" + $"v").cast("double") * ($"c_bg" + lit(1L)).cast("double"))
        ) * lit(1000000.0)).cast("long").as("w_micro"))
    dt.join(w, Seq("tok"))
      .groupBy($"doc_id", $"source")
      .agg(
        sum($"cnt").cast("long").as("n_tokens"),
        sum($"cnt" * $"w_micro").cast("long").as("llr_micro"))
      .select($"doc_id", $"source", $"n_tokens", $"llr_micro",
        ($"llr_micro".cast("double") / lit(1000000.0) / $"n_tokens").as("avg_llr"))
      .orderBy($"avg_llr".desc, $"doc_id")
      .limit(50)
  }

  val q85Sql: String =
    """WITH t AS (SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |dt AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM t GROUP BY 1, 2, 3),
      |ty AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS c_bg FROM dt GROUP BY 1),
      |tgt AS (SELECT MIN(source) AS tgt_source FROM documents),
      |tt AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS c_tgt
      |       FROM dt CROSS JOIN tgt WHERE dt.source = tgt.tgt_source GROUP BY 1),
      |consts AS (SELECT CAST(SUM(c_bg) AS BIGINT) AS n_bg,
      |                  CAST(COUNT(*) AS BIGINT) AS v FROM ty),
      |ttot AS (SELECT CAST(COALESCE(SUM(c_tgt), 0) AS BIGINT) AS n_tgt FROM tt),
      |w AS (SELECT ty.tok,
      |        CAST(round(ln(CAST(COALESCE(tt.c_tgt, 0) + 1 AS DOUBLE) * CAST(n_bg + v AS DOUBLE) /
      |          (CAST(n_tgt + v AS DOUBLE) * CAST(ty.c_bg + 1 AS DOUBLE))) * 1000000.0) AS BIGINT) AS w_micro
      |      FROM ty LEFT JOIN tt ON ty.tok = tt.tok CROSS JOIN consts CROSS JOIN ttot)
      |SELECT dt.doc_id, dt.source,
      |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  CAST(SUM(cnt * w_micro) AS BIGINT) AS llr_micro,
      |  CAST(SUM(cnt * w_micro) AS DOUBLE) / 1000000.0 / SUM(cnt) AS avg_llr
      |FROM dt JOIN w USING (tok)
      |GROUP BY 1, 2
      |ORDER BY avg_llr DESC, doc_id
      |LIMIT 50""".stripMargin

  /** q90 — length-distribution drift between corpus snapshots, reported
    * as the Population Stability Index: PSI = Σ_buckets (p_b - q_b) ·
    * ln(p_b / q_b) over token-length buckets (20-token steps, capped at
    * bucket 9), base snapshot vs incoming batch under q59's convention
    * (doc_id % 10 — the existing/incoming split the incremental-dedup
    * operator already defines). PSI is the standard ingest-monitoring
    * alarm (< 0.1 stable, > 0.25 investigate): a crawler change that
    * shifts document lengths moves it before any quality gate notices.
    * Add-one smoothing on both sides keeps every observed bucket's ln
    * finite.
    *
    * Exactness: the per-bucket TERM (p-q)·ln(p/q)·1e6 is frozen to a
    * micro-nat BIGINT — p, q and the ln argument are built from exact
    * counts with identical IEEE trees, so the only cross-engine risk is
    * the ln ulp, guarded in SelectionSpec like q84/q85. The PSI total is
    * then an exact BIGINT window sum over the <= 10 bucket rows (an
    * unpartitioned window over a bucket-count-sized relation — the q68
    * "small relation" pattern, never the corpus).
    *
    * Scale shape: one map + one 10-group aggregate with map-side
    * combine; everything after operates on <= 10 rows.
    */
  def q90LengthDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select($"doc_id", size(toks).cast("long").as("n_tokens"))
      .select($"doc_id", least(expr("n_tokens div 20"), lit(9L)).as("bucket"))
      .groupBy($"bucket")
      .agg(count(when($"doc_id" % 10 =!= 0, 1)).as("c_base"),
        count(when($"doc_id" % 10 === 0, 1)).as("c_in"))
      .localCheckpoint()
    val totals = counts.agg(sum($"c_base").as("n_base"), sum($"c_in").as("n_in"),
      count(lit(1)).as("k"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    counts.crossJoin(broadcast(totals))
      .withColumn("p_base",
        ($"c_base" + lit(1L)).cast("double") / ($"n_base" + $"k").cast("double"))
      .withColumn("p_in",
        ($"c_in" + lit(1L)).cast("double") / ($"n_in" + $"k").cast("double"))
      .withColumn("term_micro",
        round(($"p_base" - $"p_in") * log(
          ($"c_base" + lit(1L)).cast("double") * ($"n_in" + $"k").cast("double") /
            (($"n_base" + $"k").cast("double") * ($"c_in" + lit(1L)).cast("double"))
        ) * lit(1000000.0)).cast("long"))
      .select($"bucket", $"c_base", $"c_in", $"p_base", $"p_in",
        ($"term_micro".cast("double") / lit(1000000.0)).as("term_nats"),
        (sum($"term_micro").over(w).cast("double") / lit(1000000.0)).as("psi_nats"))
      .orderBy($"bucket")
  }

  val q90Sql: String =
    """WITH t AS (SELECT doc_id,
      |    least(len(string_split(trim(text), ' ')) // 20, 9) AS bucket
      |  FROM documents),
      |c AS (SELECT bucket,
      |    CAST(COUNT(*) FILTER (doc_id % 10 != 0) AS BIGINT) AS c_base,
      |    CAST(COUNT(*) FILTER (doc_id % 10 = 0) AS BIGINT) AS c_in
      |  FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_base) AS BIGINT) AS n_base,
      |    CAST(SUM(c_in) AS BIGINT) AS n_in,
      |    CAST(COUNT(*) AS BIGINT) AS k FROM c),
      |p0 AS (SELECT bucket, c_base, c_in, n_base, n_in, k,
      |    CAST(c_base + 1 AS DOUBLE) / CAST(n_base + k AS DOUBLE) AS p_base,
      |    CAST(c_in + 1 AS DOUBLE) / CAST(n_in + k AS DOUBLE) AS p_in
      |  FROM c CROSS JOIN tot),
      |p AS (SELECT bucket, c_base, c_in, p_base, p_in,
      |    CAST(round((p_base - p_in) * ln(CAST(c_base + 1 AS DOUBLE) * CAST(n_in + k AS DOUBLE) /
      |      (CAST(n_base + k AS DOUBLE) * CAST(c_in + 1 AS DOUBLE))) * 1000000.0) AS BIGINT) AS term_micro
      |  FROM p0)
      |SELECT CAST(bucket AS BIGINT) AS bucket, c_base, c_in, p_base, p_in,
      |  CAST(term_micro AS DOUBLE) / 1000000.0 AS term_nats,
      |  CAST(SUM(term_micro) OVER () AS DOUBLE) / 1000000.0 AS psi_nats
      |FROM p
      |ORDER BY bucket""".stripMargin

  /** q91 — vocabulary drift audit between the same two snapshots: every
    * token with its base/incoming counts, a new/vanished/shared status,
    * and a smoothed log-frequency-ratio in micro-nats (positive = token
    * is gaining frequency in the incoming batch; the q85 weight with the
    * target/background roles played by incoming/base). This is the
    * token-level view behind q90's scalar alarm — PSI says THAT the
    * distribution moved, this says WHICH tokens moved it (a template
    * flood shows up as a handful of "new" tokens with large positive
    * drift).
    *
    * drift_micro stays a BIGINT end to end — no double column derived
    * from it, so q91 adds only the ln-ulp risk already guarded for the
    * weight-table shape. Scale: one (tok) aggregate (vocab-sized out),
    * totals broadcast back — the q84 shape without the per-source axis.
    */
  def q91VocabDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select($"doc_id", explode(toks).as("tok"))
      .groupBy($"tok")
      .agg(count(when($"doc_id" % 10 =!= 0, 1)).as("c_base"),
        count(when($"doc_id" % 10 === 0, 1)).as("c_in"))
      .localCheckpoint()
    val totals = counts.agg(sum($"c_base").as("n_base"), sum($"c_in").as("n_in"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select($"tok", $"c_base", $"c_in",
        when($"c_base" === 0, "new").when($"c_in" === 0, "vanished")
          .otherwise("shared").as("status"),
        round(log(
          ($"c_in" + lit(1L)).cast("double") * ($"n_base" + $"v").cast("double") /
            (($"n_in" + $"v").cast("double") * ($"c_base" + lit(1L)).cast("double"))
        ) * lit(1000000.0)).cast("long").as("drift_micro"))
      .orderBy($"tok")
  }

  val q91Sql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |c AS (SELECT tok,
      |    CAST(COUNT(*) FILTER (doc_id % 10 != 0) AS BIGINT) AS c_base,
      |    CAST(COUNT(*) FILTER (doc_id % 10 = 0) AS BIGINT) AS c_in
      |  FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_base) AS BIGINT) AS n_base,
      |    CAST(SUM(c_in) AS BIGINT) AS n_in,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM c)
      |SELECT tok, c_base, c_in,
      |  CASE WHEN c_base = 0 THEN 'new' WHEN c_in = 0 THEN 'vanished'
      |       ELSE 'shared' END AS status,
      |  CAST(round(ln(CAST(c_in + 1 AS DOUBLE) * CAST(n_base + v AS DOUBLE) /
      |    (CAST(n_in + v AS DOUBLE) * CAST(c_base + 1 AS DOUBLE))) * 1000000.0) AS BIGINT) AS drift_micro
      |FROM c CROSS JOIN tot
      |ORDER BY tok""".stripMargin

  /** q95 — quality-filter agreement audit: per-source Pearson
    * correlation between the two document scores every curation pipeline
    * runs — the heuristic quality score (q27's ratio formula) and the
    * unigram-LM NLL perplexity proxy (q76) — answering "do my cheap
    * filter and my LM filter agree, and does the agreement differ by
    * source?" (a source where they anti-correlate is where one of the
    * filters is lying). Expect negative correlation: high NLL
    * (improbable tokens) should mean low heuristic quality.
    *
    * Exactness: both per-doc scores are already cross-engine
    * bit-identical doubles (exact-count ratios; q76's frozen surprisal
    * table, boundary-guarded in TextAnalysisSpec); each is then frozen
    * to nano-units (round of identical doubles — no transcendental, no
    * guard needed) and the five correlation sums run in DECIMAL(38,0)/
    * HUGEINT: x_nano ≤ 3e10, so x² ≤ 1e21 overflows BIGINT per the q84
    * lesson. The one-pass differences n·Σxy − Σx·Σy and n·Σx² − (Σx)²
    * are ALSO computed in exact integer arithmetic — not doubles —
    * because DuckDB contracts the double form a·b − c·d into an FMA
    * (measured: a ~1e-12 corr divergence at sf0.001/0.01 whose Python
    * re-computation matched Spark, isolating the fusion to DuckDB's
    * final expression). After the exact differences, the only floating
    * ops left are one multiply, one sqrt, one divide — each an isolated
    * correctly-rounded operation no compiler can fuse. Headroom audit:
    * n·Σx² at nano precision fits DECIMAL(38)/HUGEINT up to ~1e10 docs
    * per source; beyond that, drop the freeze to micro units (the same
    * expression tree, 10^6 scale) before the 38-digit cap binds.
    *
    * Scale shape: the q76 aggregates + one doc_id join between the two
    * score relations (shuffle at 100 TB) + one #sources-row aggregate.
    */
  def q95QualityNllCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dt = Tables.documents(spark, dir)
      .select($"doc_id", explode(toks).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val types = dt.groupBy($"tok").agg(sum($"cnt").as("c"))
    val total = types.agg(sum($"c").as("n"))
    val scored = types.crossJoin(broadcast(total))
      .select($"tok",
        round(log($"n".cast("double") / $"c") * lit(1000000.0))
          .cast("long").as("s_micro"))
    // unhinted vocab join — see q84's note
    val nll = dt.join(scored, Seq("tok"))
      .groupBy($"doc_id")
      .agg(sum($"cnt" * $"s_micro").cast("long").as("nll_micro"),
        sum($"cnt").cast("long").as("n_tokens"))
      .select($"doc_id",
        ($"nll_micro".cast("double") / lit(1000000.0) / $"n_tokens").as("avg_nll"))
    // the shared q27 quality definition — NOT a re-inlined copy, so a
    // change to the heuristic propagates into this correlation audit
    val qm = Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .select($"doc_id", $"source",
        TextAnalysis.qualityScoreCol($"text", $"toks").as("quality"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    qm.join(nll, Seq("doc_id"))
      .select($"source",
        round($"avg_nll" * lit(1000000000.0)).cast("long").as("x"),
        round($"quality" * lit(1000000000.0)).cast("long").as("y"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum($"x".cast(dec) * $"y").as("sxy"),
        sum($"x".cast(dec) * $"x").as("sxx"),
        sum($"y".cast(dec) * $"y").as("syy"))
      .select($"source", $"n",
        ($"n".cast(dec) * $"sxy" - $"sx" * $"sy").as("num"),
        ($"n".cast(dec) * $"sxx" - $"sx" * $"sx").as("d1"),
        ($"n".cast(dec) * $"syy" - $"sy" * $"sy").as("d2"))
      .select($"source", $"n",
        // decimal → STRING → double (the q67 house pattern): DuckDB's
        // direct HUGEINT→DOUBLE cast is not correctly rounded (upper·2^64
        // + lower, two roundings — measured 1-ulp corr divergence), while
        // both engines' string→double parse rounds correctly
        ($"num".cast("string").cast("double") /
          sqrt($"d1".cast("string").cast("double") *
            $"d2".cast("string").cast("double"))).as("corr"))
      .orderBy($"source")
  }

  val q95Sql: String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM t GROUP BY 1, 2),
      |ty AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS c FROM dt GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ty),
      |s AS (SELECT tok, CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000.0) AS BIGINT) AS s_micro
      |      FROM ty CROSS JOIN tot),
      |nll AS (SELECT dt.doc_id,
      |          CAST(SUM(cnt * s_micro) AS DOUBLE) / 1000000.0 / SUM(cnt) AS avg_nll
      |        FROM dt JOIN s USING (tok) GROUP BY 1),
      |tk AS (SELECT doc_id, source, text, string_split(trim(text), ' ') AS toks
      |       FROM documents),
      |qm AS (SELECT doc_id, source,
      |         ${graft.operators.TextAnalysis.qualitySqlExpr("text", "toks")} AS quality
      |       FROM tk),
      |xy AS (SELECT qm.source,
      |         CAST(round(avg_nll * 1000000000.0) AS BIGINT) AS x,
      |         CAST(round(quality * 1000000000.0) AS BIGINT) AS y
      |       FROM qm JOIN nll USING (doc_id)),
      |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |        SUM(CAST(y AS HUGEINT) * y) AS syy
      |      FROM xy GROUP BY 1),
      |b AS (SELECT source, n,
      |        CAST(n AS HUGEINT) * sxy - sx * sy AS num,
      |        CAST(n AS HUGEINT) * sxx - sx * sx AS d1,
      |        CAST(n AS HUGEINT) * syy - sy * sy AS d2
      |      FROM a)
      |SELECT source, n,
      |  CAST(CAST(num AS VARCHAR) AS DOUBLE) /
      |    sqrt(CAST(CAST(d1 AS VARCHAR) AS DOUBLE) * CAST(CAST(d2 AS VARCHAR) AS DOUBLE)) AS corr
      |FROM b
      |ORDER BY source""".stripMargin

  /** q115 — systematic PPS (probability-proportional-to-size) sampling:
    * the textbook corpus subsampler when inclusion probability must be
    * exactly proportional to document size (token budget), not uniform
    * (q81 applies per-source quotas; this is the size-exact
    * single-stratum form). Walk the size-cumulative line with n=100
    * equally spaced strides; a doc is picked once per stride falling in
    * its [cum-w, cum) span — `n_picks = (cum*n div W) - ((cum-w)*n div
    * W)`, all BIGINT, so the sample is bit-identical cross-engine and
    * Σ n_picks = n exactly.
    *
    * Scale shape: the global cumulative sum is the distributed prefix
    * scan [[OpUtils.prefixSums]] over contiguous doc_id ranges, so the
    * only global-order window runs over ~(corpus/64) one-row-per-bucket
    * records. At 100 TB the arithmetic widens to DECIMAL(38,0) (cum*n
    * overflows BIGINT around W ≈ 9e16 with n=100); the fixture stays in
    * BIGINT range.
    */
  def q115PpsSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 100
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars".as("w"))
    val cum = OpUtils.prefixSums(d, Nil, expr("doc_id div 64"), Seq($"doc_id"),
      "cum" -> $"w")
    val tot = d.agg(sum($"w").as("wtot"))
    cum.crossJoin(broadcast(tot))
      .withColumn("hi", expr(s"(cum * $n) div wtot"))
      .withColumn("lo", expr(s"((cum - w) * $n) div wtot"))
      .filter($"hi" > $"lo")
      .select($"doc_id", $"w", $"cum", ($"hi" - $"lo").as("n_picks"))
      .orderBy($"doc_id")
  }

  val q115Sql: String =
    """WITH d AS (SELECT doc_id, n_chars AS w FROM documents),
      |c AS (
      |  SELECT doc_id, w,
      |         CAST(sum(w) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM d),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM d)
      |SELECT doc_id, w, cum,
      |       CAST((cum * 100) // wtot - ((cum - w) * 100) // wtot AS BIGINT) AS n_picks
      |FROM c, t
      |WHERE (cum * 100) // wtot > ((cum - w) * 100) // wtot
      |ORDER BY doc_id""".stripMargin

  /** q117 — skyline (Pareto frontier) selection: the parts no other part
    * dominates on (price ↓, size ↑) — the multi-objective shortlist
    * operator (cheapest-per-capability supplier, best quality-per-token
    * doc). The naive form is an all-pairs NOT EXISTS dominance test
    * (exactly what the DuckDB oracle runs — a genuinely independent
    * quadratic algorithm validating this linear one); here the 2-D
    * skyline reduces to order statistics: a part survives iff no
    * strictly-cheaper part reaches its size (running max over prices
    * below it) and no equal-priced part beats its size (per-price max).
    * Both are computed on the per-price aggregate — one hash shuffle
    * over the fact, then a window over the DISTINCT-PRICE relation
    * (bounded by the price domain, not the row count) broadcast back.
    * No pairwise join ever forms, so the plan survives any corpus size
    * whose price domain fits a broadcast — and a domain too large for
    * that just switches the join back to shuffle, still never O(n²).
    */
  def q117Skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir)
      .select($"p_partkey", $"p_retailprice".cast(DecimalType(18, 4)).as("price"),
        $"p_size")
    val perPrice = p.groupBy($"price").agg(max($"p_size").as("msize"))
    val wPrev = Window.orderBy($"price")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("best_below", max($"msize").over(wPrev))
      .select($"price".as("f_price"), $"msize", $"best_below")
    p.join(broadcast(frontier), p("price") === frontier("f_price"))
      .filter($"p_size" === $"msize" &&
        ($"best_below".isNull || $"best_below" < $"p_size"))
      .select($"p_partkey", $"price".cast("double").as("price"), $"p_size")
      .orderBy($"p_partkey")
  }

  val q117Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,4)) AS price, p_size
      |  FROM part)
      |SELECT a.p_partkey, CAST(CAST(a.price AS STRING) AS DOUBLE) AS price, a.p_size
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.price <= a.price AND b.p_size >= a.p_size
      |    AND (b.price < a.price OR b.p_size > a.p_size))
      |ORDER BY p_partkey""".stripMargin

  /** q151 — Gini concentration of per-customer revenue (the Lorenz
    * inequality audit — the same statistic a corpus steward runs on
    * source/domain token shares to see how concentrated the mix is):
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the ASCENDING-sorted
    * values, emitted in exact basis points. The global value rank is a
    * running count ([[OpUtils.prefixSums]]) over the total order
    * (x, k), bucketed by magnitude (`cents div 10⁷` — bucket order IS
    * value order) — no single-partition window over the customer
    * relation. Σ i·x is accumulated in DECIMAL(38,0) (i·x reaches ~3e16 at sf0.1 and the ×10⁴ headroom
    * overflows BIGINT — the q84/q95 widen discipline); the final
    * division is integral on non-negative terms (Lorenz sums are
    * monotone, the numerator is provably ≥ 0), so truncate == floor in
    * both engines.
    */
  def q151GiniConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cr = Tables.orders(spark, dir)
      .groupBy($"o_custkey".as("k"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
    OpUtils.prefixSums(cr, Nil, expr("x div 10000000"), Seq($"x", $"k"),
        "i" -> lit(1L))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"i".cast(DecimalType(38, 0)) * $"x").as("six"))
      .select($"n", $"sx",
        expr("CAST(((2 * six - (CAST(n AS DECIMAL(38,0)) + 1) * sx) * 10000) div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)")
          .as("gini_bp"))
  }

  val q151Sql: String =
    """WITH cr AS (
      |  SELECT o_custkey AS k,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT x, row_number() OVER (ORDER BY x, k) AS i FROM cr),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |        CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six FROM r)
      |SELECT n, sx,
      |  CAST((2 * six - (CAST(n AS HUGEINT) + 1) * sx) * 10000 //
      |       (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_bp
      |FROM a""".stripMargin

  /** q155 — exact weighted median ("half the corpus BYTES live in docs
    * shorter than X"): each doc weighted by its own char mass, the
    * median found on the weight-cumulative line — the curation
    * statistic a plain median misses entirely when lengths are skewed
    * (most docs short, most mass long). EXACT and distributed: value-
    * space buckets (`v div 64` — deterministic, value-ordered) +
    * [[OpUtils.prefixSums]] give the global cumulative weight with no
    * single-partition window; the answer is the first row with
    * `2·cum ≥ total` (lower-median convention, stated
    * explicitly — both engines evaluate the same inequality on exact
    * BIGINTs). Complements q40 (exact quantiles, memory-bound) and
    * q99 (sketch quantiles, unweighted): this is the exact WEIGHTED
    * form that stays one-pass-plus-tiny-window at any scale.
    */
  def q155WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars".as("v"), $"n_chars".as("w"))
    val cum = OpUtils.prefixSums(d, Nil, expr("v div 64"), Seq($"v", $"doc_id"),
      "cum" -> $"w")
    cum.crossJoin(broadcast(d.agg(sum($"w").as("tot"))))
      .filter($"cum" * 2 >= $"tot")
      .orderBy($"cum")
      .limit(1)
      .select($"v".as("median_len"), $"cum", $"tot")
  }

  val q155Sql: String =
    """WITH d AS (SELECT doc_id, n_chars AS v, n_chars AS w FROM documents),
      |c AS (SELECT v, w,
      |        CAST(sum(w) OVER (ORDER BY v, doc_id) AS BIGINT) AS cum
      |      FROM d),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM d)
      |SELECT v AS median_len, cum, tot FROM c, t
      |WHERE cum * 2 >= tot
      |ORDER BY cum LIMIT 1""".stripMargin

  /** q158 — stratified sample with largest-remainder apportionment
    * (Hamilton's method): draw EXACTLY 100 documents allocated across
    * the language strata in proportion to stratum size — the
    * corpus-mix sampling primitive ("eval set proportional to language
    * share") where naive per-stratum rounding misses the total and
    * float quotas aren't reproducible. All integer: `base =
    * n·N_lang div N`, the `n − Σ base` leftover goes to the largest
    * remainders (`n·N_lang mod N`, ties by language asc), so Σ alloc
    * = n EXACTLY. The draw itself is the deterministic-hash rank
    * (md5 over doc_id — the q97 slice discipline), so the SAMPLE
    * MEMBERSHIP is in the hash gate via per-stratum id-sum checksums,
    * not just the counts.
    *
    * Scale shape: one hash aggregate to the |langs|-row strata
    * relation; apportionment windows run over THAT tiny relation
    * (bounded by the language dimension, never the corpus). The draw
    * is a per-stratum rank — partition-parallel by lang; at skewed
    * production strata the rank-filter form swaps for the bounded-
    * state top-k aggregator (functions/TopKAggregator), same contract.
    */
  def q158StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 100L
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("h"))
    val strata = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    val tot = strata.agg(sum($"n_docs").as("n_total"))
    val base = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"n_docs * $n div n_total"))
      .withColumn("rem", expr(s"n_docs * $n - (n_docs * $n div n_total) * n_total"))
    val alloc = base
      .crossJoin(broadcast(base.agg(sum($"base").as("base_sum"))))
      // |langs|-sized relation: the single-partition window is bounded
      // by the stratum dimension, not the corpus
      .withColumn("rk", row_number().over(Window.orderBy($"rem".desc, $"lang")))
      .select($"lang", $"n_docs",
        ($"base" + when($"rk" <= lit(n) - $"base_sum", 1L).otherwise(0L))
          .as("alloc"))
    val wr = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    val drawn = docs.join(broadcast(alloc.select($"lang", $"alloc")), "lang")
      .withColumn("r", row_number().over(wr))
      .filter($"r" <= $"alloc")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_drawn"), sum($"doc_id").as("drawn_id_sum"))
    alloc.join(drawn, Seq("lang"), "left")
      .select($"lang", $"n_docs", $"alloc",
        coalesce($"n_drawn", lit(0L)).as("n_drawn"),
        coalesce($"drawn_id_sum", lit(0L)).as("drawn_id_sum"))
      .orderBy($"lang")
  }

  val q158Sql: String =
    """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
      |           FROM documents),
      |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM s),
      |b AS (SELECT lang, n_docs, n_docs * 100 // n_total AS base,
      |             n_docs * 100 - (n_docs * 100 // n_total) * n_total AS rem
      |      FROM s, t),
      |bs AS (SELECT CAST(sum(base) AS BIGINT) AS base_sum FROM b),
      |a AS (SELECT lang, n_docs,
      |        base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
      |                         <= 100 - bs.base_sum
      |               THEN 1 ELSE 0 END AS alloc
      |      FROM b, bs),
      |r AS (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      |      FROM d),
      |dr AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_drawn,
      |         CAST(sum(r.doc_id) AS BIGINT) AS drawn_id_sum
      |       FROM r JOIN a ON r.lang = a.lang AND r.rk <= a.alloc
      |       GROUP BY 1)
      |SELECT a.lang, a.n_docs, CAST(a.alloc AS BIGINT) AS alloc,
      |       COALESCE(dr.n_drawn, 0) AS n_drawn,
      |       COALESCE(dr.drawn_id_sum, 0) AS drawn_id_sum
      |FROM a LEFT JOIN dr ON a.lang = dr.lang
      |ORDER BY a.lang""".stripMargin

  /** q161 — exact median absolute deviation (MAD) of order totals:
    * the robust dispersion statistic (outlier fences that a handful of
    * mega-orders can't drag, unlike stddev). Two order statistics, each
    * computed EXACTLY by [[OpUtils.exactCuts]] — rank arithmetic on the
    * value-bucket prefix scan, never a global sort and never the
    * whole-group buffering of exact `percentile`: the low median is the
    * smallest v with 2·cum ≥ n over deterministic magnitude buckets
    * (`cents div 10⁶` — bucket order IS value order), then the same
    * scan over |cents − median|. Both engines compute the SAME rank
    * definition via DIFFERENT mechanisms (Spark: bucketed distributed
    * prefix scan; DuckDB: direct ordered window over the distinct-value
    * relation) — the q117 two-algorithms discipline, so a rank-
    * convention slip in either flips the hash.
    */
  def q161MadDispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def lowMedian(vals: DataFrame, name: String): DataFrame =
      OpUtils.exactCuts(vals, Nil, "v", expr("v div 1000000"), (name, 1L, 2L))
    val cents = Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100).cast("long").as("v"))
      .localCheckpoint() // each lowMedian pass re-reads its input twice
    // one row (n, median_cents), read by both passes below
    val med = lowMedian(cents, "median_cents").localCheckpoint()
    val devs = cents.crossJoin(broadcast(med))
      .select(abs($"v" - $"median_cents").as("v"))
      .localCheckpoint()
    lowMedian(devs, "mad_cents").drop("n")
      .crossJoin(broadcast(med))
      .select($"median_cents", $"mad_cents", $"n")
  }

  val q161Sql: String =
    """WITH x AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |           FROM orders),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
      |c1 AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      |       FROM x GROUP BY v),
      |m AS (SELECT min(v) AS median_cents FROM c1, n WHERE cum * 2 >= n.n),
      |d AS (SELECT abs(x.v - m.median_cents) AS v FROM x, m),
      |c2 AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      |       FROM d GROUP BY v),
      |md AS (SELECT min(v) AS mad_cents FROM c2, n WHERE cum * 2 >= n.n)
      |SELECT m.median_cents, md.mad_cents, n.n FROM m, md, n""".stripMargin

  /** q162 — per-group IQR outlier fences (Tukey's boxplot rule), exact:
    * for every return flag, the quartiles Q1/Q3 of line revenue as LOW
    * ORDER STATISTICS by rank arithmetic (smallest v with 4·cum ≥ n /
    * ≥ 3n) and the count of lines outside the 1.5×IQR fences. The
    * half-unit fence arithmetic is cross-multiplied away: `2v < 5·q1 −
    * 3·q3` and `2v > 5·q3 − 3·q1` are the ×2-integer forms of
    * v < Q1 − 1.5·IQR / v > Q3 + 1.5·IQR, so no division exists at
    * all. The robust dual of stddev outliers — a handful of mega-lines
    * can't drag the fences.
    *
    * Scale shape: quartiles are [[OpUtils.exactCuts]] per flag —
    * distinct (flag, value) counts, per-(flag, bucket) windows +
    * broadcast per-flag bucket offsets, so no per-flag
    * single-partition sort and no whole-group percentile buffer; the
    * outlier count is one more pass with the 3-row fence relation
    * broadcast. Oracle computes the same rank definition via direct
    * per-flag ordered windows (two mechanisms, the q117 discipline).
    */
  def q162IqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("flag"),
        round($"l_extendedprice" * 100).cast("long").as("v"))
    // both quartiles in ONE aggregation over the cum relation (min of v
    // where the rank predicate holds) — the r10 bench showed the
    // two-filter form re-executing the whole cum pipeline per quartile
    val fences = OpUtils.exactCuts(vals, Seq("flag"), "v", expr("v div 1000000"),
        ("q1_cents", 1L, 4L), ("q3_cents", 3L, 4L))
      .drop("n")
    vals.join(broadcast(fences), "flag")
      .groupBy($"flag", $"q1_cents", $"q3_cents")
      .agg(count(lit(1)).as("n"),
        sum(when($"v" * 2 < $"q1_cents" * 5 - $"q3_cents" * 3, 1L)
          .otherwise(0L)).as("n_low_outliers"),
        sum(when($"v" * 2 > $"q3_cents" * 5 - $"q1_cents" * 3, 1L)
          .otherwise(0L)).as("n_high_outliers"))
      .orderBy($"flag")
  }

  val q162Sql: String =
    """WITH x AS (SELECT l_returnflag AS flag,
      |             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |           FROM lineitem),
      |n AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1),
      |c AS (SELECT flag, v,
      |        CAST(sum(count(*)) OVER (PARTITION BY flag ORDER BY v)
      |             AS BIGINT) AS cum
      |      FROM x GROUP BY flag, v),
      |f AS (SELECT n.flag,
      |        (SELECT min(v) FROM c
      |         WHERE c.flag = n.flag AND cum * 4 >= n.n) AS q1_cents,
      |        (SELECT min(v) FROM c
      |         WHERE c.flag = n.flag AND cum * 4 >= n.n * 3) AS q3_cents
      |      FROM n)
      |SELECT x.flag, f.q1_cents, f.q3_cents, count(*) AS n,
      |       CAST(sum(CASE WHEN x.v * 2 < f.q1_cents * 5 - f.q3_cents * 3
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
      |       CAST(sum(CASE WHEN x.v * 2 > f.q3_cents * 5 - f.q1_cents * 3
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
      |FROM x JOIN f ON x.flag = f.flag
      |GROUP BY 1, 2, 3 ORDER BY x.flag""".stripMargin

  /** q174 — Pareto / ABC analysis: the exact minimum number of top
    * customers whose revenue reaches 80% of the total, with the 80%
    * threshold held as the cross-multiplied integer comparison
    * `5·cum ≥ 4·tot` (no float share ever exists). Descending value
    * order rides [[OpUtils.prefixSums]] after the monotone flip
    * `v' = 10¹⁵ − cents` (cents are non-negative, so v' stays positive
    * and `div` bucketing never sees a negative operand — the
    * q152-class divergence is avoided by construction; the 10¹⁵ cap =
    * $10T/customer, documented widen point). The boundary value-group
    * is resolved exactly: k = ⌈(4·tot − 5·cumrev_prev) / (5·v)⌉
    * customers of the tied value are needed, so ties at the threshold
    * don't over-count. Oracle recomputes via DuckDB's direct
    * descending window — two mechanisms, one gate.
    *
    * Scale shape: one per-customer aggregate, then everything runs on
    * the distinct-revenue-value relation (bucket windows + broadcast
    * offsets — no global sort); 5·cumrev crosses BIGINT near 2e18
    * cents total, the documented DECIMAL(38,0) widen point.
    */
  def q174ParetoCut(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val vals = rev.select((lit(1000000000000000L) - $"cents").as("vp"), $"cents")
      .groupBy($"vp", $"cents").agg(count(lit(1)).as("cnt"))
    val cum = OpUtils.prefixSums(vals, Nil, expr("vp div 100000000"), Seq($"vp"),
      "cumc" -> $"cnt", "cumv" -> $"cnt" * $"cents")
    val tot = rev.agg(count(lit(1)).as("n_customers"), sum($"cents").as("tot"))
    cum.crossJoin(broadcast(tot))
      .filter($"cumv" * 5 >= $"tot" * 4)
      .orderBy($"cumc")
      .limit(1)
      .select($"n_customers", $"tot".as("total_cents"),
        ($"cumc" - $"cnt" +
          expr("(4 * tot - 5 * (cumv - cnt * cents) + 5 * cents - 1) div (5 * cents)"))
          .as("n_top80"))
      .select($"n_customers", $"total_cents", $"n_top80",
        expr("n_top80 * 10000 div n_customers").as("top80_customer_share_bp"))
  }

  val q174Sql: String =
    """WITH rev AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |           AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (SELECT cents,
      |        CAST(sum(count(*)) OVER (ORDER BY cents DESC) AS BIGINT) AS cumc,
      |        CAST(sum(sum(cents)) OVER (ORDER BY cents DESC) AS BIGINT) AS cumv,
      |        CAST(count(*) AS BIGINT) AS cnt
      |      FROM rev GROUP BY cents),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_customers,
      |        CAST(sum(cents) AS BIGINT) AS tot FROM rev),
      |b AS (SELECT r.*, t.n_customers, t.tot FROM r, t
      |      WHERE r.cumv * 5 >= t.tot * 4
      |      ORDER BY r.cumc LIMIT 1)
      |SELECT n_customers, tot AS total_cents,
      |       cumc - cnt + (4 * tot - 5 * (cumv - cnt * cents) + 5 * cents - 1)
      |         // (5 * cents) AS n_top80,
      |       (cumc - cnt + (4 * tot - 5 * (cumv - cnt * cents) + 5 * cents - 1)
      |         // (5 * cents)) * 10000 // n_customers
      |         AS top80_customer_share_bp
      |FROM b""".stripMargin

  /** q183 — weighted sampling without replacement by SEQUENTIAL POISSON
    * sampling (Ohlsson): every doc gets the priority q = u div w where
    * u is the deterministic 60-bit md5 of its id ("uniform draw", the
    * q97/q158 hash discipline) and w = n_chars its size weight; the
    * sample is the 200 SMALLEST priorities. P(u/w small) grows with w,
    * so inclusion probability is approximately proportional to size —
    * the standard reproducible πps scheme for "sample big documents
    * more" without replacement and without per-stratum machinery.
    * Everything is BIGINT (u < 2^60, w ≥ 1; the quotient floors
    * identically in both engines) and ties break on doc_id, so SAMPLE
    * MEMBERSHIP is bit-deterministic and crosses the driver hash gate
    * via per-source id/weight checksums.
    *
    * Scale shape: no global sort — the 200-smallest selection is a
    * TakeOrdered (per-partition top-k, driver merges k×partitions
    * rows); the output aggregates to the |sources| relation. At 100 TB
    * the same plan holds: priorities are a map, selection is bounded
    * state per partition.
    */
  def q183WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("u", graft.functions.Md5Prefix60($"doc_id".cast("string")))
      .withColumn("q", expr("u div n_chars"))
    val strata = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    val drawn = docs.orderBy($"q", $"doc_id").limit(200)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_drawn"), sum($"doc_id").as("drawn_id_sum"),
        sum($"n_chars").as("drawn_chars"))
    strata.join(drawn, Seq("source"), "left")
      .select($"source", $"n_docs", $"total_chars",
        coalesce($"n_drawn", lit(0L)).as("n_drawn"),
        coalesce($"drawn_id_sum", lit(0L)).as("drawn_id_sum"),
        coalesce($"drawn_chars", lit(0L)).as("drawn_chars"))
      .orderBy($"source")
  }

  val q183Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |           AS BIGINT) // n_chars AS q
      |  FROM documents),
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(n_chars) AS BIGINT) AS total_chars
      |      FROM d GROUP BY 1),
      |pick AS (SELECT * FROM d ORDER BY q, doc_id LIMIT 200),
      |dr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_drawn,
      |         CAST(sum(doc_id) AS BIGINT) AS drawn_id_sum,
      |         CAST(sum(n_chars) AS BIGINT) AS drawn_chars
      |       FROM pick GROUP BY 1)
      |SELECT s.source, s.n_docs, s.total_chars,
      |       COALESCE(dr.n_drawn, 0) AS n_drawn,
      |       COALESCE(dr.drawn_id_sum, 0) AS drawn_id_sum,
      |       COALESCE(dr.drawn_chars, 0) AS drawn_chars
      |FROM s LEFT JOIN dr ON s.source = dr.source
      |ORDER BY s.source""".stripMargin

  /** q184 — winsorized and trimmed means of order totals: the robust
    * location statistics (cap / drop the extreme 5% per tail) that
    * complete the robust family next to q161 (MAD) and q162 (IQR
    * fences). The p05/p95 cut points are EXACT low order statistics —
    * k-th smallest with k = ⌈q·n⌉, found by [[OpUtils.exactCuts]]
    * on the value-bucket prefix scan (never a global sort, never
    * exact-percentile's whole-group buffer); the second pass clamps
    * (winsorize) or filters (trim) against the broadcast 1-row cut
    * relation and sums exact cents. Means are emitted in milli-cents
    * by integer `div` (Σcents·10³ ≈ 2e15 at sf0.1 — BIGINT-safe to
    * ~sf100, the documented widen point). Oracle computes the same
    * rank definition via DuckDB's direct ordered window over the
    * distinct-value relation — two mechanisms, one gate (the q117
    * discipline).
    */
  def q184RobustMeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100).cast("long").as("v"))
      .localCheckpoint() // feeds the cut-point scan and the clamp pass
    // both cut points from ONE aggregation over the cum relation (the
    // q162 lesson: a filter per cut re-executes the whole scan)
    val cuts = OpUtils.exactCuts(vals, Nil, "v", expr("v div 1000000"),
      ("p05_cents", 5L, 100L), ("p95_cents", 95L, 100L))
    vals.crossJoin(broadcast(cuts))
      .groupBy($"n", $"p05_cents", $"p95_cents")
      .agg(
        sum(greatest($"p05_cents", least($"p95_cents", $"v")))
          .as("win_sum"),
        sum(when($"v".between($"p05_cents", $"p95_cents"), 1L).otherwise(0L))
          .as("n_trimmed"),
        sum(when($"v".between($"p05_cents", $"p95_cents"), $"v")
          .otherwise(0L)).as("trim_sum"))
      .select($"n", $"p05_cents", $"p95_cents",
        expr("win_sum * 1000 div n").as("win_mean_milli"),
        $"n_trimmed",
        expr("trim_sum * 1000 div n_trimmed").as("trim_mean_milli"))
  }

  val q184Sql: String =
    """WITH x AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |           FROM orders),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
      |c AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
      |      FROM x GROUP BY v),
      |cuts AS (SELECT n.n,
      |           (SELECT min(v) FROM c WHERE cum * 100 >= n.n * 5)
      |             AS p05_cents,
      |           (SELECT min(v) FROM c WHERE cum * 100 >= n.n * 95)
      |             AS p95_cents
      |         FROM n)
      |SELECT cuts.n, cuts.p05_cents, cuts.p95_cents,
      |       CAST(sum(greatest(cuts.p05_cents, least(cuts.p95_cents, x.v)))
      |            AS BIGINT) * 1000 // cuts.n AS win_mean_milli,
      |       CAST(sum(CASE WHEN x.v BETWEEN cuts.p05_cents AND cuts.p95_cents
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed,
      |       CAST(sum(CASE WHEN x.v BETWEEN cuts.p05_cents AND cuts.p95_cents
      |                     THEN x.v ELSE 0 END) AS BIGINT) * 1000 //
      |         CAST(sum(CASE WHEN x.v BETWEEN cuts.p05_cents AND cuts.p95_cents
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS trim_mean_milli
      |FROM x, cuts
      |GROUP BY 1, 2, 3""".stripMargin

  /** q201 — exact tie-aware AUC (Mann–Whitney form): how well order
    * value separates urgent from non-urgent orders, the ranking-
    * quality statistic behind every classifier / quality-score eval
    * (q195's decile calibration gives the SHAPE of the lift curve;
    * this is the scalar that summarizes it). Computed EXACTLY from the
    * distinct-score relation: per score v, (n_pos(v), n_neg(v)); then
    * AUC·2PN = Σ_v [2·n_pos(v)·cum_neg(<v) + n_pos(v)·n_neg(v)] — the
    * midrank tie convention (ties count ½) cleared to ×2 integer
    * units, so the statistic is BIGINT end-to-end and hash-gates
    * (auc_bp = num2·10⁴ div 2PN; non-negative, so Spark `div`
    * truncation and DuckDB `//` flooring agree). Overflow headroom:
    * num2 ≤ 2PN ≈ 7·10⁹ at sf0.1; ×10⁴ ≈ 7·10¹³ ≪ 2⁶³. The P·N
    * product crosses BIGINT near 10⁹ orders — the documented
    * DECIMAL(38,0) widen-point for the 100 TB run.
    *
    * Scale shape: the exclusive negative-prefix over distinct scores
    * is [[OpUtils.prefixSums]] minus the row's own count (deterministic
    * magnitude buckets — bucket order IS value order), never a
    * single-partition global window; the oracle computes the same rank
    * algebra via DuckDB's direct ordered window — the q117
    * two-mechanisms discipline.
    */
  def q201ExactAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = Tables.orders(spark, dir).select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
      when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("p"))
    val c = s.groupBy($"v")
      .agg(sum($"p").as("np"), (count(lit(1)) - sum($"p")).as("nn"))
    // cl = negatives strictly below v: the inclusive running sum minus v's own
    OpUtils.prefixSums(c, Nil, expr("v div 1000000"), Seq($"v"), "cum" -> $"nn")
      .withColumn("cl", $"cum" - $"nn")
      .agg(sum($"np").as("n_pos"), sum($"nn").as("n_neg"),
        sum($"np" * $"cl" * 2 + $"np" * $"nn").as("num2"))
      .select($"n_pos", $"n_neg", $"num2",
        expr("(num2 * 10000) div (2 * n_pos * n_neg)").as("auc_bp"))
  }

  val q201Sql: String =
    """WITH s AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS p
      |  FROM orders),
      |c AS (SELECT v, CAST(sum(p) AS BIGINT) AS np,
      |             CAST(count(*) - sum(p) AS BIGINT) AS nn
      |      FROM s GROUP BY v),
      |w AS (SELECT np, nn,
      |             CAST(coalesce(sum(nn) OVER (ORDER BY v
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |               AS BIGINT) AS cl
      |      FROM c),
      |t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
      |             CAST(sum(nn) AS BIGINT) AS n_neg,
      |             CAST(sum(2 * np * cl + np * nn) AS BIGINT) AS num2
      |      FROM w)
      |SELECT n_pos, n_neg, num2,
      |       CAST(num2 * 10000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp
      |FROM t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_exact_auc" -> (q201ExactAuc _),
    "q183_weighted_sample" -> (q183WeightedSample _),
    "q184_robust_means" -> (q184RobustMeans _),
    "q174_pareto_cut" -> (q174ParetoCut _),
    "q162_iqr_outliers" -> (q162IqrOutliers _),
    "q158_stratified_sample" -> (q158StratifiedSample _),
    "q161_mad_dispersion" -> (q161MadDispersion _),
    "q155_weighted_median" -> (q155WeightedMedian _),
    "q151_gini_concentration" -> (q151GiniConcentration _),
    "q117_skyline" -> (q117Skyline _),
    "q115_pps_sample" -> (q115PpsSample _),
    "q84_source_kl" -> (q84SourceKl _),
    "q85_importance_weights" -> (q85ImportanceWeights _),
    "q90_length_drift" -> (q90LengthDrift _),
    "q91_vocab_drift" -> (q91VocabDrift _),
    "q95_quality_nll_correlation" -> (q95QualityNllCorrelation _))

  val oracleSql: Map[String, String] = Map(
    "q201_exact_auc" -> q201Sql,
    "q183_weighted_sample" -> q183Sql,
    "q184_robust_means" -> q184Sql,
    "q174_pareto_cut" -> q174Sql,
    "q162_iqr_outliers" -> q162Sql,
    "q158_stratified_sample" -> q158Sql,
    "q161_mad_dispersion" -> q161Sql,
    "q155_weighted_median" -> q155Sql,
    "q151_gini_concentration" -> q151Sql,
    "q117_skyline" -> q117Sql,
    "q115_pps_sample" -> q115Sql,
    "q84_source_kl" -> q84Sql,
    "q85_importance_weights" -> q85Sql,
    "q90_length_drift" -> q90Sql,
    "q91_vocab_drift" -> q91Sql,
    "q95_quality_nll_correlation" -> q95Sql)
}
