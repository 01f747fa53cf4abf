package graft.operators

import graft.operators.OpUtils.SpreadOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import OpUtils.dec

/** Event-table operators (SURVEY.md §2.8 F9 json, §2.9 batch equivalents of
  * the streaming surface): JSON extraction, tumbling/sliding windows,
  * sessionization, as-of alignment, deterministic distribution stats.
  * The streaming counterparts (watermarks, `session_window`,
  * `dropDuplicatesWithinWatermark`) live in graft.streaming; these batch
  * forms are the oracle-checkable semantics they must agree with.
  *
  * Scale notes: every query shuffles at most once on its natural key
  * (bucket, user_id) and all pre-aggregation happens map-side. The as-of
  * join is the union+window pattern — one shuffle by user, one sort by
  * (ts, kind), no per-key nested loop — the standard way to align two
  * event streams at 100 TB without a quadratic range join.
  */
object Events {

  /** JSON extraction (F9): pull `props.k` out of the JSON string column and
    * aggregate it. get_json_object is a codegen'd path expression — no UDF.
    */
  def q20JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      // single-row-group input: parallelize the per-row JSON parse
      .spreadAcrossCores
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q20Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Variant-native JSON path (Spark 4 `VariantType`): `parse_json` decodes
    * `props` ONCE into Spark's binary semi-structured encoding, then every
    * downstream access (`variant_get` / `try_variant_get`, here three typed
    * extractions) is an O(field-seek) binary read — no re-parse per access,
    * unlike the string path in [[q20JsonExtract]] where each
    * `get_json_object` call re-tokenizes the JSON text. At 100 TB the
    * production form of this is parse-at-ingest: materialize the variant
    * column to parquet (Spark 4 writes/reads VariantType natively — pinned
    * by EventsSpec's round-trip test) so the corpus never stores or
    * re-parses JSON text again; this query is that read-side shape.
    * `try_variant_get` on a missing path shows the total (non-throwing)
    * access form used for schema-drifting inputs. Oracle: DuckDB's json
    * functions over the same strings produce identical scalars.
    */
  def q98VariantProps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      // single-row-group input: parallelize the per-row parse
      .spreadAcrossCores
      .withColumn("v", parse_json($"props"))
      .withColumn("k_long", variant_get($"v", "$.k", "long"))
      .withColumn("k_str", variant_get($"v", "$.k", "string"))
      .withColumn("k_absent", try_variant_get($"v", "$.absent", "long"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        count($"k_long").as("n_k"),
        sum($"k_long").as("sum_k"),
        max($"k_str").as("max_k_str"),
        count($"k_absent").as("n_absent"))
      .orderBy($"event_type")
  }

  val q98Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(json_extract_string(props, '$.k')) AS max_k_str,
      |  COUNT(CAST(json_extract_string(props, '$.absent') AS BIGINT)) AS n_absent
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q101 — the parse-at-ingest seam q98's scaladoc prescribes, end to
    * end as a declared query: [[graft.sources.Ingest.compactEventsVariant]]
    * materializes the events table with `props` decoded ONCE into a
    * stored VariantType parquet column, then the CONSUMER side reads the
    * compacted table back and answers the q98 aggregation with pure
    * `variant_get` binary reads — `parse_json` appears nowhere in the
    * consumer plan (EventsSpec pins this). Spark 4's variant SHREDDING
    * goes further: the typed `variant_get` accesses rewrite into struct
    * subcolumns of the parquet ReadSchema, so the scan reads the shredded
    * fields columnar-direct and no variant decode runs at all — at 100 TB
    * that is JSON analytics at plain-column scan cost. Same output columns and oracle
    * as q98: DuckDB's json functions over the original strings must
    * produce identical scalars, so the driver's hash gate checks the
    * whole ingest→store→read→extract path, not just the expression.
    *
    * The materialization lands in tmpfs scratch (the q49 mart pattern —
    * a production run compacts to the lakehouse); its cost is the
    * one-time ingest parse the production pipeline amortizes over every
    * later read.
    */
  def q101VariantIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = scratchDir("graft_variant_events")
    graft.sources.Ingest.compactEventsVariant(
      Tables.events(spark, dir).spreadAcrossCores,
      out)
    spark.read.parquet(out)
      .withColumn("k_long", variant_get($"props_v", "$.k", "long"))
      .withColumn("k_str", variant_get($"props_v", "$.k", "string"))
      .withColumn("k_absent", try_variant_get($"props_v", "$.absent", "long"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        count($"k_long").as("n_k"),
        sum($"k_long").as("sum_k"),
        max($"k_str").as("max_k_str"),
        count($"k_absent").as("n_absent"))
      .orderBy($"event_type")
  }

  /** tmpfs scratch for the ephemeral variant compaction (same policy and
    * rationale as ModelRunner's mart scratch), tracked + swept by
    * OpUtils.Scratch.
    */
  private def scratchDir(prefix: String): String = OpUtils.Scratch.dir(prefix)

  /** Tumbling one-hour windows (batch form of
    * `groupBy(window($"ts","1 hour"))`): bucket = date_trunc so the oracle
    * can express the identical grid.
    */
  def q21HourlyWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("win_start"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"win_start", $"event_type")
  }

  val q21Sql: String =
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
      |  COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY win_start, event_type""".stripMargin

  /** Sliding windows (2h window, 1h slide) via Spark's native `window()`
    * generator; each event lands in exactly two hourly-aligned windows,
    * which the oracle reproduces as a shifted UNION ALL.
    */
  def q22SlidingWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "2 hours", "1 hour").as("win"))
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .select($"win.start".as("win_start"), $"n", $"sum_value")
      .orderBy($"win_start")
  }

  val q22Sql: String =
    """SELECT win_start, COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT date_trunc('hour', ts) AS win_start, value FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, value FROM events) t
      |GROUP BY 1
      |ORDER BY win_start""".stripMargin

  /** Sessionization (batch form of `session_window`): 30-minute inactivity
    * gap, lag + running flag-sum. One shuffle by user_id; the session id is
    * a cumulative sum over a deterministic (ts, event_id) order.
    */
  def q23Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(byUser))
      .withColumn("new_session",
        when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_session")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id", $"session_id")
  }

  val q23Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
      |         OR LAG(epoch_us(ts), 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** As-of join: for every click, the most recent purchase (ts <= click ts)
    * by the same user. Implemented as union + last(ignoreNulls) over a
    * (ts, kind) ordered window — one shuffle on user_id, linear scan,
    * no quadratic range join. DuckDB checks it with a native ASOF JOIN.
    */
  def q24AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(0).as("kind"), lit(null).cast("long").as("event_id"),
        $"ts".as("purchase_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(1).as("kind"), $"event_id",
        lit(null).cast("timestamp").as("purchase_ts"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"kind", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.union(clicks)
      .withColumn("last_purchase_ts", last($"purchase_ts", ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      .select($"event_id", $"user_id", $"ts", $"last_purchase_ts")
      .orderBy($"event_id")
  }

  val q24Sql: String =
    """SELECT c.event_id, c.user_id, c.ts, p.ts AS last_purchase_ts
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  /** Distribution stats with deterministic floating point: stddev/variance
    * derived from exact decimal sum + sum-of-squares through an identical
    * IEEE expression tree on both engines (a native STDDEV would drift in
    * the last ulp with partitioned accumulation order).
    */
  def q25EventStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"),
        sum(dec($"value") * dec($"value")).cast("double").as("sum_sq"))
      .withColumn("avg_value", $"sum_value" / $"n")
      .withColumn("var_value",
        ($"sum_sq" - $"sum_value" * $"sum_value" / $"n") / ($"n" - 1))
      .withColumn("std_value", sqrt($"var_value"))
      .select($"event_type", $"n", $"sum_value", $"avg_value", $"var_value", $"std_value")
      .orderBy($"event_type")
  }

  val q25Sql: String =
    """WITH s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_sq
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n, sum_value,
      |  sum_value / n AS avg_value,
      |  (sum_sq - sum_value * sum_value / n) / (n - 1) AS var_value,
      |  SQRT((sum_sq - sum_value * sum_value / n) / (n - 1)) AS std_value
      |FROM s
      |ORDER BY event_type""".stripMargin

  /** Skew-salted join, declared and oracle-checked: events join a derived
    * per-type dimension (count + exact decimal sum) through
    * [[Joins.saltedJoin]] — 5 distinct event_type values over ~100k rows
    * is exactly the "one hot key per executor" shape salting exists for.
    * The salt is semantically invisible (the oracle is the plain join),
    * which is the point: this query pins saltedJoin == join at the
    * driver's hash gate, not just in a unit test.
    *
    * "Above average" is decided in exact decimal arithmetic
    * (`value * n_type > sum_v` — no decimal division, whose precision
    * rules differ between engines), and the reported sum routes through
    * DECIMAL→STRING→DOUBLE per the oracle-parity discipline.
    *
    * Scale: the dim is tiny (one row per type) so Catalyst broadcasts
    * the replicated side and the salt collapses to a broadcast-join
    * no-op; when the right side exceeds the broadcast threshold the same
    * plan becomes a shuffle join on (key, salt) with the hot key spread
    * over saltFactor tasks — the behavior JoinsSpec pins.
    */
  def q57SaltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val dim = ev.groupBy($"event_type").agg(
      count(lit(1)).as("n_type"),
      sum(dec($"value")).as("sum_v"))
    Joins.saltedJoin(ev, dim, "event_type", saltFactor = 8)
      .filter(dec($"value") * $"n_type" > $"sum_v")
      .groupBy($"event_type")
      .agg(
        first($"n_type").as("n_type"),
        count(lit(1)).as("n_above"),
        sum(dec($"value")).cast("string").cast("double").as("sum_above"))
      .select($"event_type", $"n_type", $"n_above", $"sum_above")
      .orderBy($"event_type")
  }

  val q57Sql: String =
    """WITH d AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS sum_v
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, d.n_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_above,
      |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_above
      |FROM events e JOIN d ON e.event_type = d.event_type
      |WHERE CAST(e.value AS DECIMAL(18,4)) * d.n_type > d.sum_v
      |GROUP BY 1, 2
      |ORDER BY 1""".stripMargin

  /** PII pseudonymization / redaction — the release-preparation pass a
    * corpus pipeline runs before events data leaves the trust boundary:
    * stable keyed pseudonyms for user identifiers (salted md5, so joins
    * on `pseudo_uid` still work but the raw id is gone; the salt is a
    * literal here, a secret in deployment), value generalization to
    * decade buckets (k-anonymity-style coarsening), and digit-run
    * redaction inside the free-form JSON props (with a count of redacted
    * spans for audit). Pure map — codegen'd hash/regexp expressions, no
    * UDFs, no shuffle at any scale except the declared output ordering.
    */
  def q60Pseudonymize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .spreadAcrossCores
      .select(
        $"event_id",
        substring(md5(concat(lit("uid:"), $"user_id".cast("string"))), 1, 16)
          .as("pseudo_uid"),
        $"event_type",
        (floor($"value" / 10) * 10).cast("long").as("value_bucket"),
        regexp_replace($"props", "[0-9]+", "#").as("props_redacted"),
        size(regexp_extract_all($"props", lit("[0-9]+"), lit(0)))
          .cast("long").as("n_redacted"))
      .orderBy($"event_id")
  }

  val q60Sql: String =
    """SELECT event_id,
      |  substr(md5('uid:' || CAST(user_id AS VARCHAR)), 1, 16) AS pseudo_uid,
      |  event_type,
      |  CAST(floor(value / 10) * 10 AS BIGINT) AS value_bucket,
      |  regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
      |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redacted
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Outlier flagging — the pre-training outlier-removal pass (drop
    * records beyond 2 sigma of their stratum before the data enters a
    * training mix). Per-type moments come from exact decimal sums (q25's
    * determinism discipline: identical IEEE trees on both engines, so
    * even the boundary comparisons agree bit-for-bit); the tiny stats
    * relation broadcasts back onto the fact stream and the flag test
    * `(value - avg)^2 > 4·var` is a pure map — one aggregation + one
    * broadcast join at any scale.
    */
  def q67OutlierFlags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val stats = ev.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"),
        sum(dec($"value") * dec($"value")).cast("double").as("sum_sq"))
      .withColumn("avg_value", $"sum_value" / $"n")
      .withColumn("var_value",
        ($"sum_sq" - $"sum_value" * $"sum_value" / $"n") / ($"n" - 1))
      .select($"event_type", $"avg_value", $"var_value")
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(($"value" - $"avg_value") * ($"value" - $"avg_value") >
        lit(4.0) * $"var_value")
      .select($"event_id", $"event_type", $"value", $"avg_value", $"var_value")
      .orderBy($"event_id")
  }

  val q67Sql: String =
    """WITH s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_sq
      |  FROM events GROUP BY event_type),
      |st AS (SELECT event_type, sum_value / n AS avg_value,
      |         (sum_sq - sum_value * sum_value / n) / (n - 1) AS var_value
      |       FROM s)
      |SELECT e.event_id, e.event_type, e.value, st.avg_value, st.var_value
      |FROM events e JOIN st USING (event_type)
      |WHERE (e.value - st.avg_value) * (e.value - st.avg_value) > 4.0 * st.var_value
      |ORDER BY e.event_id""".stripMargin

  /** q93 — weekly cohort retention, the classic product-analytics table:
    * users grouped by first-seen week (ISO Monday truncation, identical
    * in both engines), each cohort's active-user count at every later
    * week offset, and the retention fraction. The week offset is exact
    * BIGINT arithmetic on microsecond epochs of the two truncated weeks
    * (`unix_micros` div the week's microsecond length — never a double
    * datediff); retention is one double division of two exact counts.
    *
    * Scale shape: first-seen is one (user_id) aggregate; the activity
    * relation joins it back on user_id (broadcast at fixture SF, shuffle
    * join at 100 TB — users are corpus-sized); then a (cohort, offset)
    * aggregate whose output is weeks² — tiny. The per-user distinct is
    * map-side-combinable. Mirrors the reference's notebook aggregation
    * layer (monthly ridership rollups) at the user grain.
    */
  def q93CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ew = Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("w"))
    val firsts = ew.groupBy($"user_id").agg(min($"w").as("cw"))
      .localCheckpoint() // feeds the offset join and the cohort sizes
    val active = ew.distinct()
    val counts = active.join(firsts, Seq("user_id"))
      .select($"cw",
        expr("(unix_micros(w) - unix_micros(cw)) div 604800000000").as("week_offset"))
      .groupBy($"cw", $"week_offset")
      .agg(count(lit(1)).as("n_active"))
    val sizes = firsts.groupBy($"cw").agg(count(lit(1)).as("cohort_size"))
    counts.join(broadcast(sizes), Seq("cw"))
      .select($"cw".cast("date").as("cohort_week"), $"week_offset",
        $"n_active", $"cohort_size",
        ($"n_active".cast("double") / $"cohort_size").as("retention"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q93Sql: String =
    """WITH ew AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
      |f AS (SELECT user_id, MIN(w) AS cw FROM ew GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, w FROM ew),
      |j AS (SELECT f.cw,
      |        (epoch_us(a.w) - epoch_us(f.cw)) // 604800000000 AS week_offset
      |      FROM a JOIN f USING (user_id)),
      |c AS (SELECT cw, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
      |      FROM j GROUP BY 1, 2),
      |s AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1)
      |SELECT c.cw AS cohort_week, CAST(c.week_offset AS BIGINT) AS week_offset,
      |  n_active, cohort_size,
      |  CAST(n_active AS DOUBLE) / cohort_size AS retention
      |FROM c JOIN s USING (cw)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** q94 — signup→purchase conversion funnel: for every signup event,
    * did the same user purchase within 7 days, rolled up by signup week.
    * The "first purchase at-or-after each signup" comes from the q24
    * union+window pattern, not an interval join: one shuffle by user,
    * one descending sort, a running MIN of purchase epochs over the
    * [unbounded-preceding, current] frame — each signup row then carries
    * its next purchase timestamp and the horizon check is a BIGINT
    * comparison. Tie convention at identical timestamps follows the
    * (ts, event_id) descending order, mirrored exactly in the oracle.
    *
    * Scale shape: the window is the only shuffle (by user_id); the
    * result aggregate is weeks-sized. An interval join would touch
    * signups x purchases per user; the running-min frame is linear in
    * the user's event count.
    */
  def q94ConversionFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_type", $"event_id")
      .filter($"event_type".isin("signup", "purchase"))
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("next_purchase_us",
        min(when($"event_type" === "purchase", expr("unix_micros(ts)"))).over(w))
      .filter($"event_type" === "signup")
      .select(date_trunc("week", $"ts").as("signup_week"),
        ($"next_purchase_us".isNotNull &&
          $"next_purchase_us" - expr("unix_micros(ts)") <= lit(604800000000L))
          .as("converted"))
      .groupBy($"signup_week")
      .agg(count(lit(1)).as("n_signups"),
        sum(when($"converted", 1L).otherwise(0L)).as("n_converted"))
      .select($"signup_week".cast("date").as("signup_week"),
        $"n_signups", $"n_converted",
        ($"n_converted".cast("double") / $"n_signups").as("conversion"))
      .orderBy($"signup_week")
  }

  val q94Sql: String =
    """WITH ev AS (SELECT user_id, ts, event_type, event_id FROM events
      |            WHERE event_type IN ('signup', 'purchase')),
      |n AS (SELECT user_id, ts, event_type,
      |        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |          OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_purchase_us
      |      FROM ev),
      |s AS (SELECT date_trunc('week', ts) AS signup_week,
      |        (next_purchase_us IS NOT NULL
      |          AND next_purchase_us - epoch_us(ts) <= 604800000000) AS converted
      |      FROM n WHERE event_type = 'signup')
      |SELECT signup_week, CAST(COUNT(*) AS BIGINT) AS n_signups,
      |  CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      |  CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS conversion
      |FROM s
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q140 — multi-touch (linear) attribution: every purchase's value is
    * split evenly across the user's clicks in the trailing 7 days, the
    * remainder cent going to the LAST touch, and purchases with no
    * preceding click fall into a `direct` bucket — the marketing-
    * attribution job behind every "credited revenue by day" dashboard.
    * The split is exact integer arithmetic end-to-end: value frozen to
    * micro-units at the leaf, per-touch share `v div n` (both engines
    * floor non-negatives), last-touch credit `v − (v div n)·(n−1)` — so
    * Σcredits == Σpurchase values EXACTLY, by construction, and the
    * spec pins that conservation law (a float split could never).
    *
    * Scale shape: the purchase×click pairing is a user-keyed equi-join
    * (the q24/q43 discipline — the time predicate rides the hash join
    * as a post-filter; per-user fan-out is bounded by activity, and a
    * pathological user is exactly the q57 salting case). The per-
    * purchase count and last-touch rank are two windows on ONE
    * purchase-id partitioning, then both branches aggregate map-side
    * to days.
    */
  def q140MultiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), unix_micros($"ts").as("pt"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"),
        to_date($"ts").as("p_day"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("c_id"), unix_micros($"ts").as("ct"),
        to_date($"ts").as("c_day"))
    val touches = purchases.join(clicks, Seq("user_id"))
      .filter($"ct" >= $"pt" - lit(604800000000L) && $"ct" < $"pt")
    val byPurchase = Window.partitionBy($"p_id")
    val credited = touches
      .withColumn("n", count(lit(1)).over(byPurchase))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"p_id").orderBy($"ct".desc, $"c_id".desc)))
      .withColumn("credit",
        when($"rn" === 1, $"v" - expr("v div n") * ($"n" - 1))
          .otherwise(expr("v div n")))
      .groupBy($"c_day".as("day"))
      .agg(count(lit(1)).as("n_touches"), sum($"credit").as("credited_micro"))
      .withColumn("kind", lit("click"))
    val direct = purchases
      .join(touches.select($"p_id").distinct(), Seq("p_id"), "left_anti")
      .groupBy($"p_day".as("day"))
      .agg(count(lit(1)).as("n_touches"), sum($"v").as("credited_micro"))
      .withColumn("kind", lit("direct"))
    credited.unionByName(direct)
      .select($"kind", $"day", $"n_touches", $"credited_micro")
      .orderBy($"kind", $"day")
  }

  val q140Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS pt,
      |         CAST(round(value * 1000000) AS BIGINT) AS v,
      |         CAST(ts AS DATE) AS p_day
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS ct,
      |        CAST(ts AS DATE) AS c_day
      |      FROM events WHERE event_type = 'click'),
      |t AS (SELECT p.p_id, p.v, c.c_id, c.ct, c.c_day
      |      FROM p JOIN c USING (user_id)
      |      WHERE c.ct >= p.pt - 604800000000 AND c.ct < p.pt),
      |r AS (SELECT *, count(*) OVER (PARTITION BY p_id) AS n,
      |        row_number() OVER (PARTITION BY p_id
      |                           ORDER BY ct DESC, c_id DESC) AS rn
      |      FROM t),
      |ca AS (SELECT 'click' AS kind, c_day AS day,
      |         CAST(count(*) AS BIGINT) AS n_touches,
      |         CAST(sum(CASE WHEN rn = 1 THEN v - (v // n) * (n - 1)
      |                       ELSE v // n END) AS BIGINT) AS credited_micro
      |       FROM r GROUP BY 2),
      |dr AS (SELECT 'direct' AS kind, p_day AS day,
      |         CAST(count(*) AS BIGINT) AS n_touches,
      |         CAST(sum(v) AS BIGINT) AS credited_micro
      |       FROM p WHERE p_id NOT IN (SELECT DISTINCT p_id FROM t)
      |       GROUP BY 2)
      |SELECT * FROM ca UNION ALL SELECT * FROM dr
      |ORDER BY kind, day""".stripMargin

  /** q141 — strict ordered-sequence funnel (signup → click → purchase,
    * each step within 24 h of the previous): unlike q94's loose "ever
    * converted" funnel, each step must follow the PREVIOUS MATCHED
    * step — the sequence-matching semantics of SQL MATCH_RECOGNIZE /
    * funnel engines, expressed with the engine's primitives.
    *
    * Step 2 is a RANGE-frame window on epoch micros — `min(click ts)
    * over (partition by user order by t RANGE BETWEEN 1 FOLLOWING AND
    * 24h FOLLOWING)` — one user-keyed shuffle, no self-join, frame
    * evaluation linear per user (Spark's sliding-frame aggregation).
    * Step 3's window anchors at step 2's MATCH time (t2, different per
    * row), which no frame can express — it is a user-keyed equi-join
    * against purchases with the (t2, t2+24h] predicate as a post-join
    * filter + min aggregate (the q140 pairing shape). Counts per
    * signup day are exact integers; the DuckDB oracle evaluates the
    * same sequence with correlated scalar subqueries — an entirely
    * different mechanism (per-row re-scan vs frame + join) agreeing on
    * every match time.
    */
  def q141SequenceFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gap = 86400000000L
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("t"),
        to_date($"ts").as("day"))
    val stepFrame = Window.partitionBy($"user_id").orderBy($"t")
      .rangeBetween(1L, gap)
    val s2 = ev
      .withColumn("t2", min(when($"event_type" === "click", $"t")).over(stepFrame))
      .filter($"event_type" === "signup")
      .select($"user_id", $"t", $"t2", $"day")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"t".as("p_t"))
    val s3 = s2.filter($"t2".isNotNull)
      .join(purchases, Seq("user_id"))
      .filter($"p_t" > $"t2" && $"p_t" <= $"t2" + gap)
      .groupBy($"user_id", $"t")
      .agg(min($"p_t").as("t3"))
    s2.join(s3, Seq("user_id", "t"), "left_outer")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_signups"),
        count($"t2").as("n_clicked"),
        count($"t3").as("n_completed"))
      .orderBy($"day")
  }

  val q141Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
      |             CAST(ts AS DATE) AS day
      |           FROM events),
      |s AS (SELECT user_id, t, day FROM e WHERE event_type = 'signup'),
      |s2 AS (SELECT s.*,
      |         (SELECT min(c.t) FROM e c
      |          WHERE c.user_id = s.user_id AND c.event_type = 'click'
      |            AND c.t > s.t AND c.t <= s.t + 86400000000) AS t2
      |       FROM s),
      |s3 AS (SELECT s2.*,
      |         (SELECT min(p.t) FROM e p
      |          WHERE p.user_id = s2.user_id AND p.event_type = 'purchase'
      |            AND p.t > s2.t2 AND p.t <= s2.t2 + 86400000000) AS t3
      |       FROM s2)
      |SELECT day, count(*) AS n_signups, count(t2) AS n_clicked,
      |       count(t3) AS n_completed
      |FROM s3 GROUP BY day ORDER BY day""".stripMargin

  /** q153 — cohort lifetime-value curves: q93's cohort × week-offset
    * grid carrying cumulative purchase VALUE per user instead of
    * retention counts — the LTV table every growth dashboard draws.
    * Purchase value frozen to micro-units at the leaf; the cumulative
    * sum is a window over the (cohorts × offsets)-sized relation
    * (weeks-of-history, never data-sized); per-user LTV is integral
    * division on non-negative terms (floor in both engines). Week
    * arithmetic is exact BIGINT on epoch micros (the q93 discipline).
    */
  def q153CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val first = ev.groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cw"))
    val sizes = first.groupBy($"cw").agg(count(lit(1)).as("n_users"))
    val rev = ev.filter($"event_type" === "purchase")
      .join(first, Seq("user_id"))
      .groupBy($"cw",
        expr("(unix_micros(date_trunc('week', ts)) - unix_micros(cw)) div 604800000000")
          .as("week_offset"))
      .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v"))
    val wCum = Window.partitionBy($"cw").orderBy($"week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_micro", sum($"v").over(wCum))
      .join(sizes, Seq("cw"))
      .select(to_date($"cw").as("cohort_week"), $"week_offset", $"n_users",
        $"cum_micro", expr("cum_micro div n_users").as("ltv_per_user_micro"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q153Sql: String =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cw
      |  FROM events GROUP BY 1),
      |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM f GROUP BY 1),
      |rev AS (
      |  SELECT f.cw,
      |         (epoch_us(date_trunc('week', e.ts)) - epoch_us(f.cw))
      |           // 604800000000 AS week_offset,
      |         CAST(sum(CAST(round(e.value * 1000000) AS BIGINT)) AS BIGINT) AS v
      |  FROM events e JOIN f ON e.user_id = f.user_id
      |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      |c AS (SELECT cw, week_offset,
      |        CAST(sum(v) OVER (PARTITION BY cw ORDER BY week_offset)
      |             AS BIGINT) AS cum_micro
      |      FROM rev)
      |SELECT CAST(c.cw AS DATE) AS cohort_week, c.week_offset, sz.n_users,
      |       c.cum_micro, c.cum_micro // sz.n_users AS ltv_per_user_micro
      |FROM c JOIN sz ON sz.cw = c.cw
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** q163 — two-proportion A/B z-test, sqrt-free and division-free
    * until the final emitted quotient: customers split into arms by
    * `c_custkey % 2` (the deterministic assignment an experimentation
    * platform's hash bucketing reduces to), conversion = placed at
    * least one URGENT-priority order (non-degenerate at every shipped
    * SF: ~87% base rate — "every user purchases" made the events
    * table's purchase flag constant, and a constant outcome zeroes the
    * pooled variance). The pooled z² statistic is algebraically
    * cleared of every
    * fraction: z² = (c_a·n_b − c_b·n_a)²·n / (n_a·n_b·c·(n−c)), so
    * the significance decision `z² ≥ 1.96²` becomes the pure integer
    * comparison `num²·n·10⁴ ≥ 38416·n_a·n_b·c·(n−c)` with the 38416
    * basis-point constant FROZEN in both engines (the q150 discipline —
    * no libm, no sqrt, no float anywhere). num² is non-negative so the
    * emitted z²-in-micro quotient floors identically under `div`/`//`.
    * Cross-products are DECIMAL(38,0)/HUGEINT: num²·n·10⁶ ≈ 8e26 at
    * sf0.1 — far past BIGINT.
    *
    * Scale shape: one hash aggregate per user (map-side combinable) to
    * conversion flags, one 2-row arm aggregate, then scalar algebra on
    * broadcast one-row relations. Output is one row at any scale.
    */
  def q163AbZTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val arms = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(max(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L))
        .as("conv"))
      .groupBy(pmod($"c_custkey", lit(2L)).as("arm"))
      .agg(count(lit(1)).as("n_users"), sum($"conv").as("n_conv"))
    val a = arms.filter($"arm" === 0)
      .select($"n_users".as("n_a"), $"n_conv".as("c_a"))
    val b = arms.filter($"arm" === 1)
      .select($"n_users".as("n_b"), $"n_conv".as("c_b"))
    a.crossJoin(broadcast(b))
      .withColumn("n", $"n_a" + $"n_b")
      .withColumn("c", $"c_a" + $"c_b")
      .withColumn("num",
        expr("CAST(c_a AS DECIMAL(38,0)) * n_b - CAST(c_b AS DECIMAL(38,0)) * n_a"))
      .select($"n_a", $"c_a", $"n_b", $"c_b",
        expr("""CAST(num * num * n * 1000000
                     div (CAST(n_a AS DECIMAL(38,0)) * n_b * c * (n - c))
                     AS BIGINT)""").as("z2_micro"),
        expr("""num * num * n * 10000
                >= CAST(38416 AS DECIMAL(38,0)) * n_a * n_b * c * (n - c)""")
          .as("significant"))
  }

  val q163Sql: String =
    """WITH u AS (
      |  SELECT c.c_custkey,
      |         max(CASE WHEN o.o_orderpriority = '1-URGENT'
      |                  THEN 1 ELSE 0 END) AS conv
      |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |arms AS (SELECT c_custkey % 2 AS arm, CAST(count(*) AS BIGINT) AS n_users,
      |                CAST(sum(conv) AS BIGINT) AS n_conv
      |         FROM u GROUP BY 1),
      |ab AS (SELECT
      |         max(CASE WHEN arm = 0 THEN n_users END) AS n_a,
      |         max(CASE WHEN arm = 0 THEN n_conv END) AS c_a,
      |         max(CASE WHEN arm = 1 THEN n_users END) AS n_b,
      |         max(CASE WHEN arm = 1 THEN n_conv END) AS c_b
      |       FROM arms),
      |x AS (SELECT n_a, c_a, n_b, c_b, n_a + n_b AS n, c_a + c_b AS c,
      |        CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a AS num
      |      FROM ab)
      |SELECT n_a, c_a, n_b, c_b,
      |       CAST(num * num * n * 1000000
      |            // (CAST(n_a AS HUGEINT) * n_b * c * (n - c)) AS BIGINT)
      |         AS z2_micro,
      |       num * num * n * 10000
      |         >= CAST(38416 AS HUGEINT) * n_a * n_b * c * (n - c)
      |         AS significant
      |FROM x""".stripMargin

  /** q164 — Kaplan–Meier survival curve for signup→first-purchase
    * time-to-event, right-censored at the observation horizon (the
    * global last day): per duration day t, the risk set n_t, events
    * d_t, censorings c_t, and the log-survival curve
    * `ln S(t) = Σ_{i≤t} ln((n_i − d_i)/n_i)` carried in FROZEN integer
    * micro-nats — each term is the ln of a ratio of EXACT integers,
    * rounded half-up to micro-nats in both engines (the Selection
    * module's q76/q84 discipline), so the curve aggregation itself is
    * exact BIGINT arithmetic and hash-gates. Degenerate plateaus
    * (d_t = n_t, S hits 0) emit a NULL term in both engines — sum
    * skips it identically (documented absorbing-state convention).
    *
    * Scale shape: per-user min-signup and first-purchase-after-signup
    * are two map-side-combinable aggregates sharing one user_id
    * shuffle (the purchase side equi-joins the signup relation on
    * user_id, never an interval join); the KM table and its cumulative
    * windows live on the duration-day relation, bounded by the
    * calendar span, never by user count.
    */
  def q164SurvivalCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        expr("unix_micros(ts) div 86400000000").as("day"))
    val su = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"day").as("s_day"))
    val pu = ev.filter($"event_type" === "purchase")
      .join(su, "user_id")
      .filter($"day" >= $"s_day")
      .groupBy($"user_id").agg(min($"day" - $"s_day").as("dur"))
    val horizon = ev.agg(max($"day").as("h_day"))
    val obs = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(coalesce($"dur", $"h_day" - $"s_day").as("t"),
        $"dur".isNotNull.as("is_event"))
    val km = obs.groupBy($"t").agg(
      sum(when($"is_event", 1L).otherwise(0L)).as("d"),
      sum(when($"is_event", 0L).otherwise(1L)).as("c"))
    // duration-day-sized relation: both windows are bounded by the
    // calendar span, not the user population
    val wPrior = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km.crossJoin(broadcast(obs.agg(count(lit(1)).as("n_total"))))
      .withColumn("n_risk",
        $"n_total" - coalesce(sum($"d" + $"c").over(wPrior), lit(0L)))
      .withColumn("term",
        when($"d" === 0, 0L)
          .when($"n_risk" > $"d",
            round(log(($"n_risk" - $"d").cast("double") /
              $"n_risk".cast("double")) * 1e6).cast("long")))
      .select($"t", $"n_risk", $"d", $"c",
        sum($"term").over(wCum).as("ln_surv_micro"))
      .orderBy($"t")
  }

  val q164Sql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |              epoch_us(ts) // 86400000000 AS day FROM events),
      |su AS (SELECT user_id, min(day) AS s_day FROM ev
      |       WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (SELECT e.user_id, min(e.day - su.s_day) AS dur
      |       FROM ev e JOIN su ON e.user_id = su.user_id
      |       WHERE e.event_type = 'purchase' AND e.day >= su.s_day
      |       GROUP BY 1),
      |h AS (SELECT max(day) AS h_day FROM ev),
      |obs AS (SELECT COALESCE(pu.dur, h.h_day - su.s_day) AS t,
      |               pu.dur IS NOT NULL AS is_event
      |        FROM su LEFT JOIN pu ON su.user_id = pu.user_id, h),
      |km AS (SELECT t,
      |         CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |         CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS c
      |       FROM obs GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs),
      |r AS (SELECT t, d, c,
      |        n_total - COALESCE(CAST(sum(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS n_risk
      |      FROM km, n),
      |tm AS (SELECT t, n_risk, d, c,
      |         CASE WHEN d = 0 THEN 0
      |              WHEN n_risk > d THEN CAST(round(ln(
      |                CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |                * 1000000) AS BIGINT)
      |         END AS term
      |       FROM r)
      |SELECT t, n_risk, d, c,
      |       CAST(sum(term) OVER (ORDER BY t) AS BIGINT) AS ln_surv_micro
      |FROM tm ORDER BY t""".stripMargin

  /** q165 — schema-evolution merge read at the ingest seam: epoch-1
    * producers wrote events WITHOUT the (later-added) `event_type`
    * column; epoch-2 producers write it. The lake read unifies both
    * vintages with `mergeSchema` — parquet footer reconciliation, v1
    * rows surfacing NULL for the added column — and the consumer
    * aggregates across vintages with an explicit `unknown` bucket for
    * pre-evolution rows. The oracle reproduces the same relation
    * directly from the harness events table (vintage = event_id
    * parity), so the driver hash gate covers write → evolve → merge →
    * read, the whole seam, not just the aggregation.
    *
    * Scale: schema merge is footer-only work (per-file, no data
    * rewrite — exactly why added-column evolution is free in a
    * parquet lake); the vintage split lands in tmpfs scratch (the
    * q101 pattern — a production lake accretes vintages in place).
    */
  def q165SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = scratchDir("graft_evolve_events")
    val ev = Tables.events(spark, dir)
    ev.filter(pmod($"event_id", lit(2L)) === 0)
      .select($"event_id", $"ts", $"user_id", $"value")
      .write.mode("overwrite").parquet(s"$out/vintage=1")
    ev.filter(pmod($"event_id", lit(2L)) === 1)
      .select($"event_id", $"ts", $"user_id", $"value", $"event_type")
      .write.mode("overwrite").parquet(s"$out/vintage=2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$out/vintage=1", s"$out/vintage=2")
      .groupBy(coalesce($"event_type", lit("unknown")).as("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"event_type")
  }

  val q165Sql: String =
    """SELECT CASE WHEN event_id % 2 = 1 THEN event_type
      |            ELSE 'unknown' END AS event_type,
      |       COUNT(*) AS n,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
      |         AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q166 — incremental aggregate maintenance (the IVM primitive /
    * rollup-store pattern): the nightly (event_type, day) rollup for
    * the OLDER half of the calendar is materialized to the store once;
    * the consumer answers the per-type total by MERGING the stored
    * partials with a rollup of only the newer half — additive
    * aggregates (count, exact micro-unit sum) re-aggregate exactly,
    * and the day-slice count proves the grain survived the merge. The
    * oracle answers from the raw fact directly, so the driver hash
    * gate proves stored-partials + delta == full recomputation — the
    * contract that lets a 100 TB pipeline pay for history once and
    * touch only the fresh partition per run (the q103 incremental-
    * model seam, expressed at the aggregate layer; EventsSpec pins
    * that the merged plan scans the raw fact exactly once, for the
    * delta).
    *
    * The split day is read driver-side from a one-row min/max
    * aggregate (tiny-scalar meta read, the Dedup precedent) — in
    * production it is the stored rollup's own high-watermark.
    */
  def q166IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = scratchDir("graft_ivm_rollup")
    def daily(df: DataFrame) = df
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"), sum($"v").as("v_micro"))
    val ev = Tables.events(spark, dir)
      .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
    val mm = ev.agg(min($"day"), max($"day")).collect()(0)
    val split = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0) + 1) / 2
    daily(ev.filter($"day" < split)).write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .unionByName(daily(ev.filter($"day" >= split)))
      .groupBy($"event_type")
      .agg(sum($"n").as("n"), count(lit(1)).as("n_days"),
        sum($"v_micro").as("value_micro"))
      .orderBy($"event_type")
  }

  val q166Sql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |             CAST(round(value * 1000000) AS BIGINT) AS v
      |           FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
      |       CAST(sum(v) AS BIGINT) AS value_micro
      |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q167 — top session paths (clickstream path analysis): the ten most
    * common event-type journeys within a q23 session (same 30-minute
    * inactivity boundary, same window construction). Path order is NOT
    * collect_list arrival order — the q128 discipline: events are
    * sorted by `array_sort` over structs whose FIELD ORDER is the sort
    * key (epoch-micros, then event_id as the tie-break mirrored in the
    * oracle's `ORDER BY ts, event_id`), so the string is deterministic
    * on both engines; the top-10 boundary is tie-broken by path text.
    *
    * Scale shape: one user_id shuffle for the session windows, one
    * hash aggregate per session (state bounded by session length — an
    * inactivity-bounded quantity, documented `slice` guard for
    * pathological never-idle keys), one aggregate over the path
    * dimension, TakeOrdered(10) — no global sort.
    */
  def q167TopSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(byUser))
      .withColumn("new_session",
        when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_session")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(collect_list(struct(unix_micros($"ts").as("us"), $"event_id",
        $"event_type")).as("evs"))
      .select(concat_ws(">",
        expr("transform(array_sort(evs), e -> e.event_type)")).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(10)
  }

  val q167Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
      |         OR LAG(epoch_us(ts), 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |paths AS (
      |  SELECT user_id, session_id,
      |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM sessions GROUP BY 1, 2)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM paths GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin

  /** q216 — regex over event sequences (MATCH_RECOGNIZE-lite): each
    * user's full event history is collapsed to an initial-letter string
    * in strict (ts, event_id) order — c/e/p/s/v for
    * click/error/purchase/signup/view — and behavioural patterns are
    * counted as ordinary regex matches over that string: `vp` (purchase
    * immediately after a view), `v+p` (a view streak ending in
    * purchase), `s[cv]*p` (signup converting through only clicks/views),
    * `ee` (back-to-back errors). This is the ad-hoc tier of sequence
    * analytics the fixed-shape funnels (q141 strict three-step, q94
    * conversion window) cannot express: any new behavioural question is
    * one more pattern literal, no new plan. Patterns stay inside the
    * Java∩RE2 common subset (literals, classes, `+`/`*` — no
    * backreferences or lookaround) so Spark's Java regex and the
    * oracle's RE2 count identical non-overlapping leftmost matches.
    *
    * Ordering rides the q167/q128 sorted-struct discipline
    * (`array_sort` over structs whose field order IS the sort key, with
    * event_id the unique tiebreak), so the sequence is deterministic
    * under any partitioning. Scale shape: one hash aggregation to
    * per-user sequences (state bounded by per-user activity — the same
    * per-entity-history contract as q167), a flatMap to (pattern, count)
    * pairs, and a map-side-combinable rollup to one row per pattern
    * with a user_id·count checksum pinning WHICH users matched, not
    * just how many.
    */
  def q216SequenceRegex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pats = Seq("vp", "v+p", "s[cv]*p", "ee")
    val seqs = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(collect_list(struct(unix_micros($"ts").as("us"), $"event_id",
        substring($"event_type", 1, 1).as("ini"))).as("evs"))
      .select($"user_id",
        concat_ws("", expr("transform(array_sort(evs), e -> e.ini)")).as("seq"))
    val perPat = seqs.select($"user_id", explode(array(pats.map(p =>
        struct(lit(p).as("pattern"),
          regexp_count($"seq", lit(p)).cast("long").as("cnt"))): _*)).as("m"))
      .select($"user_id", $"m.pattern".as("pattern"), $"m.cnt".as("cnt"))
    perPat.groupBy($"pattern")
      .agg(sum(when($"cnt" > 0, 1L).otherwise(0L)).as("n_users"),
        sum($"cnt").as("n_matches"),
        sum($"user_id" * $"cnt").as("user_checksum"))
      .orderBy($"pattern")
  }

  val q216Sql: String =
    """WITH seq AS (
      |  SELECT user_id,
      |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT user_id, 'vp' AS pattern,
      |         CAST(len(regexp_extract_all(s, 'vp')) AS BIGINT) AS cnt FROM seq
      |  UNION ALL SELECT user_id, 'v+p',
      |         CAST(len(regexp_extract_all(s, 'v+p')) AS BIGINT) FROM seq
      |  UNION ALL SELECT user_id, 's[cv]*p',
      |         CAST(len(regexp_extract_all(s, 's[cv]*p')) AS BIGINT) FROM seq
      |  UNION ALL SELECT user_id, 'ee',
      |         CAST(len(regexp_extract_all(s, 'ee')) AS BIGINT) FROM seq)
      |SELECT pattern,
      |       CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
      |       CAST(sum(cnt) AS BIGINT) AS n_matches,
      |       CAST(sum(user_id * cnt) AS BIGINT) AS user_checksum
      |FROM m GROUP BY pattern ORDER BY pattern""".stripMargin

  /** q196 — time-to-convert quartiles per signup cohort: among users
    * who DID purchase after signing up, the exact Q1/median/Q3 of the
    * signup→first-purchase delay (micros precision), grouped by signup
    * week — the "how fast" distribution that q164's survival curve
    * (which handles the censored non-converters) and q94's single
    * conversion rate both flatten. Skewed delays make means useless
    * here; quartiles are the readout, and they are EXACT low order
    * statistics by per-(cohort, day-bucket) rank arithmetic
    * ([[OpUtils.exactCuts]]) — never a sort, never a percentile
    * buffer, windows bounded by (cohort × delay-day) cells.
    *
    * Scale shape: two user_id hash aggregates build the per-user delay
    * relation (users-sized); the quartile scan runs over its DISTINCT
    * (cohort, delay) values; one broadcast of the cohort-sized cut
    * relation never re-touches the fact.
    */
  def q196ConvertQuartiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", expr("unix_micros(ts)").as("us"))
    val su = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"us").as("s_us"))
    val vals = ev.filter($"event_type" === "purchase")
      .join(su, "user_id")
      .filter($"us" >= $"s_us")
      .groupBy($"user_id")
      .agg(min($"us" - $"s_us").as("v"), min($"s_us").as("s_us"))
      .select(expr("s_us div 604800000000").as("wk"), $"v")
      .localCheckpoint() // feeds the cut scan and the cohort sizes
    OpUtils.exactCuts(vals, Seq("wk"), "v", expr("v div 86400000000"),
        ("q1_us", 1L, 4L), ("median_us", 1L, 2L), ("q3_us", 3L, 4L))
      .select($"wk".as("signup_week"), $"n".as("n_converters"),
        $"q1_us", $"median_us", $"q3_us")
      .orderBy($"signup_week")
  }

  val q196Sql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |            FROM events),
      |su AS (SELECT user_id, CAST(min(us) AS BIGINT) AS s_us
      |       FROM ev WHERE event_type = 'signup' GROUP BY 1),
      |d AS (SELECT ev.user_id,
      |        CAST(min(ev.us - su.s_us) AS BIGINT) AS v,
      |        CAST(min(su.s_us) AS BIGINT) AS s_us
      |      FROM ev JOIN su USING (user_id)
      |      WHERE ev.event_type = 'purchase' AND ev.us >= su.s_us
      |      GROUP BY 1),
      |x AS (SELECT s_us // 604800000000 AS wk, v FROM d),
      |n AS (SELECT wk, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1),
      |c AS (SELECT wk, v,
      |        CAST(sum(count(*)) OVER (PARTITION BY wk ORDER BY v)
      |             AS BIGINT) AS cum
      |      FROM x GROUP BY wk, v)
      |SELECT n.wk AS signup_week, n.n AS n_converters,
      |       (SELECT min(v) FROM c
      |        WHERE c.wk = n.wk AND cum * 4 >= n.n) AS q1_us,
      |       (SELECT min(v) FROM c
      |        WHERE c.wk = n.wk AND cum * 2 >= n.n) AS median_us,
      |       (SELECT min(v) FROM c
      |        WHERE c.wk = n.wk AND cum * 4 >= n.n * 3) AS q3_us
      |FROM n ORDER BY signup_week""".stripMargin

  /** q190 — Shannon-entropy census of each event type's value
    * distribution (decade buckets, q60's coarsening grid): the
    * information-theoretic dual of q84's KL — KL asks "how far is this
    * source from the corpus", entropy asks "does this dimension carry
    * signal at all" (H ≈ 0: constant column, drop it from features;
    * H ≈ H_max: uniform noise). The q84/q76 freeze discipline:
    * `H = Σ (c/N)·ln(N/c)` with each per-bucket term frozen to
    * micro-nats — `c·round(ln(N/c)·10⁶)` — so the sum is exact BIGINT
    * and order-invariant; ln(N/c) ≥ 0 always (c ≤ N), no sign-split.
    * `h_max_micro = round(ln(n_buckets)·10⁶)` rides along so the
    * normalized evenness H/H_max is one consumer-side division.
    *
    * Scale shape: one (type, bucket) map-side-combinable aggregate
    * (state bounded by types × decades), windows never touch the fact;
    * output is |types| rows at any scale.
    */
  def q190EntropyCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, dir)
      .select($"event_type", (floor($"value" / 10) * 10).cast("long").as("bkt"))
      .groupBy($"event_type", $"bkt").agg(count(lit(1)).as("c"))
    val types = cells.groupBy($"event_type")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_buckets"))
    cells.join(broadcast(types), Seq("event_type"))
      .withColumn("term_micro",
        $"c" * round(log($"n".cast("double") / $"c") * 1e6).cast("long"))
      .groupBy($"event_type")
      .agg(first($"n").as("n_events"), first($"n_buckets").as("n_buckets"),
        expr("sum(term_micro) div first(n)").as("h_micro"),
        round(log(first($"n_buckets").cast("double")) * 1e6).cast("long")
          .as("h_max_micro"))
      .orderBy($"event_type")
  }

  val q190Sql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(floor(value / 10) * 10 AS BIGINT) AS bkt,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
      |        CAST(count(*) AS BIGINT) AS n_buckets
      |      FROM cells GROUP BY 1)
      |SELECT cells.event_type, any_value(t.n) AS n_events,
      |       any_value(t.n_buckets) AS n_buckets,
      |       CAST(sum(c * CAST(round(ln(CAST(t.n AS DOUBLE) / c) * 1000000.0)
      |                         AS BIGINT)) AS BIGINT) // any_value(t.n)
      |         AS h_micro,
      |       CAST(round(ln(CAST(any_value(t.n_buckets) AS DOUBLE))
      |                  * 1000000.0) AS BIGINT) AS h_max_micro
      |FROM cells JOIN t USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_entropy_census" -> (q190EntropyCensus _),
    "q196_convert_quartiles" -> (q196ConvertQuartiles _),
    "q166_incremental_rollup" -> (q166IncrementalRollup _),
    "q167_top_session_paths" -> (q167TopSessionPaths _),
    "q216_sequence_regex" -> (q216SequenceRegex _),
    "q163_ab_ztest" -> (q163AbZTest _),
    "q164_survival_curve" -> (q164SurvivalCurve _),
    "q165_schema_evolution" -> (q165SchemaEvolution _),
    "q153_cohort_ltv" -> (q153CohortLtv _),
    "q140_multi_touch_attribution" -> (q140MultiTouchAttribution _),
    "q141_sequence_funnel" -> (q141SequenceFunnel _),
    "q93_cohort_retention" -> (q93CohortRetention _),
    "q94_conversion_funnel" -> (q94ConversionFunnel _),
    "q67_outlier_flags" -> (q67OutlierFlags _),
    "q60_pseudonymize" -> (q60Pseudonymize _),
    "q20_json_extract" -> (q20JsonExtract _),
    "q98_variant_props" -> (q98VariantProps _),
    "q101_variant_ingest" -> (q101VariantIngest _),
    "q21_hourly_windows" -> (q21HourlyWindows _),
    "q22_sliding_windows" -> (q22SlidingWindows _),
    "q23_sessionize" -> (q23Sessionize _),
    "q24_asof_join" -> (q24AsofJoin _),
    "q25_event_stats" -> (q25EventStats _),
    "q57_salted_skew_join" -> (q57SaltedSkewJoin _))

  val oracleSql: Map[String, String] = Map(
    "q190_entropy_census" -> q190Sql,
    "q196_convert_quartiles" -> q196Sql,
    "q166_incremental_rollup" -> q166Sql,
    "q167_top_session_paths" -> q167Sql,
    "q216_sequence_regex" -> q216Sql,
    "q163_ab_ztest" -> q163Sql,
    "q164_survival_curve" -> q164Sql,
    "q165_schema_evolution" -> q165Sql,
    "q153_cohort_ltv" -> q153Sql,
    "q140_multi_touch_attribution" -> q140Sql,
    "q141_sequence_funnel" -> q141Sql,
    "q93_cohort_retention" -> q93Sql,
    "q94_conversion_funnel" -> q94Sql,
    "q67_outlier_flags" -> q67Sql,
    "q60_pseudonymize" -> q60Sql,
    "q20_json_extract" -> q20Sql,
    "q98_variant_props" -> q98Sql,
    "q101_variant_ingest" -> q98Sql, // same semantics, parse-at-ingest path
    "q21_hourly_windows" -> q21Sql,
    "q22_sliding_windows" -> q22Sql,
    "q23_sessionize" -> q23Sql,
    "q24_asof_join" -> q24Sql,
    "q25_event_stats" -> q25Sql,
    "q57_salted_skew_join" -> q57Sql)
}
