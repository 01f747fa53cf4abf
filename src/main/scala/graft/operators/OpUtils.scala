package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for oracle-parity queries (see Relational doc). */
object OpUtils {

  /** Cast a money-ish double to DECIMAL(18,4) so aggregation is exact and
    * order-independent — bit-stable across Spark and the DuckDB oracle
    * regardless of partitioning.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** The matching SQL fragment for the oracle side. */
  def decSql(expr: String): String = s"CAST($expr AS DECIMAL(18,4))"

  /** Distributed running sums: `df` plus one column per named weight,
    * the sum of that weight over all rows up to and including this one
    * in (`partition`, `bucket`, `order`) order. A rank is the running
    * sum of `lit(1L)` over a total order.
    *
    * Two levels instead of one single-partition window over `df`: rows
    * are grouped into `bucket`s (kept as column `bkt`), each bucket's
    * weights are summed, a window over that bucket table gives each
    * bucket's offset, the offsets are broadcast back, and each bucket
    * runs its own window with its offset added.
    *
    * Bound: the only window without a partition runs over ONE ROW PER
    * (partition, bucket), so its size is the bucket count, never the
    * row count. `bucket` must be monotone (non-decreasing) in `order`
    * within a partition, or the offsets are added in the wrong order.
    * Truncating `div` is monotone (bucket 0 is merely twice as wide,
    * spanning zero) and so is an arithmetic `>>`; a string prefix of a
    * string sort key is too.
    */
  def prefixSums(df: DataFrame, partition: Seq[String], bucket: Column,
      order: Seq[Column], weights: (String, Column)*): DataFrame = {
    val keys = partition :+ "bkt"
    val d = df.withColumn("bkt", bucket)
    val wOff = Window.partitionBy(partition.map(col): _*).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = weights.map { case (n, w) => sum(w).as(n) }
    val offs = d.groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)
      .select(keys.map(col) ++ weights.map { case (n, _) =>
        coalesce(sum(col(n)).over(wOff), lit(0L)).as(s"${n}_off") }: _*)
    val wIn = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(offs), keys)
      .withColumns(weights.map { case (n, w) =>
        n -> (sum(w).over(wIn) + col(s"${n}_off")) }.toMap)
      .drop(weights.map { case (n, _) => s"${n}_off" }: _*)
  }

  /** Exact cut points per group: for each `(name, num, den)` in `cuts`,
    * the smallest `v` whose cumulative count `cum` over the group's
    * values satisfies `cum·den ≥ n·num` (n = the group's row count), so
    * `(1, 2)` is the low median and `(1, 4)` the first quartile. `vals`
    * has one row per observation; the scan runs on its distinct
    * (partition, v) counts through [[prefixSums]], whose bound and
    * `bucket` rule apply. Returns one row per group: the `partition`
    * columns, `n`, and one column per cut.
    */
  def exactCuts(vals: DataFrame, partition: Seq[String], v: String,
      bucket: Column, cuts: (String, Long, Long)*): DataFrame = {
    val keys = partition.map(col)
    val cnts = vals.groupBy(keys :+ col(v): _*).agg(count(lit(1)).as("c"))
    val n = broadcast(vals.groupBy(keys: _*).agg(count(lit(1)).as("n")))
    val cum = prefixSums(cnts, partition, bucket, Seq(col(v)), "cum" -> col("c"))
    val mins = cuts.map { case (name, num, den) =>
      min(when(col("cum") * den >= col("n") * num, col(v))).as(name) }
    (if (partition.isEmpty) cum.crossJoin(n) else cum.join(n, partition))
      .groupBy(keys :+ col("n"): _*).agg(mins.head, mins.tail: _*)
  }

  /** Overlap INDEPENDENT bounded sub-pipelines on driver threads (r16,
    * guide §2.6 "overlap independent jobs"): Spark happily runs several
    * jobs at once inside one application — multi-arm rollups like the
    * q227 scorecard were paying their arms' eager construction work
    * (memo first-touch builds, per-arm probe/verify checkpoints) as a
    * SEQUENTIAL chain of ~40 sub-second jobs, leaving 31 of 32 cores
    * idle between stages. Each builder runs on its own thread and
    * materializes its (bounded, ≤ panel-sized) result via
    * `localCheckpoint`, so the later union consumes pre-computed leaves;
    * results return in INPUT order, so downstream unions stay
    * deterministic. Builders must be independent (no cross-arm
    * dataflow) — shared session memos are safe: SessionMemo cells are
    * computeIfAbsent + synchronized, so a concurrent first touch builds
    * once and blocks the others. Failures propagate (ExecutionException
    * unwrapped) — a failing arm fails the query loudly, same as the
    * sequential form. Pool size caps driver-side concurrency (enough to
    * fill a stage tail, not enough to thrash the scheduler — guide
    * §2.6's "2-3 in flight is plenty" scaled to 9 tiny arms).
    */
  def buildConcurrently(parts: Seq[() => org.apache.spark.sql.DataFrame],
      parallelism: Int = 8): Seq[org.apache.spark.sql.DataFrame] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, parts.size)))
    try {
      val futs = parts.map { p =>
        pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          override def call(): org.apache.spark.sql.DataFrame = p().localCheckpoint()
        })
      }
      futs.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** Fixture-parallelism spread, made scale-safe: the harness parquet is
    * a single row group (one scan partition), so CPU-bound per-row work
    * (regexp/split/cosine kernels) would run single-threaded without a
    * spread. But an UNCONDITIONAL `repartition(defaultParallelism)` is a
    * scale bug in the other direction — at 100 TB the scan already has
    * far more partitions than cores, and the "spread" becomes a
    * full-corpus shuffle DOWN to the core count. `spreadAcrossCores`
    * repartitions only when the input has fewer partitions than half the
    * session's cores (the ModelRunner discipline, `ModelRunner.scala:
    * 103-108`): a planning-time partition-count probe, no data movement
    * when the input already parallelizes. At fixture SF behavior is
    * identical to the old unconditional form.
    */
  implicit final class SpreadOps[T](private val ds: org.apache.spark.sql.Dataset[T])
      extends AnyVal {
    def spreadAcrossCores: org.apache.spark.sql.Dataset[T] = {
      val cores = ds.sparkSession.sparkContext.defaultParallelism
      // A plan that already contains a SHUFFLE exchange is post-shuffle:
      // its parallelism is spark.sql.shuffle.partitions (sized >= cores
      // by configuration discipline), so no spread is needed — and
      // probing it with .rdd would be actively harmful: under AQE,
      // .execute() EAGERLY materializes every upstream shuffle stage,
      // double-paying the pipeline once for the probe and once for the
      // real run. A BROADCAST exchange does NOT count (r12 advisor): a
      // broadcast-hash-join plan's output parallelism follows its
      // STREAMED side — at fixture scale often the 1-partition scan —
      // so broadcast-only plans must still be probed and spread. The
      // probe on a broadcast-only AQE plan materializes only the
      // (dimension-bounded) broadcast stage, which the real run then
      // reuses from the same cached final plan — no shuffle stage can
      // be double-paid because none exists in the plan.
      def hasShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.exists {
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
          // AQE's node is a leaf to `exists`; recurse into what it wraps
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            hasShuffle(a.inputPlan)
          case _ => false
        }
      if (hasShuffle(ds.queryExecution.executedPlan)) ds
      // shuffle-free plan (scan/checkpoint leaf + maps + broadcasts):
      // .rdd builds the DAG and at most the bounded broadcast stage —
      // a cheap planning-time partition-count probe
      else if (ds.rdd.getNumPartitions < math.max(2, cores / 2)) ds.repartition(cores)
      else ds
    }
  }

  /** F8: exact-k seeded random sample — `orderBy(rand(seed)).limit(k)`,
    * mirroring the reference's test pipeline
    * (`citibike_project/tests/pipeline.py:1-10`). Deterministic for a
    * fixed seed AND fixed partitioning; at scale prefer
    * `df.sample(fraction, seed)` (no global sort) when approximate k is
    * acceptable.
    */
  def seededSample(df: org.apache.spark.sql.DataFrame, k: Int, seed: Long): org.apache.spark.sql.DataFrame =
    df.orderBy(org.apache.spark.sql.functions.rand(seed)).limit(k)

  /** tmpfs scratch dirs for ephemeral per-query materializations (the
    * q49 mart, q101 variant compaction, q209 bucketed tables, …):
    * RAM-backed (/dev/shm) when available because the harness's
    * throttled block device dominates small-write round trips. A
    * production run materializes these to the lakehouse, not here.
    *
    * Leak-proofing (r10 advisor): dirs are tracked per prefix — a new
    * request for the same prefix deletes the previous run's dir first,
    * so benchmark reps stop accumulating RAM-backed parquet copies —
    * and a JVM shutdown hook sweeps whatever remains. Queries run
    * sequentially per prefix (each prefix belongs to exactly one
    * declared query), so replacing the previous dir is race-free in
    * every harness mode.
    */
  object Scratch {
    private val live =
      new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

    private def deleteRecursively(p: java.nio.file.Path): Unit =
      try {
        import scala.jdk.CollectionConverters._
        val all = java.nio.file.Files.walk(p).iterator().asScala.toSeq
        all.sortBy(-_.getNameCount).foreach { f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: java.io.IOException => () }

    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      live.values.forEach(deleteRecursively(_))
    }, "graft-scratch-sweep"))

    def dir(prefix: String): String = {
      val shm = new java.io.File("/dev/shm")
      val fresh =
        if (shm.isDirectory && shm.canWrite)
          java.nio.file.Files.createTempDirectory(shm.toPath, prefix)
        else java.nio.file.Files.createTempDirectory(prefix)
      val prev = live.put(prefix, fresh)
      if (prev != null) deleteRecursively(prev)
      fresh.toString
    }
  }

  /** Session-scoped memo for shared checkpointed materializations (the
    * dedup pair-table family, the q48 IVF pair table): one build per
    * (session, fixture dir, key), pinned against the harness
    * between-query block sweeps
    * ([[org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned]]) —
    * a swept localCheckpoint cannot recompute. Declared queries stay
    * standalone: first touch builds.
    *
    * Three-tier lifecycle:
    *  - '''hot''': the in-session map — localCheckpoint blocks, pinned.
    *  - '''warm''' (opt-in via `spark.graft.artifactDir`): every build is
    *    also materialized to parquet under a deterministic per-corpus
    *    path, and a FRESH session (driver restart — the production case)
    *    loads the artifact instead of rebuilding. The corpus fingerprint
    *    covers (name, length, mtime) of the fixture's files, so a
    *    changed corpus orphans old artifacts rather than wrongly reusing
    *    them. Unset (the default, and the driver's configuration) this
    *    tier is fully inert.
    *  - '''release''': [[SessionMemo.releaseAll]] / `Dedup.release` drop
    *    a (session, dir)'s entries, unpin and free their blocks; the
    *    next touch rebuilds (or reloads the artifact) correctly.
    *
    * Locking is per-(session,dir,key) cell so first-touch builds of
    * unrelated fixtures/keys don't serialize; the global map itself is a
    * ConcurrentHashMap. Build and artifact-load wall seconds land in a
    * process-wide ledger ([[SessionMemo.buildSeconds]]) keyed
    * `<memoName>.<key>` per corpus dir (a `@<dir>` suffix appears only
    * when one key touched several corpora) so Bench can report memo
    * builds as explicit line items instead of hiding them inside
    * whichever query touched first.
    */
  final class SessionMemo(val name: String) {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    SessionMemo.register(this)

    private final class Cell {
      @volatile private var df: DataFrame = _
      def get(mk: => DataFrame): DataFrame = {
        val v = df
        if (v != null) v
        else synchronized { if (df == null) df = mk; df }
      }
      def peek: Option[DataFrame] = Option(df)
    }

    private val cells =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell]()

    /** Drop entries whose SparkContext has stopped — their blocks are
      * gone with the context, and without this a long-lived JVM cycling
      * contexts would grow the map unboundedly (the pin registry prunes
      * dead applications on sweep; this is the map-side half).
      */
    private def pruneStopped(): Unit = {
      val it = cells.keySet().iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    }

    /** `logicVersion` (optional) is folded into the WARM-tier artifact
      * key only: ground-truth/index memos whose bytes depend on tuned
      * parameters or scoring logic (panel_top5, lsh_buckets*) must bump
      * it on any such change, or a persisted artifact from a previous
      * code version would silently serve stale ground truth to every
      * consumer. The hot tier needs no version (it dies with the
      * session) and the bench ledger keeps the unversioned `name.key`
      * so memo_build line items stay comparable across rounds. A bump
      * orphans the prior version's artifact until the corpus itself is
      * re-fingerprinted — acceptable leak, reaped with the generation.
      */
    def apply(spark: SparkSession, dir: String, key: String,
        logicVersion: String = "")(
        build: => DataFrame): DataFrame = {
      pruneStopped()
      val artKey =
        if (logicVersion.isEmpty) s"$name.$key" else s"$name.$key-$logicVersion"
      cells.computeIfAbsent((spark, dir, key), _ => new Cell).get {
        SessionMemo.artifactPath(spark, dir, artKey) match {
          case Some(p) if SessionMemo.artifactExists(spark, p) =>
            val t0 = System.nanoTime()
            val df = spark.read.parquet(p)
            val sec = (System.nanoTime() - t0) / 1e9
            // a load nested inside a parent BUILD frame is timed inside
            // the parent's entry too — subtract it there (same exclusive
            // accounting as nested builds) so the ledger stays additive
            SessionMemo.addToParent(sec)
            SessionMemo.record(s"$name.$key", dir, loaded = true,
              sec, Double.NaN, Double.NaN)
            df
          case art =>
            val t0 = System.nanoTime()
            val l0 = SessionMemo.loadAvg
            SessionMemo.pushFrame()
            val df =
              try build
              catch { case e: Throwable => SessionMemo.popFrame(); throw e }
            org.apache.spark.sql.graft.CheckpointUtils.pin(df)
            // warm tier: persist the built table for the NEXT session;
            // this session keeps serving the (already paid-for) hot copy
            art.foreach(p => SessionMemo.commitArtifact(spark, p, dir, df))
            val total = (System.nanoTime() - t0) / 1e9
            // EXCLUSIVE accounting: a memo built FROM another memo (e.g.
            // triangle_counts deriving from edge_triangles) triggers the
            // child build inside this timer; subtracting the child keeps
            // the ledger additive (Σ entries == wall actually paid) so
            // the bench memo_build lines never double-count.
            val child = SessionMemo.popFrame()
            SessionMemo.addToParent(total)
            SessionMemo.record(s"$name.$key", dir, loaded = false,
              total - child, l0, SessionMemo.loadAvg)
            df
        }
      }
    }

    /** Evict every entry of (session, dir): unpin + free the checkpoint
      * blocks (no-op for artifact-loaded parquet entries) and drop the
      * cells so the next touch rebuilds/reloads.
      */
    private[operators] def release(spark: SparkSession, dir: String): Unit = {
      val it = cells.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == spark && e.getKey._2 == dir) {
          e.getValue.peek.foreach { df =>
            org.apache.spark.sql.graft.CheckpointUtils.unpin(df)
            org.apache.spark.sql.graft.CheckpointUtils.free(df)
          }
          it.remove()
        }
      }
    }
  }

  object SessionMemo {
    private val instances = new java.util.concurrent.CopyOnWriteArrayList[SessionMemo]()
    private def register(m: SessionMemo): Unit = instances.add(m)

    /** Release all memo instances' entries for (session, dir); also
      * invalidates the cached corpus fingerprint so a re-ingested corpus
      * re-lists on the next touch.
      */
    def releaseAll(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
      instances.forEach(_.release(spark, dir))
      fpCache.remove((spark, dir))
    }

    // ---- build/load ledger (process-wide, for Bench accounting) ----
    // Keyed (fullKey, dir, loaded) so a later load or rebuild of the same
    // key against a DIFFERENT corpus can't overwrite an earlier build
    // entry; repeat builds of the same cell (release → re-touch)
    // accumulate, so the ledger totals what the process actually paid.
    private val ledger =
      new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean), Double]()
    // Raw per-event telemetry alongside the summed ledger: (sec, 1-min
    // system load before, load after) per build/load, in arrival order —
    // memo builds are single-shot in a bench run, so without a load stamp
    // a co-tenant burst landing on one is indistinguishable from a
    // regression in the driver artifact (r9: q31_pairs 27.5 s under load
    // vs 3.2 s quiet). Loads (artifact reads) record NaN stamps — they
    // are lazy footer reads, not adjudicable work.
    private val eventLog = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Boolean, Double, Double, Double)]()
    private[operators] def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // ---- nested-build frames (per thread): when one memo's build
    // triggers another memo's build (derived memos), the child's wall
    // time is subtracted from the parent's ledger entry so the ledger
    // stays additive. Each frame accumulates the TOTAL seconds of the
    // direct children built under it.
    private val frames = new ThreadLocal[java.util.ArrayDeque[java.lang.Double]] {
      override def initialValue() = new java.util.ArrayDeque[java.lang.Double]()
    }
    private[operators] def pushFrame(): Unit = frames.get().push(0.0)
    private[operators] def popFrame(): Double = frames.get().pop()
    private[operators] def addToParent(sec: Double): Unit = {
      val f = frames.get()
      if (!f.isEmpty) f.push(f.pop() + sec)
    }
    private def record(key: String, dir: String, loaded: Boolean, sec: Double,
        load0: Double, load1: Double): Unit = {
      ledger.merge((key, dir, loaded), sec, (a, b) => a + b)
      eventLog.add((key, dir, loaded, sec, load0, load1))
    }

    /** Per-build telemetry [(sec, load_before, load_after)], labeled like
      * [[buildSeconds]] (artifact loads excluded).
      */
    def buildTelemetry: Map[String, Seq[(Double, Double, Double)]] = {
      import scala.jdk.CollectionConverters._
      val events = eventLog.asScala.toSeq.collect {
        case (k, d, false, s, l0, l1) => (k, d, s, l0, l1) }
      val multiDir = events.groupBy(_._1).collect {
        case (k, es) if es.map(_._2).distinct.size > 1 => k }.toSet
      events.groupBy { case (k, d, _, _, _) =>
        if (multiDir(k)) s"$k@${new java.io.File(d).getName}" else k
      }.view.mapValues(_.map(e => (e._3, e._4, e._5))).toMap
    }

    /** Ledger entries for one side (builds or loads), labeled
      * `<memoName>.<key>` when that key only ever touched one corpus dir
      * (the Bench case — stable cross-round names), and
      * `<memoName>.<key>@<dirBasename>` when the process touched the same
      * key on several corpora (the test-suite case) so nothing
      * misattributes.
      */
    private def labeled(loaded: Boolean): Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      val entries = ledger.asScala.collect {
        case ((k, d, l), s) if l == loaded => (k, d, s) }.toSeq
      val multiDir = entries.groupBy(_._1).collect {
        case (k, es) if es.map(_._2).distinct.size > 1 => k }.toSet
      entries.groupMapReduce { case (k, d, _) =>
        if (multiDir(k)) s"$k@${new java.io.File(d).getName}" else k
      }(_._3)(_ + _)
    }

    /** Wall seconds of first-touch BUILDS since process start
      * (artifact loads excluded — see [[loadSeconds]]).
      */
    def buildSeconds: Map[String, Double] = labeled(loaded = false)

    /** Wall seconds of artifact loads (schema/footer read — lazy). */
    def loadSeconds: Map[String, Double] = labeled(loaded = true)

    // ---- warm tier: deterministic per-corpus artifact paths ----

    /** Root under which pair-table artifacts persist across sessions;
      * unset (the default) disables the warm tier entirely.
      */
    def artifactRoot(spark: org.apache.spark.sql.SparkSession): Option[String] =
      spark.conf.getOption("spark.graft.artifactDir").filter(_.nonEmpty)

    private def artifactPath(spark: org.apache.spark.sql.SparkSession, dir: String,
        fullKey: String): Option[String] =
      artifactRoot(spark).map(root =>
        s"$root/${cachedFingerprint(spark, dir)}/$fullKey.parquet")

    private def artifactExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

    /** Each fingerprint dir records which corpus produced it, so
      * [[gcArtifacts]] can recompute that corpus's CURRENT fingerprint
      * and reap superseded generations. Written BEFORE any artifact data
      * lands in the generation dir: a crash at any point leaves either a
      * marker-only dir (GC evaluates it like any generation) or nothing —
      * never data that GC must skip forever.
      */
    private def writeSourceMarker(spark: org.apache.spark.sql.SparkSession,
        artifactPath: String, srcDir: String): Unit = {
      val marker = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(artifactPath).getParent, "_source")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        val out = fs.create(marker, true)
        try out.write(srcDir.getBytes("UTF-8")) finally out.close()
      }
    }

    /** Crash-safe, race-safe artifact commit:
      *  1. `_source` marker first — the generation dir is attributable
      *     from its first byte, so no crash leaves an unreapable orphan;
      *  2. parquet lands in a session-unique `<final>.tmp-<token>` dir —
      *     a crash mid-write orphans only the tmp dir, which
      *     [[gcArtifacts]] reaps after a grace period;
      *  3. publish is a single FS rename onto the final path, guarded by
      *     an existence check — two sessions first-touching the same
      *     (corpus, key) concurrently can't interleave partial writes:
      *     the loser's rename fails against the winner's committed dir
      *     (rename is atomic on posix/local and a fail-if-exists
      *     operation on object-store committers) and its tmp is dropped.
      *     Either way both sessions keep serving their own already-built
      *     hot copy.
      */
    private def commitArtifact(spark: org.apache.spark.sql.SparkSession,
        finalPath: String, srcDir: String,
        df: org.apache.spark.sql.DataFrame): Unit = {
      writeSourceMarker(spark, finalPath, srcDir)
      val token = java.util.UUID.randomUUID().toString.take(8)
      val tmpPath = s"$finalPath$TmpSuffix$token"
      df.write.mode("overwrite").parquet(tmpPath)
      val fs = new org.apache.hadoop.fs.Path(finalPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dst = new org.apache.hadoop.fs.Path(finalPath)
      val committed = !fs.exists(dst) && fs.rename(new org.apache.hadoop.fs.Path(tmpPath), dst)
      if (!committed) fs.delete(new org.apache.hadoop.fs.Path(tmpPath), true)
    }

    /** Suffix marking an uncommitted artifact write (`<key>.parquet.tmp-<token>`). */
    private[operators] val TmpSuffix = ".tmp-"

    /** Grace before an orphaned tmp dir (crash mid-write) is reaped, so a
      * concurrent in-flight build's tmp is never deleted under it.
      */
    private def tmpGraceMs(spark: org.apache.spark.sql.SparkSession): Long =
      spark.conf.getOption("spark.graft.artifactTmpGraceMs").map(_.toLong)
        .getOrElse(60L * 60 * 1000)

    /** Reap artifact generations whose corpus no longer fingerprints to
      * them (re-ingested/regenerated corpora orphan their old artifacts;
      * without GC a long-lived artifact root grows one generation per
      * re-ingest). A fingerprint dir is deleted when its recorded source
      * corpus is gone, or its CURRENT fingerprint (recomputed, never the
      * session cache) differs from the dir name. Also reaps uncommitted
      * `*.tmp-*` write dirs (a crash mid-[[commitArtifact]]) older than
      * `spark.graft.artifactTmpGraceMs` (default 1h — the grace keeps a
      * concurrent in-flight build's tmp safe). Returns the number of
      * generations removed. Dirs without a `_source` marker (foreign
      * content; [[commitArtifact]] writes the marker first, so none of
      * ours) are left alone.
      *
      * NOT safe to run while a live session still serves artifact-backed
      * memo DataFrames over a generation this would reap: parquet scans
      * re-read files per action, so that session's next action fails with
      * FileNotFoundException rather than rebuilding. Release (or stop)
      * such sessions first; the `Main --gc-artifacts` entry runs in its
      * own fresh session, which trivially satisfies this.
      */
    def gcArtifacts(spark: org.apache.spark.sql.SparkSession): Int =
      artifactRoot(spark).fold(0) { root =>
        val rp = new org.apache.hadoop.fs.Path(root)
        val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(rp)) 0
        else fs.listStatus(rp).filter(_.isDirectory).count { gen =>
          val marker = new org.apache.hadoop.fs.Path(gen.getPath, "_source")
          val stale = fs.exists(marker) && {
            val in = fs.open(marker)
            val src = try new String(in.readAllBytes(), "UTF-8") finally in.close()
            val srcPath = new org.apache.hadoop.fs.Path(src)
            !fs.exists(srcPath) ||
              corpusFingerprint(spark, src) != gen.getPath.getName
          }
          if (stale) fs.delete(gen.getPath, true)
          else {
            // live generation: reap only crash-orphaned tmp write dirs
            val cutoff = System.currentTimeMillis() - tmpGraceMs(spark)
            fs.listStatus(gen.getPath)
              .filter(c => c.getPath.getName.contains(TmpSuffix) &&
                c.getModificationTime < cutoff)
              .foreach(c => fs.delete(c.getPath, true))
            false
          }
        }
      }

    // ---- corpus fingerprint: one recursive listing per (session, dir) ----

    /** Session cache in front of [[corpusFingerprint]]: `artifactPath` is
      * hit once per memo key on first touch, and a 100 TB corpus is
      * millions of part-files — six memo families must not pay six full
      * recursive listings. Invalidated by [[releaseAll]] (so a
      * re-ingested corpus re-lists) and pruned with dead sessions.
      */
    private val fpCache =
      new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

    /** Number of recursive corpus listings actually performed — the
      * observable for the fingerprint-cache spec.
      */
    private[graft] val fingerprintListings = new java.util.concurrent.atomic.AtomicLong(0)

    private def cachedFingerprint(spark: org.apache.spark.sql.SparkSession,
        dir: String): String = {
      val it = fpCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      fpCache.computeIfAbsent((spark, dir), _ => corpusFingerprint(spark, dir))
    }

    /** Content fingerprint of a corpus directory: md5 over the sorted
      * (relative path, length, mtime) of every file under it — RECURSIVE
      * (corpora written as parquet directories change their part files,
      * not the top-level listing), metadata-only (FS listings, no data
      * read). Any re-ingest/regeneration of the corpus changes it, so a
      * stale artifact is orphaned, never reused.
      *
      * Metadata-only is a documented limitation: a corpus regenerated
      * with byte-identical file sizes INSIDE the filesystem's mtime
      * granularity, or copied with mtimes preserved (`cp -p`,
      * object-store copies that carry timestamps), fingerprints
      * identically and would silently reuse the prior generation's
      * artifacts. Re-ingest pipelines that rewrite in place should touch
      * the corpus dir (or run with the warm tier off) if they can produce
      * that case; reading data bytes here would turn a metadata probe
      * into a full corpus scan.
      */
    def corpusFingerprint(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
      fingerprintListings.incrementAndGet()
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val base = p.toUri.getPath
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        val rel = s.getPath.toUri.getPath.stripPrefix(base)
        entries += s"$rel:${s.getLen}:${s.getModificationTime}"
      }
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      digest.map("%02x".format(_)).mkString.take(16)
    }
  }
}
