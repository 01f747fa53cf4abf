package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, countDistinct, isnan, lit, row_number, struct, when}
import org.apache.spark.sql.types.StructType
import IndexLifecycle.readOrEmpty

/** The shared store lifecycle of the incrementally-maintained admission
  * indexes — one definition of the plumbing and the admission steps
  * [[NearDupIndex]], [[AnnIndex]], [[FingerprintIndex]] and [[IvfIndex]]
  * previously each carried privately (the r13 self-heal-ordering bug had
  * to be fixed twice — the duplication tax this trait retires). Each
  * `admitBatch` is a short sequence of the steps below followed by its
  * own kernels:
  *
  *  - '''Store layout.''' Parquet sub-stores under `indexDir`, read
  *    schema-pinned ([[readOrEmpty]] — absent dir = typed empty
  *    relation, so bootstrap needs no special casing), plus a `meta/`
  *    singleton whose FIRST columns identify the build (count +
  *    logic-version fields) and whose partial-write states all collapse
  *    to [[metaRowRaw]] = None → the divergence path heals them.
  *
  *  - '''Listing-keyed snapshots.''' What a call loads from its bounded
  *    stores is kept per `indexDir` in a [[Snapshots]] cache, keyed by
  *    the (path, length, mtime) listing of those stores: a later call
  *    whose listing matches takes it without a job, a rewrite always
  *    misses (fresh part-file names), and every write is remembered
  *    under the listing taken after it. [[IvfIndex]] keys its epoch on
  *    `meta/`, `piv/` and `cb/`; the siblings key their meta row on
  *    `meta/` alone ([[MetaStore]]), so a call reads `meta/` at most
  *    once, and not at all while it is unchanged.
  *
  *  - '''Probe-before-heal ordering.''' The divergence/compaction check
  *    MUST run before the batch probes ([[healIfNeeded]]): a corpus row
  *    orphaned by a crash between the corpus append and the index
  *    append has to be re-indexed before the next probe, or its
  *    near-dups would be admitted past a store that cannot see them
  *    (the r13 review finding, pinned by the strict same-batch
  *    self-heal specs). Both of its counts come from one aggregate
  *    ([[healCounts]]).
  *
  *  - '''Replay gate.''' [[replayGate]]: batch keys already stored drop
  *    out through a semi-join hit list and an anti-join, then an
  *    in-batch duplicate key keeps one deterministic winner — so a
  *    re-delivered batch appends nothing and a key delivered twice in
  *    one batch is admitted once.
  *
  *  - '''Post-append cap re-check.''' The file-count cap alone is
  *    re-checked AFTER the append ([[compactIfOverCap]] — a metadata
  *    listing), so the final batch of a stream cannot leave the store
  *    above the cap until some future intake happens to run.
  *
  *  - '''Write sizing.''' Appends go through [[appendStore]]: one file
  *    per `rowsPerAppendFile` admitted rows, capped at the session's
  *    parallelism — one writer coalesces, more repartition on the
  *    store's clustering key; rebuilds compact to ~100k rows per file
  *    ([[compactFiles]]) so rebuild doubles as store compaction and its
  *    own output stays well under the cap.
  *
  * Per-index KERNELS stay with each object: what a signature is, how a
  * batch probes the store, what rejection means, and any extra rebuild
  * triggers (NearDupIndex's doubling + candidate-storm refresh — its
  * frozen-df snapshot is the one kernel where rebuild has a drift role
  * rather than pure compaction).
  *
  * Config, shared by all four: `spark.graft.index.maxStoreFiles`
  * (default 512) and `spark.graft.index.rowsPerAppendFile` (default
  * 100k).
  */
private[streaming] trait IndexLifecycle {

  /** The raw `meta/` singleton row, with every partial-write state
    * (missing dir, empty dir, truncated file) collapsed to None — the
    * caller's divergence/rebuild path then heals the store from the
    * corpus, which remains the single source of truth.
    */
  protected final def metaRowRaw(spark: SparkSession,
      indexDir: String): Option[Row] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try Some(spark.read.parquet(s"$indexDir/meta").head())
    catch { case _: Exception => None } // crash mid-write => rebuild heals
  }

  /** `meta` overwritten as the one-file `meta/` singleton. */
  protected final def writeMetaDf(indexDir: String, meta: DataFrame): Unit =
    meta.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")

  /** A driver-side cache of what a call loaded from the bounded `stores`
    * of an index, per `indexDir`, with the (path, length, mtime) listing
    * of those stores it was read from or written under — so a stream's
    * calls in one JVM load unchanged state once. Spark's overwrite
    * writes fresh part-file names, so any rewrite of the stores changes
    * the listing. LRU, a few dirs: the entries are driver-side copies of
    * bounded stores.
    */
  protected final class Snapshots[T](stores: String*) {
    private type Listing = Seq[(String, Long, Long)]

    private val entries = new java.util.LinkedHashMap[String, (Listing, T)](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, (Listing, T)]): Boolean =
        size() > 4
    }

    /** The file identity of the stores — a metadata-only listing. */
    private def listing(spark: SparkSession, indexDir: String): Listing =
      stores.flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(s"$indexDir/$d")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).toSeq
          .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
          .sortBy(_._1)
      }

    /** `value` as what the stores now hold: call after every write. */
    def remember(spark: SparkSession, indexDir: String, value: T): Unit = {
      val l = listing(spark, indexDir)
      entries.synchronized { entries.put(indexDir, (l, value)) }
    }

    /** The snapshot when the stores' listing is unchanged since it was
      * taken, else `read` — kept only if the stores did not change under
      * the read.
      */
    def load(spark: SparkSession, indexDir: String)(read: => T): T = {
      val before = listing(spark, indexDir)
      entries.synchronized { Option(entries.get(indexDir)) }
        .collect { case (l, v) if l == before => v }
        .getOrElse {
          val v = read
          if (listing(spark, indexDir) == before)
            entries.synchronized { entries.put(indexDir, (before, v)) }
          v
        }
    }
  }

  /** A sibling index's `meta/` singleton: one row of `schema` (the
    * build's count first, then the identity fields a probe must match),
    * read through a `meta/`-keyed [[Snapshots]] and remembered on every
    * write.
    */
  protected final class MetaStore(schema: StructType) {
    private val snapshots = new Snapshots[Option[Row]]("meta")

    def read(spark: SparkSession, indexDir: String): Option[Row] =
      snapshots.load(spark, indexDir)(metaRowRaw(spark, indexDir))

    def write(spark: SparkSession, indexDir: String, values: Any*): Unit = {
      val row = Row.fromSeq(values)
      writeMetaDf(indexDir, spark.createDataFrame(java.util.List.of(row), schema))
      snapshots.remember(spark, indexDir, Some(row))
    }
  }

  /** Parquet data files currently in one store dir — a pure metadata
    * listing (the cheap half of the self-heal probe).
    */
  private def storeFileCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet")).toLong
  }

  /** Max parquet files per store before a compaction rebuild
    * (`spark.graft.index.maxStoreFiles`, default 512 — at one file per
    * micro-batch that is 512 batches past the last rebuild).
    */
  private def maxStoreFiles(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.index.maxStoreFiles")
      .map(_.toLong).getOrElse(512L)

  /** Compaction file count for a full rebuild output: ~100k rows per
    * file up to the core count (rebuild doubles as compaction, so its
    * own file count must stay well under the cap).
    */
  protected final def compactFiles(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, rows / 100000L)).toInt

  /** (corpus rows, distinct `key`s in the index store) from ONE aggregate
    * over the tagged union of the two relations — the two inputs of
    * [[healIfNeeded]]. The struct keeps a NULL key a distinct value, as
    * `distinct()` counted it.
    */
  protected final def healCounts(corpus: DataFrame, store: DataFrame,
      key: String): (Long, Long) = {
    val keyType = store.schema(key).dataType
    val counts = store.select(lit(true).as("idx"), col(key))
      .union(corpus.select(lit(false).as("idx"), lit(null).cast(keyType).as(key)))
      .agg(countDistinct(when(col("idx"), struct(col(key)))),
        count(when(!col("idx"), lit(1))))
      .head()
    (counts.getLong(1), counts.getLong(0))
  }

  /** The PRE-PROBE self-heal gate — call before the batch probes, never
    * after (see the trait doc's ordering argument): rebuild when the
    * corpus rows and the indexed keys disagree ([[healCounts]]: a crash
    * between the two appends, or an intake bootstrapped onto a
    * pre-existing corpus) or
    * when any store is over the file cap. Returns the rebuild's result
    * when it ran.
    */
  protected final def healIfNeeded[T](spark: SparkSession, corpusCount: Long,
      indexCount: Long, storeDirs: Seq[String])(rebuild: => T): Option[T] =
    if (corpusCount != indexCount ||
        storeDirs.exists(d => storeFileCount(spark, d) > maxStoreFiles(spark)))
      Some(rebuild)
    else None

  /** The exact replay gate, keyed by one column: batch rows whose `key`
    * is already in `stored` drop out (the hit list is a semi-join of the
    * stored keys against the broadcast batch keys — it feeds only the
    * anti-join, which needs no unique keys), then a key repeated WITHIN
    * the batch keeps the row lowest in `winner` order. A duplicated key
    * would otherwise land twice and diverge the row-vs-distinct heal
    * counts forever (a full rebuild per batch from then on).
    */
  protected final def replayGate(batch: DataFrame, stored: DataFrame,
      key: String, winner: Column*): DataFrame = {
    val hits = stored.select(col(key))
      .join(broadcast(batch.select(col(key))), Seq(key), "left_semi")
    CorpusStreams.lowestPer(batch.join(broadcast(hits), Seq(key), "left_anti"),
      key, winner: _*)
  }

  /** Appends `rows` (derived from `admitted` admitted rows) to a store:
    * one writer per `spark.graft.index.rowsPerAppendFile` admitted rows
    * (default 100k — the rebuild's rows-per-file target), capped at the
    * session's parallelism. One writer coalesces (clustering into one
    * file buys nothing for a shuffle); more repartition on `cluster`.
    */
  protected final def appendStore(spark: SparkSession, rows: DataFrame,
      admitted: Long, dir: String, cluster: Column): Unit = {
    val target = spark.conf.getOption("spark.graft.index.rowsPerAppendFile")
      .map(_.toLong).getOrElse(100000L)
    val writers = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (admitted + target - 1) / math.max(1L, target))).toInt
    (if (writers == 1) rows.coalesce(1) else rows.repartition(writers, cluster))
      .write.mode("append").parquet(dir)
  }

  /** The POST-APPEND compaction re-check: only the cheap file-count cap
    * (metadata listing), so a stream's final batch cannot strand the
    * store above the cap; the divergence heal stays pre-probe.
    */
  protected final def compactIfOverCap(spark: SparkSession,
      storeDirs: Seq[String])(rebuild: => Unit): Unit =
    if (storeDirs.exists(d => storeFileCount(spark, d) > maxStoreFiles(spark)))
      rebuild

  /** The exact-cosine admission verify shared by the vector indexes
    * ([[AnnIndex]], [[IvfIndex]] — one definition, the r13 lesson):
    * fetch corpus embeddings for candidate partners only (broadcast the
    * bounded candidate id list against the corpus scan), exact cosine,
    * emit batch ids with any indexed neighbor at `cosine >= maxCosine`.
    * `cand` is (a_id = corpus side, b_id = batch side); `vecSchema` is
    * the corpus store schema (vec_id, embedding, ...).
    *
    * The result is a multiset: a batch id repeats once per rejecting
    * candidate pair. Its consumers only anti-join on it, which needs no
    * unique keys, so no shuffle is paid to de-duplicate it.
    */
  protected final def cosineRejectedIds(spark: SparkSession,
      corpusDir: String, vecSchema: StructType, batch: DataFrame,
      cand: DataFrame, maxCosine: Double): DataFrame = {
    val corpus = readOrEmpty(spark, corpusDir, vecSchema)
    val ca = corpus.join(broadcast(cand.select(col("a_id"))),
        corpus("vec_id") === col("a_id"), "left_semi")
      .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val cb = batch.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    cand
      .join(broadcast(cb), Seq("b_id"))
      .join(broadcast(ca), Seq("a_id"))
      .withColumn("cs", graft.functions.VectorFunctions.cosineSim(col("ea"), col("eb")))
      .filter(!isnan(col("cs")) && col("cs") >= maxCosine)
      .select(col("b_id").as("vec_id"))
  }
}

/** The store helpers the admission indexes share with [[DpoIncremental]],
  * which keeps stores of its own but admits nothing.
  */
private[streaming] object IndexLifecycle {

  /** Schema-pinned parquet read; an absent dir is a typed EMPTY relation
    * (bootstrap and first-touch paths need no existence special-cases).
    */
  def readOrEmpty(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Per-call checkpoint OWNERSHIP — the r15 lesson. The indexes used to
    * end rebuild/admitBatch with a blanket
    * `CheckpointUtils.sweepUnpinned`, which also dropped checkpoints the
    * CALLER owned: a heal-path rebuild runs before the batch's own
    * derivations, so a caller-checkpointed incoming batch lost its
    * blocks and the subsequent probe crashed with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (a truncated-lineage relation
    * cannot recompute) — reproduced live by IndexOwnershipSpec across
    * the family. Each call now checkpoints through its own scope and
    * frees exactly what it created; caller-owned blocks are never
    * touched, and nothing leaks (rebuild's relations are freed once
    * their parquet is written, admitBatch's once the appends land).
    * [[DpoIncremental.update]] frees its checkpoints the same way.
    */
  final class CkptScope {
    private val owned =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    /** localCheckpoint `ds` and register its blocks for [[freeAll]]. */
    def apply[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
      val c = ds.localCheckpoint()
      owned += c
      c
    }
    def freeAll(): Unit =
      owned.foreach(org.apache.spark.sql.graft.CheckpointUtils.free(_))
  }
}
