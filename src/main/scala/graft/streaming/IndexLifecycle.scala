package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, isnan}
import org.apache.spark.sql.types.StructType

/** The shared store lifecycle of the incrementally-maintained admission
  * indexes — one definition of the plumbing [[NearDupIndex]],
  * [[AnnIndex]], [[FingerprintIndex]] and [[IvfIndex]] previously each
  * carried privately (the r13 self-heal-ordering bug had to be fixed
  * twice — the duplication tax this trait retires):
  *
  *  - '''Store layout.''' Parquet sub-stores under `indexDir`, read
  *    schema-pinned ([[readOrEmpty]] — absent dir = typed empty
  *    relation, so bootstrap needs no special casing), plus a `meta/`
  *    singleton whose FIRST columns identify the build (count +
  *    logic-version fields) and whose partial-write states all collapse
  *    to [[metaRowRaw]] = None → the divergence path heals them.
  *
  *  - '''Probe-before-heal ordering.''' The divergence/compaction check
  *    MUST run before the batch probes ([[healIfNeeded]]): a corpus row
  *    orphaned by a crash between the corpus append and the index
  *    append has to be re-indexed before the next probe, or its
  *    near-dups would be admitted past a store that cannot see them
  *    (the r13 review finding, pinned by the strict same-batch
  *    self-heal specs).
  *
  *  - '''Post-append cap re-check.''' The file-count cap alone is
  *    re-checked AFTER the append ([[compactIfOverCap]] — a metadata
  *    listing), so the final batch of a stream cannot leave the store
  *    above the cap until some future intake happens to run.
  *
  *  - '''Write sizing.''' Append writers scale with the batch
  *    ([[appendWriters]]: one file per `rowsPerAppendFile` admitted
  *    rows, capped at the session's parallelism); rebuilds compact to
  *    ~100k rows per file ([[compactFiles]]) so rebuild doubles as
  *    store compaction and its own output stays well under the cap.
  *
  * Per-index KERNELS stay with each object: what a signature is, how a
  * batch probes the store, what rejection means, and any extra rebuild
  * triggers (NearDupIndex's doubling + candidate-storm refresh — its
  * frozen-df snapshot is the one kernel where rebuild has a drift role
  * rather than pure compaction).
  *
  * Config namespace: `spark.graft.<confScope>.maxStoreFiles` (default
  * 512) and `spark.graft.<confScope>.rowsPerAppendFile` (default 100k).
  */
private[streaming] trait IndexLifecycle {

  /** Conf namespace segment, e.g. "annIndex" →
    * `spark.graft.annIndex.maxStoreFiles`.
    */
  protected def confScope: String

  /** Schema-pinned parquet read; an absent dir is a typed EMPTY relation
    * (bootstrap and first-touch paths need no existence special-cases).
    */
  protected final def readOrEmpty(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

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

  /** Parquet data files currently in one store dir — a pure metadata
    * listing (the cheap half of the self-heal probe).
    */
  protected final def storeFileCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet")).toLong
  }

  /** Max parquet files per store before a compaction rebuild
    * (`spark.graft.<confScope>.maxStoreFiles`, default 512 — at one file
    * per micro-batch that is 512 batches past the last rebuild).
    */
  protected final def maxStoreFiles(spark: SparkSession): Long =
    spark.conf.getOption(s"spark.graft.$confScope.maxStoreFiles")
      .map(_.toLong).getOrElse(512L)

  /** Parallel writers for a batch append: one per
    * `spark.graft.<confScope>.rowsPerAppendFile` admitted rows (default
    * 100k — the rebuild's rows-per-file target), capped at the session's
    * parallelism; floor of 1 keeps tiny batches at one file per store.
    */
  protected final def appendWriters(spark: SparkSession, rows: Long): Int = {
    val target = spark.conf.getOption(s"spark.graft.$confScope.rowsPerAppendFile")
      .map(_.toLong).getOrElse(100000L)
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (rows + target - 1) / math.max(1L, target))).toInt
  }

  /** Compaction file count for a full rebuild output: ~100k rows per
    * file up to the core count (rebuild doubles as compaction, so its
    * own file count must stay well under the cap).
    */
  protected final def compactFiles(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, rows / 100000L)).toInt

  /** The PRE-PROBE self-heal gate — call before the batch probes, never
    * after (see the trait doc's ordering argument): rebuild when the
    * corpus and index disagree on row count (crash between the two
    * appends, or an intake bootstrapped onto a pre-existing corpus) or
    * when any store is over the file cap.
    */
  protected final def healIfNeeded(spark: SparkSession, corpusCount: Long,
      indexCount: Long, storeDirs: Seq[String])(rebuild: => Unit): Unit =
    if (corpusCount != indexCount ||
        storeDirs.exists(d => storeFileCount(spark, d) > maxStoreFiles(spark)))
      rebuild

  /** The POST-APPEND compaction re-check: only the cheap file-count cap
    * (metadata listing), so a stream's final batch cannot strand the
    * store above the cap; the divergence heal stays pre-probe.
    */
  protected final def compactIfOverCap(spark: SparkSession,
      storeDirs: Seq[String])(rebuild: => Unit): Unit =
    if (storeDirs.exists(d => storeFileCount(spark, d) > maxStoreFiles(spark)))
      rebuild

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
    */
  protected final class CkptScope {
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
