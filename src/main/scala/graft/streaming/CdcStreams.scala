package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous CDC apply — the q111 batch MERGE semantics maintained
  * incrementally: a keyed snapshot store is merged with each
  * micro-batch's latest-change-per-key under last-writer-wins ordering
  * on (ts, event_id), with deletes as tombstones. The snapshot is
  * derived state in the NearDupIndex mold: a parquet store updated by
  * an atomic tree swap per batch, readable between batches, and
  * rebuildable from base + full change log (which is exactly what
  * [[graft.operators.Lakehouse.q111CdcMerge]] computes — the spec pins
  * streaming == batch over ARBITRARY batch splits, including splits
  * that deliver a key's changes out of event-time order across
  * batches).
  *
  * Why tombstones: a batch-local MERGE could drop deleted keys
  * outright, but a later batch may carry an OLDER change for the same
  * key (out-of-order delivery); the tombstone keeps the winning
  * (ts, event_id) so stale updates lose. Tombstone rows are bounded by
  * deleted-key cardinality; a retention job can vacuum tombstones older
  * than the source's max replay horizon — the same contract as
  * `dropDuplicatesWithinWatermark`.
  *
  * Scale shape: per batch = one window over the BATCH (tiny) + one
  * key-equi join batch-vs-snapshot + a snapshot rewrite. BOTH store
  * tiers ship: [[applyBatch]] rewrites the whole tree with an atomic
  * swap (exactness-first, whole-snapshot read isolation), and
  * [[applyBatchPartitioned]] keeps the snapshot as a
  * `pk_bucket`-partitioned table, reading and dynamically overwriting
  * ONLY the buckets with arrivals — per-batch cost independent of
  * snapshot size (the q103 seam). CdcStreamsSpec pins the two tiers
  * convergent with batch q111 and pins untouched buckets' FILES
  * physically unmodified across a targeted batch.
  */
object CdcStreams {

  private val internalCols = Seq("cust_key", "balance", "change",
    "base_member", "deleted", "last_us", "last_eid")

  /** Seed the snapshot store from a base table with columns
    * (cust_key, balance): every row visible, `kept`, and older than any
    * possible change (Long.MinValue sequence).
    */
  def initSnapshot(base: DataFrame, snapshotDir: String): Unit =
    base.select(col("cust_key"), col("balance"),
        lit("kept").as("change"), lit(true).as("base_member"),
        lit(false).as("deleted"),
        lit(Long.MinValue).as("last_us"), lit(Long.MinValue).as("last_eid"))
      .write.mode("overwrite").parquet(snapshotDir)

  /** The visible merged table: tombstones hidden, internal sequencing
    * columns dropped — the q111 output shape.
    */
  def snapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    spark.read.parquet(snapshotDir)
      .filter(!col("deleted"))
      .select(col("cust_key"), col("balance"), col("change"))

  /** Merge one micro-batch of raw events into the snapshot store.
    * Within the batch the latest change per key wins (window on the
    * batch only); across batches the stored (last_us, last_eid) decides,
    * so replay and out-of-order file delivery are both safe.
    */
  /** Latest change per key within one micro-batch (window on the batch
    * only — batch-sized state).
    */
  private def latestOfBatch(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    batch
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id").as("cust_key"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value").as("b_value"),
        unix_micros(col("ts")).as("b_us"), col("event_id").as("b_eid"))
  }

  /** The last-writer-wins merge of a snapshot slice against a batch's
    * latest-per-key changes — shared by the tree-swap and the
    * partitioned-overwrite store tiers.
    */
  private def mergeWithSnapshot(snap: DataFrame, latest: DataFrame): DataFrame = {
    val batchWins = col("op").isNotNull &&
      (col("last_us").isNull ||
        col("b_us") > col("last_us") ||
        (col("b_us") === col("last_us") && col("b_eid") > col("last_eid")))
    val wasMember = coalesce(col("base_member"), lit(false))
    snap.join(latest, Seq("cust_key"), "full_outer")
      .select(col("cust_key"),
        when(batchWins && col("op") === "U", col("b_value"))
          .otherwise(col("balance")).as("balance"),
        when(batchWins && col("op") === "U",
            when(wasMember, lit("updated")).otherwise(lit("inserted")))
          .otherwise(col("change")).as("change"),
        wasMember.as("base_member"),
        when(batchWins, col("op") === "D").otherwise(coalesce(col("deleted"), lit(false)))
          .as("deleted"),
        when(batchWins, col("b_us")).otherwise(col("last_us")).as("last_us"),
        when(batchWins, col("b_eid")).otherwise(col("last_eid")).as("last_eid"))
  }

  def applyBatch(spark: SparkSession, batch: DataFrame, snapshotDir: String): Unit = {
    val merged = mergeWithSnapshot(spark.read.parquet(snapshotDir),
      latestOfBatch(batch))

    // materialize to a tmp tree, then swap atomically (reads during the
    // tmp write still see the old tree; the swap is two renames)
    val p = new Path(snapshotDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(snapshotDir + ".tmp")
    val old = new Path(snapshotDir + ".old")
    fs.delete(tmp, true); fs.delete(old, true)
    merged.select(internalCols.map(col): _*).write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(p, old), s"cdc swap: could not move $p aside")
    require(fs.rename(tmp, p), s"cdc swap: could not move $tmp into place")
    fs.delete(old, true)
  }

  /** A row's bucket in the partitioned store tier: `cust_key mod N`, N =
    * 16. A batch rewrites every bucket it touches, so N bounds how finely
    * a merge is targeted; a store's layout is fixed when it is seeded.
    */
  private val pkBucket = pmod(col("cust_key"), lit(16L))

  /** Seed the PARTITIONED snapshot store: the same rows as
    * [[initSnapshot]], laid out as `pk_bucket=<cust_key mod N>`
    * partitions so per-batch merges can overwrite only the buckets a
    * batch actually touches.
    */
  def initSnapshotPartitioned(base: DataFrame, snapshotDir: String): Unit =
    base.select(col("cust_key"), col("balance"),
        lit("kept").as("change"), lit(true).as("base_member"),
        lit(false).as("deleted"),
        lit(Long.MinValue).as("last_us"), lit(Long.MinValue).as("last_eid"))
      .withColumn("pk_bucket", pkBucket)
      .write.mode("overwrite").partitionBy("pk_bucket").parquet(snapshotDir)

  /** The 100 TB store tier the tree-swap scaladoc promises: the
    * snapshot is a `pk_bucket`-partitioned table and each batch merge
    * READS only the buckets with arrivals (partition pruning on the
    * scan) and REWRITES only those buckets (dynamic partition
    * overwrite — the q103 seam). Per-batch cost is
    * O(arriving buckets' data + batch), independent of total snapshot
    * size; the full-rewrite [[applyBatch]] stays as the exactness-first
    * tier with stronger (whole-tree-atomic) read isolation, since
    * dynamic overwrite commits partition-by-partition — production
    * cross-partition atomicity is a table format's snapshot isolation
    * (Iceberg/Delta, env-gated here, S13).
    */
  def applyBatchPartitioned(spark: SparkSession, batch: DataFrame,
      snapshotDir: String): Unit = {
    val latest = latestOfBatch(batch)
      .withColumn("pk_bucket", pkBucket)
      .localCheckpoint() // feeds the bucket probe AND the merge join
    val arrived = latest.select(col("pk_bucket")).distinct()
      .collect().map(_.getLong(0)) // ≤ N bucket ids — a meta read, not data
    if (arrived.isEmpty) return
    val snapSlice = spark.read.parquet(snapshotDir)
      .filter(col("pk_bucket").isin(arrived.toIndexedSeq: _*))
      .drop("pk_bucket")
    val merged = mergeWithSnapshot(snapSlice, latest.drop("pk_bucket"))
      .withColumn("pk_bucket", pkBucket)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try merged.select((internalCols :+ "pk_bucket").map(col): _*)
      .write.mode("overwrite").partitionBy("pk_bucket").parquet(snapshotDir)
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The continuous form over the partitioned store tier. */
  def cdcApplyStreamPartitioned(spark: SparkSession, srcDir: String,
      snapshotDir: String, checkpointDir: String, glob: String = "*.parquet",
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    EventStreams.fileStream(spark, srcDir, Some(glob),
        maxFilesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString).toMap)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyBatchPartitioned(batch.sparkSession, batch.toDF(), snapshotDir)
      }
      .start()

  /** The continuous form: events files land in `srcDir`, each
    * micro-batch merges into the snapshot store via [[applyBatch]].
    */
  def cdcApplyStream(spark: SparkSession, srcDir: String, snapshotDir: String,
      checkpointDir: String, glob: String = "*.parquet",
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    EventStreams.fileStream(spark, srcDir, Some(glob),
        maxFilesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString).toMap)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyBatch(batch.sparkSession, batch.toDF(), snapshotDir)
      }
      .start()
}
