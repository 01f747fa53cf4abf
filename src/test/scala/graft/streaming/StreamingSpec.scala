package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** A `MemoryStream` event row. Top-level, so the generated encoder code
  * can construct it (see [[Doc]]).
  */
case class Ev(ts: Timestamp, event_type: String, value: Double, event_id: Long, user_id: Long)

/** Structured Streaming semantics: windowed aggregations over a
  * MemoryStream agree with the batch equivalents, watermark drops late
  * data, stateful dedup removes watermark-bounded duplicates.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def t(minutes: Long) = new Timestamp(1700000000000L + minutes * 60000L)

  test("tumbling hourly counts match batch over same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val events = mem.toDF()
    val q = EventStreams.hourlyCounts(events)
      .writeStream.outputMode("complete").format("memory").queryName("hourly").start()
    try {
      mem.addData(Ev(t(0), "a", 1.0, 0, 1), Ev(t(10), "a", 2.0, 1, 1),
        Ev(t(70), "a", 4.0, 2, 1), Ev(t(75), "b", 8.0, 3, 2))
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select($"win_start", $"event_type", $"n", $"sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      // structural check: two 'a' windows + one 'b' window, counts correct
      assert(got.size == 3)
      assert(got.exists { case (_, et, n, s) => et == "a" && n == 2 && s == 3.0 })
      assert(got.exists { case (_, et, n, s) => et == "a" && n == 1 && s == 4.0 })
      assert(got.exists { case (_, et, n, s) => et == "b" && n == 1 && s == 8.0 })
    } finally q.stop()
  }

  test("streaming JDBC load appends each micro-batch with its batch id") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_jdbc")
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    val cfg = graft.sources.Sinks.JdbcConfig(
      url = url, table = "events_wh", user = "", password = "",
      driver = driver, batchSize = 100)
    val mem = MemoryStream[Ev]
    val q = EventStreams.streamToJdbc(mem.toDF(), cfg, dir.resolve("ckpt").toString)
    try {
      mem.addData(Ev(t(0), "a", 1.0, 0, 1), Ev(t(1), "b", 2.0, 1, 2))
      q.processAllAvailable()
      mem.addData(Ev(t(2), "c", 3.0, 2, 3))
      q.processAllAvailable()
      def readBack(): Map[Long, Long] = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "events_wh").option("driver", driver)
        .load().collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("batch_id")).toMap
      // all rows landed, each stamped with the micro-batch that wrote it
      assert(readBack() == Map(0L -> 0L, 1L -> 0L, 2L -> 1L))
      // replay batch 1 through the exact writer the stream runs (the
      // crashed-before-checkpoint-commit scenario): DELETE-then-append
      // keyed on batch_id leaves the table unchanged — exactly-once
      val replay = Seq((t(2), "c", 3.0, 2L, 3L))
        .toDF("ts", "event_type", "value", "event_id", "user_id")
      EventStreams.jdbcBatchWriter(cfg)(replay, 1L)
      assert(readBack() == Map(0L -> 0L, 1L -> 0L, 2L -> 1L))
      // and a PARTIAL failed write (row landed, checkpoint lost) is
      // healed, not doubled
      EventStreams.jdbcBatchWriter(cfg)(replay, 1L)
      assert(readBack() == Map(0L -> 0L, 1L -> 0L, 2L -> 1L))
    } finally q.stop()
  }

  test("streaming JDBC sink: kill mid-stream, lose the commit, restart exactly-once") {
    // The FULL crash contract, not just the writer function: a running
    // query is stopped, the newest checkpoint commit marker is deleted
    // (the crash window — the JDBC write landed but the commit that
    // acknowledges it was lost), new data arrives while the query is
    // down, and a restart from the same checkpoint dir must replay the
    // uncommitted batch WITHOUT double-writing it and then process the
    // new data. The table must equal the exactly-once expectation.
    val base = java.nio.file.Files.createTempDirectory("graft_jdbc_crash")
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val url = s"jdbc:derby:${base.resolve("db")};create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    val cfg = graft.sources.Sinks.JdbcConfig(
      url = url, table = "events_cr", user = "", password = "",
      driver = driver, batchSize = 100)
    def srcDf(ids: Range) =
      ids.map(i => (t(i), "a", 1.0, i.toLong, i.toLong))
        .toDF("ts", "event_type", "value", "event_id", "user_id")
    def writeSrc(ids: Range): Unit =
      srcDf(ids).coalesce(1).write.mode("append").parquet(srcDir)
    val schema = srcDf(0 until 0).schema
    def start() = EventStreams.streamToJdbc(
      spark.readStream.schema(schema).parquet(srcDir), cfg, ckpt)

    writeSrc(0 until 10)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // the kill
    q1.awaitTermination() // fully down before the checkpoint is reused
    // crash window: drop the most recent commit marker so the restart
    // believes the last batch never completed and replays it
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty, "expected at least one committed batch")
    val latest = commits.maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not delete $latest")
    // ...and its checksum sidecar (Hadoop LocalFileSystem / Spark 4's
    // checksum manager), or the rewrite is refused as a concurrent use
    new java.io.File(latest.getParentFile, s".${latest.getName}.crc").delete()
    new java.io.File(latest.getParentFile, s"${latest.getName}.crc").delete()

    writeSrc(10 until 15) // arrives while the query is down
    val q2 = start()
    try {
      q2.processAllAvailable()
    } finally q2.stop()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "events_cr").option("driver", driver)
      .load().select("event_id").collect().map(_.getLong(0)).sorted
    assert(back.toSeq == (0L until 15L),
      s"exactly-once violated after crash-replay restart: ${back.toSeq}")
  }

  test("session windows split on inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("sess").start()
    try {
      mem.addData(Ev(t(0), "a", 1.0, 0, 1), Ev(t(10), "a", 1.0, 1, 1),
        Ev(t(60), "a", 1.0, 2, 1)) // 50min gap -> new session
      q.processAllAvailable()
      val got = spark.table("sess").collect()
      assert(got.length == 2)
      assert(got.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("file stream over harness events agrees with batch hourly windows") {
    val stream = EventStreams.fileStream(spark, sfDir, Some("events.parquet"))
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("complete").format("memory").queryName("filehourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filehourly")
        .select($"win_start", $"event_type", $"n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.operators.Events.q21HourlyWindows(spark, sfDir)
        .select($"win_start", $"event_type", $"n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("fileStream probe: TIMESTAMP-typed source declared as-is, alien ts type fails loudly") {
    import org.apache.spark.sql.types.TimestampType
    // adjusted-to-UTC micros parquet (plain TimestampType write) must be
    // declared TIMESTAMP, not silently defaulted to NTZ (which would fail
    // or misread at runtime batches later)
    val tzDir = java.nio.file.Files.createTempDirectory("graft_tz_events").toString
    graft.sources.Tables.events(spark, sfDir).limit(10)
      .write.mode("overwrite").parquet(tzDir)
    val stream = EventStreams.fileStream(spark, tzDir)
    assert(stream.schema("ts").dataType == TimestampType)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("tzprobe").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tzprobe").count() == 10)
    } finally q.stop()
    // a ts type outside the three supported encodings fails at stream
    // CONSTRUCTION, not downstream
    val badDir = java.nio.file.Files.createTempDirectory("graft_bad_events").toString
    spark.range(3).selectExpr("id AS event_id", "CAST(id AS STRING) AS ts",
      "id AS user_id", "'x' AS event_type", "0.0 AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(badDir)
    val e = intercept[IllegalStateException](EventStreams.fileStream(spark, badDir))
    assert(e.getMessage.contains("probed ts"))
  }

  test("flatMapGroupsWithState accumulates per-user profiles across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.userProfiles(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("profiles").start()
    try {
      mem.addData(EventStreams.UserEvent(1, "view", 2.0), EventStreams.UserEvent(1, "purchase", 10.0))
      q.processAllAvailable()
      mem.addData(EventStreams.UserEvent(1, "purchase", 5.0), EventStreams.UserEvent(2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("profiles")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      // last emission for user 1 reflects state carried across micro-batches
      val u1 = rows.filter(_._1 == 1L).maxBy(_._2)
      assert(u1 == ((1L, 3L, 17.0, 2L)))
      val u2 = rows.filter(_._1 == 2L).maxBy(_._2)
      assert(u2 == ((2L, 1L, 1.0, 0L)))
    } finally q.stop()
  }

  test("transformWithState sessionizer emits on watermark-passed inactivity gaps") {
    // Spark 4 arbitrary-state v2: sessions close when the WATERMARK passes
    // last-event + gap (event-time timers), not when new data for the user
    // arrives. RocksDB provider is required by transformWithState; restore
    // the default after so other suites keep the HDFS-backed store.
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStreams.SessionEvent]
    val q = EventStreams.sessionizeWithState(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("tws_sessions").start()
    try {
      // user 1: two events 10 min apart; user 2: one event — all open
      mem.addData(EventStreams.SessionEvent(t(0), 1, 2.0),
        EventStreams.SessionEvent(t(10), 1, 3.0),
        EventStreams.SessionEvent(t(5), 2, 7.0))
      q.processAllAvailable()
      assert(spark.table("tws_sessions").isEmpty) // watermark hasn't moved yet
      // an event far in the future advances the watermark (2h delay) past
      // every open deadline (last + 30 min) -> both sessions emit
      mem.addData(EventStreams.SessionEvent(t(300), 3, 1.0))
      q.processAllAvailable()
      // timers fire on the batch AFTER the watermark update is committed
      mem.addData(EventStreams.SessionEvent(t(301), 3, 1.0))
      q.processAllAvailable()
      val got = spark.table("tws_sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).sortBy(_._1)
      assert(got.length == 2)
      assert(got(0) == ((1L, t(0), t(10), 2L, 5.0)))
      assert(got(1) == ((2L, t(5), t(5), 1L, 7.0)))
      // user 3's session is still open (watermark hasn't passed its gap)
      assert(!got.exists(_._1 == 3L))
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("checkpointed file-sink query resumes exactly-once after restart") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_ckpt").toString
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    def writeBatch(n: Int, ids: Range): Unit =
      ids.map(i => EventStreams.UserEvent(i.toLong, "view", 1.0)).toDF()
        .coalesce(1).write.mode("append").parquet(srcDir)
    writeBatch(1, 0 until 10)
    val schema = Seq(EventStreams.UserEvent(0, "x", 0.0)).toDF().schema
    def start() = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).count() == 10)
    // new data lands while the query is down; restart resumes from the
    // checkpoint and processes only the unseen files
    writeBatch(2, 10 until 15)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 15)
    assert(out.select("user_id").distinct().count() == 15) // no reprocessing
  }

  test("transformWithState sessionizer splits >gap spans within ONE micro-batch") {
    // Backlog replay: a file stream drains all pending files in one
    // trigger, so events more than the gap apart land in one micro-batch.
    // The processor must emit one session per inactivity gap — identical
    // boundaries to q23Sessionize — not one min/max-merged blob, and the
    // intra-batch closes emit immediately (no watermark wait: their
    // sessions are closed by DATA, not by timer).
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStreams.SessionEvent]
    val q = EventStreams.sessionizeWithState(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("tws_split").start()
    try {
      // one batch, one user, three sessions' worth of history (gaps of
      // 40 and 120 min >> the 30-min gap), deliberately added unsorted
      mem.addData(
        EventStreams.SessionEvent(t(50), 1, 4.0),  // session B start
        EventStreams.SessionEvent(t(0), 1, 1.0),   // session A start
        EventStreams.SessionEvent(t(180), 1, 8.0), // session C (stays open)
        EventStreams.SessionEvent(t(10), 1, 2.0),  // session A
        EventStreams.SessionEvent(t(55), 1, 3.0))  // session B
      q.processAllAvailable()
      val immediate = spark.table("tws_split")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).sortBy(_._2.getTime)
      // A and B closed by intra-batch gaps and emitted in the SAME batch
      assert(immediate.toSeq == Seq(
        (1L, t(0), t(10), 2L, 3.0),
        (1L, t(50), t(55), 2L, 7.0)))
      // C is still open; it closes through the normal watermark-timer path
      mem.addData(EventStreams.SessionEvent(t(600), 2, 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.SessionEvent(t(601), 2, 1.0))
      q.processAllAvailable()
      val all = spark.table("tws_split")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).sortBy(_._2.getTime)
      assert(all.length == 3)
      assert(all(2) == ((1L, t(180), t(180), 1L, 8.0)))
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("transformWithState sessionizer recovers state and timers across restart") {
    // RocksDB state (open sessions + armed timers) must survive a
    // stop/restart from the checkpoint: sessions opened before the
    // restart emit exactly once after it, from the recovered state.
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_tws_ckpt").toString
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def writeBatch(evs: Seq[EventStreams.SessionEvent]): Unit =
        evs.toDF().coalesce(1).write.mode("append").parquet(srcDir)
      val schema = Seq(EventStreams.SessionEvent(t(0), 0L, 0.0)).toDF().schema
      def start() = EventStreams.sessionizeWithState(
          spark.readStream.schema(schema).parquet(srcDir).as[EventStreams.SessionEvent])
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      writeBatch(Seq(EventStreams.SessionEvent(t(0), 1, 2.0),
        EventStreams.SessionEvent(t(10), 1, 3.0)))
      val q1 = start()
      q1.processAllAvailable(); q1.stop() // session open, timer armed, nothing emitted
      // while the query is down, watermark-advancing data lands
      writeBatch(Seq(EventStreams.SessionEvent(t(300), 2, 1.0)))
      writeBatch(Seq(EventStreams.SessionEvent(t(301), 2, 1.0)))
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      val out = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
      // user 1's pre-restart session emitted exactly once, from recovered state
      assert(out.toSeq == Seq((1L, 2L, 5.0)))
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("transformWithState ListState top-k: changelog emission, state bounded at k") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def U(u: Long, id: Long, v: Double) = EventStreams.UserValueEvent(u, id, v)
    val mem = MemoryStream[EventStreams.UserValueEvent]
    val q = EventStreams.topKPerUser(mem.toDS(), k = 2)
      .writeStream.outputMode("append").format("memory").queryName("topk").start()
    def rows() = spark.table("topk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    def stateRows() = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .last.stateOperators.head.numRowsTotal
    try {
      mem.addData(U(1, 10, 5.0), U(1, 11, 1.0), U(1, 12, 3.0))
      q.processAllAvailable()
      assert(rows().toSet == Set((1L, 1, 10L, 5.0), (1L, 2, 12L, 3.0)))
      // displacing value re-emits the full re-ranked list
      mem.addData(U(1, 13, 4.0))
      q.processAllAvailable()
      assert(rows().size == 4 &&
        rows().toSet.contains((1L, 2, 13L, 4.0)))
      val stateAfterChange = stateRows()
      // below-the-cut arrivals change nothing: no emission, state FLAT
      mem.addData(U(1, 14, 0.5), U(1, 15, 0.1), U(1, 16, 2.9))
      q.processAllAvailable()
      assert(rows().size == 4, "below-min arrivals must not emit")
      assert(stateRows() == stateAfterChange,
        "state must stay bounded at k per user, not grow with input")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("transformWithState ListState top-k recovers across restart") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_topk_ckpt").toString
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def writeBatch(evs: Seq[EventStreams.UserValueEvent]): Unit =
        evs.toDF().coalesce(1).write.mode("append").parquet(srcDir)
      val schema = Seq(EventStreams.UserValueEvent(0, 0, 0.0)).toDF().schema
      def start() = EventStreams.topKPerUser(
          spark.readStream.schema(schema).parquet(srcDir)
            .as[EventStreams.UserValueEvent], k = 2)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      writeBatch(Seq(EventStreams.UserValueEvent(1, 10, 5.0),
        EventStreams.UserValueEvent(1, 12, 3.0)))
      val q1 = start()
      q1.processAllAvailable(); q1.stop()
      // post-restart arrival must rank against the RECOVERED list: 4.0
      // displaces 3.0 but not 5.0 — only provable if state survived
      writeBatch(Seq(EventStreams.UserValueEvent(1, 13, 4.0)))
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      val emitted = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(emitted == Set(
        (1L, 1, 10L, 5.0), (1L, 2, 12L, 3.0),  // pre-restart ranking
        (1L, 1, 10L, 5.0), (1L, 2, 13L, 4.0))) // post-restart re-rank from recovered state
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("transformWithState MapState TTL dedup: suppresses within TTL, re-admits after") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def U(u: Long, id: Long) = EventStreams.UserValueEvent(u, id, 1.0)
    val mem = MemoryStream[EventStreams.UserValueEvent]
    // ProcessingTime state (TTL) makes the engine schedule no-data
    // batches to advance wall-clock state; an unpaced (ASAP) trigger
    // turns that into a busy loop of empty micro-batches — pace it, as
    // any production processing-time query must. Those same forced
    // batches keep processAllAvailable from ever latching quiescence, so
    // the test observes the memory sink by deadline-polling instead.
    val q = EventStreams.dedupWithTtl(mem.toDS(), java.time.Duration.ofSeconds(4))
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .format("memory").queryName("ttldedup").start()
    def waitCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("ttldedup").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    try {
      mem.addData(U(1, 100), U(1, 100), U(2, 200))
      waitCount(2)
      assert(spark.table("ttldedup").count() == 2) // intra-batch dup suppressed
      mem.addData(U(1, 100))
      Thread.sleep(1500) // several paced triggers, well inside the 4 s TTL
      assert(spark.table("ttldedup").count() == 2) // cross-batch dup within TTL
      Thread.sleep(6000) // let the TTL lapse in processing time
      mem.addData(U(1, 100))
      waitCount(3)
      // expired entry re-admits — the documented bounded-memory tradeoff
      assert(spark.table("ttldedup").count() == 3)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("stream-stream attribution join equals batch q43 over harness events") {
    // the watermarked stream-stream range join must reproduce the batch
    // range-join semantics exactly: two independent file streams over the
    // same events table, joined within the 30-min window, compared
    // set-for-set against q43RangeJoin
    val p = EventStreams.fileStream(spark, sfDir, Some("events.parquet"))
    val c = EventStreams.fileStream(spark, sfDir, Some("events.parquet"))
    val q = EventStreams.attributedClicks(p, c)
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attrib")
        .select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.operators.Analytics.q43RangeJoin(spark, sfDir)
        .select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits watermark-proven unmatched purchases") {
    import org.apache.spark.sql.functions.unix_micros
    val p = EventStreams.fileStream(spark, sfDir, Some("events.parquet"))
    val c = EventStreams.fileStream(spark, sfDir, Some("events.parquet"))
    val q = EventStreams.attributedClicksOuter(p, c)
      .writeStream.outputMode("append").format("memory").queryName("attribo").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attribo")
        .select($"p_id", $"c_id", unix_micros($"p_ts").as("pus")).collect()
      val matched = rows.filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchPairs = graft.operators.Analytics.q43RangeJoin(spark, sfDir)
        .select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(matched == batchPairs, "matched rows must equal the inner/batch join")
      // null emissions: exactly the no-click purchases whose window the
      // watermark has provably closed (boundary given ±1s slack)
      val wmStr = Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
      assert(wmStr != null, "outer join must report a watermark")
      val wmUs = java.time.Instant.parse(
        wmStr.replace(" ", "T") + (if (wmStr.endsWith("Z")) "" else "Z"))
        .toEpochMilli * 1000L
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select($"event_id", $"event_type", unix_micros($"ts").as("us")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val matchedP = batchPairs.map(_._1)
      val win = 30L * 60 * 1000000
      val unmatchedAll = ev.filter(e => e._2 == "purchase" && !matchedP(e._1))
      val mustEmit = unmatchedAll.filter(e => e._3 + win < wmUs - 1000000).map(_._1).toSet
      val mayEmit = unmatchedAll.filter(e => e._3 + win <= wmUs + 1000000).map(_._1).toSet
      val gotNulls = rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
      assert(mustEmit.subsetOf(gotNulls),
        s"${(mustEmit -- gotNulls).size} watermark-closed unmatched purchases missing")
      assert(gotNulls.subsetOf(mayEmit),
        "an unmatched purchase emitted before its window provably closed")
      assert(gotNulls.nonEmpty, "fixture must contain closed unmatched purchases")
      assert(rows.length == rows.map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).distinct.length,
        "no duplicate emissions")
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dim, no streaming state") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("a", 10L), ("b", 20L)).toDF("event_type", "weight")
    val mem = MemoryStream[Ev]
    val q = EventStreams.enrichWithDim(mem.toDF(), dim)
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    try {
      mem.addData(Ev(t(0), "a", 1.0, 0, 1), Ev(t(1), "c", 2.0, 1, 2))
      q.processAllAvailable()
      val got = spark.table("enrich")
        .select($"event_id", $"weight").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(got == Set((0L, 10L), (1L, -1L))) // matched + left-outer miss
      // stateless: no state store operator in the progress
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes dup event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupedStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      mem.addData(Ev(t(0), "a", 1.0, 100, 1), Ev(t(1), "a", 1.0, 100, 1),
        Ev(t(2), "b", 1.0, 101, 2))
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }
}
