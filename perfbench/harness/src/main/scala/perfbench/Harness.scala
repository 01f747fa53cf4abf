package perfbench

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** JVM side of the benchmark: drives the engine only through its public
  * functions and times every call from outside.
  *
  * Usage: `Harness <params.properties>`. The parameters (written by
  * `run.py`) name the workload and its generated inputs. The harness
  * sets up (session, table schemas, a warm-up), runs a fixed number
  * of whole units — a pass over the query list, or one episode of the
  * vector stream — and then, outside the timed window, writes each
  * query's result under `check_dir` for the oracle compare. It writes
  * one raw JSON file (`out`) with the set-up marks, every call's
  * start/end and — in traced mode — the Spark job, stage, task and
  * action records. Statistics and checks happen in Python.
  *
  * One caller, one call outstanding: every engine call runs on this
  * thread and the next starts only after the previous returned.
  */
object Harness {

  /** Epoch nanoseconds from the monotonic clock (one base per process),
    * so call times line up with Spark's epoch-millisecond event times.
    */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  final case class Call(id: Int, unit: Int, kind: String, name: String,
      t0: Long, tMid: Long, t1: Long, error: String,
      memoBuilds: Int, memoBuildS: Double, extra: Map[String, Any])

  final case class UnitRec(id: Int, traced: Boolean, t0: Long, t1: Long,
      quietNs: Long, gcS: Double, sweeps: Seq[(Long, Long, Long)])

  def main(args: Array[String]): Unit = {
    val p = new Properties()
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    def get(k: String): String = Option(p.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing parameter $k"))
    val workload = get("workload")
    val cores = get("cores").toInt
    val sf = get("sf")
    val out = get("out")

    val marks = scala.collection.mutable.LinkedHashMap[String, Long]()
    marks("jvm_start") = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime * 1000000L
    marks("main") = now

    val s0 = now
    var spark = graft.core.Sessions.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    marks("session") = now
    val sessionS = (now - s0) / 1e9
    val schemaT0 = now
    graft.sources.Tables.all.foreach(t => graft.sources.Tables(spark, sf, t))
    marks("schema") = now
    val schemaS = (now - schemaT0) / 1e9

    val calls = ArrayBuffer[Call]()
    val units = ArrayBuffer[UnitRec]()
    val recorder = new Recorder
    var nextCall = 0
    var quietNs = 0L

    /** Between calls, outside every timed interval: let the listener bus
      * catch up and collect garbage, so that no call pays for the events
      * and garbage of the one before it. Without this the per-query
      * median depended on the seed's query order. The time spent is
      * summed per unit and left out of the unit's wall time.
      */
    def quiesce(): Unit = {
      val t = now
      Recorder.drain(spark)
      System.gc()
      quietNs += now - t
    }

    def memoCount: (Int, Double) = {
      val tel = graft.operators.OpUtils.SessionMemo.buildTelemetry
      (tel.values.map(_.size).sum, tel.values.flatMap(_.map(_._1)).sum)
    }

    /** One timed engine call: `body` returns (end of the first phase,
      * extra fields); wall time is start to return.
      */
    def timed(unit: Int, kind: String, name: String)(
        body: => (Long, Map[String, Any])): Call = {
      nextCall += 1
      val id = nextCall
      spark.sparkContext.setJobGroup(s"call-$id", s"$kind:$name", interruptOnCancel = false)
      recorder.current = id
      val (m0, mb0) = memoCount
      val t0 = now
      val (tMid, extra, err) =
        try { val (m, e) = body; (m, e, null) }
        catch { case e: Throwable =>
          (now, Map.empty[String, Any],
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val t1 = now
      spark.sparkContext.clearJobGroup()
      quiesce()
      recorder.current = 0
      val (m1, mb1) = memoCount
      val c = Call(id, unit, kind, name, t0, tMid, t1, err, m1 - m0, mb1 - mb0, extra)
      calls += c
      c
    }

    def cachedBytes: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    def gcSeconds: Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    // ---------------- query workloads ----------------
    val queryNames = Option(p.getProperty("queries")).map(_.split(",").toSeq
      .filter(_.nonEmpty)).getOrElse(Nil)
    val freshSessionPerPass = p.getProperty("fresh_session", "false").toBoolean

    def runQuery(unit: Int, name: String): Call =
      timed(unit, "query", name) {
        val df = graft.SparkEntry.queries(name)(spark, sf)
        val mid = now
        df.write.mode("overwrite").format("noop").save()
        (mid, Map.empty)
      }

    /** Between-call hygiene, as the engine's own suite runners do it: the
      * cached bytes the call left behind, then the sweep of unpinned
      * checkpoint blocks. Returns (start, end, cached bytes before).
      */
    def sweep(): (Long, Long, Long) = {
      val bytes = cachedBytes
      val t0 = now
      org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(spark.sparkContext)
      (t0, now, bytes)
    }

    def queryPass(unit: Int, traced: Boolean): UnitRec = {
      quietNs = 0L
      val g0 = gcSeconds
      val t0 = now
      val sweeps = queryNames.map { n => runQuery(unit, n); sweep() }
      UnitRec(unit, traced, t0, now, quietNs, gcSeconds - g0, sweeps)
    }

    // ---------------- vector stream ----------------
    val vecSchema = graft.streaming.IvfIndex.vecSchema
    lazy val nBatches = get("batches").toInt
    lazy val vecDir = get("vec_dir")
    lazy val k = get("k").toInt
    lazy val maxCos = get("max_cos").toDouble
    lazy val panel = spark.read.schema(vecSchema).parquet(s"$vecDir/panel.parquet")

    def metaN(indexDir: String): Long =
      if (!new File(s"$indexDir/meta").exists()) 0L
      else spark.read.parquet(s"$indexDir/meta").select(col("n_vecs")).head().getLong(0)

    def episode(unit: Int, traced: Boolean, root: String, batches: Int): UnitRec = {
      val corpus = s"$root/corpus"
      val index = s"$root/index"
      deleteTree(new File(root))
      quietNs = 0L
      val g0 = gcSeconds
      val t0 = now
      val sweeps = ArrayBuffer[(Long, Long, Long)]()
      var lastN = 0L
      for (b <- 0 until batches) {
        val batch = spark.read.schema(vecSchema).parquet(f"$vecDir/batch_$b%03d.parquet")
        val a = timed(unit, "admit", s"batch_$b") {
          // an eager call: all of it counts as execution
          val start = now
          graft.streaming.IvfIndex.admitBatch(batch, corpus, index, maxCos)
          (start, Map.empty)
        }
        val n = metaN(index)
        calls(calls.size - 1) = a.copy(extra = Map("batch" -> b, "rebuilt" -> (n != lastN),
          "n_vecs" -> n, "store" -> dirStats(root)))
        lastN = n
        timed(unit, "topk", s"batch_$b") {
          val df = graft.streaming.IvfIndex.topK(spark, index, corpus, panel, k)
          val mid = now
          val rows = df.collect()
          (mid, Map("batch" -> b, "rows" -> rows.map(r =>
            Seq(r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getDouble(3))).toSeq))
        }
        sweeps += sweep()
      }
      UnitRec(unit, traced, t0, now, quietNs, gcSeconds - g0, sweeps.toSeq)
    }

    /** Per-unit session: the corpus workload starts every timed pass in
      * a fresh session, so each pass pays every SessionMemo build again.
      */
    def freshSession(): Unit =
      if (freshSessionPerPass) {
        graft.operators.OpUtils.SessionMemo.releaseAll(spark, sf)
        spark = spark.newSession()
      }

    def runUnit(unit: Int, traced: Boolean): UnitRec = workload match {
      case "vector_ingest" => episode(unit, traced, s"${get("work")}/ep$unit", nBatches)
      case _ => queryPass(unit, traced)
    }

    // ---------------- warm-up: the last set-up step ----------------
    // One untimed unit's worth of work, so the timed window measures
    // warm code (JIT, whole-stage codegen cache, file listings) rather
    // than first-execution costs a long-lived engine pays once: a whole
    // pass over the query list, or a short stream into a throw-away
    // index followed by one search. Failures land in `warmup_error`.
    val warmT0 = now
    val warmErr =
      try {
        workload match {
          case "vector_ingest" =>
            val root = s"${get("work")}/warmup"
            episode(-1, traced = false, root, get("warmup_batches").toInt)
            deleteTree(new File(root))
          case _ => queryPass(-1, traced = false)
        }
        calls.find(_.error != null).map(c => s"${c.name}: ${c.error}").orNull
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    calls.clear()
    nextCall = 0
    marks("warmup") = now
    val warmupS = (now - warmT0) / 1e9

    // ---------------- the timed window ----------------
    // a fixed number of whole units; in traced mode the first unit — the
    // one an untraced run measures — is traced and the rest are not, so
    // trace_overhead compares it with the untraced unit after it
    val trace = get("trace") == "1"
    marks("first_call") = now
    for (u <- 0 until get("units").toInt) {
      val on = trace && u == 0
      freshSession()
      if (on) recorder.attach(spark)
      units += runUnit(u, on)
      if (on) recorder.detach(spark)
    }
    marks("end") = now
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    // ---------------- output check writes, after the window ----------------
    val checkErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    Option(p.getProperty("check_dir")).foreach { dir =>
      queryNames.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, sf).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$n")
        catch { case e: Throwable =>
          checkErrors(n) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
        org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(spark.sparkContext)
      }
    }

    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(Map(
      "workload" -> workload, "cores" -> cores,
      "spark_version" -> spark.version,
      "marks" -> marks.toMap,
      "session_s" -> sessionS, "schema_s" -> schemaS, "warmup_s" -> warmupS,
      "warmup_error" -> warmErr,
      "heap_retained_mb" -> heapMb,
      "check_errors" -> checkErrors.toMap,
      "oracle_sql" ->
        queryNames.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "units" -> units.map(u => Map("id" -> u.id, "traced" -> u.traced,
        "t0" -> u.t0, "t1" -> u.t1, "quiet_ns" -> u.quietNs, "gc_s" -> u.gcS,
        "sweeps" -> u.sweeps.map { case (a, b, c) => Seq(a, b, c) })),
      "calls" -> calls.map(c => Map("id" -> c.id, "unit" -> c.unit,
        "kind" -> c.kind, "name" -> c.name, "t0" -> c.t0, "t_mid" -> c.tMid,
        "t1" -> c.t1, "error" -> c.error, "memo_builds" -> c.memoBuilds,
        "memo_build_s" -> c.memoBuildS) ++ c.extra),
      "jobs" -> recorder.jobsJson,
      "actions" -> recorder.actionsJson))
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** (files, bytes) of the parquet data files under `root`. */
  def dirStats(root: String): Seq[Long] = {
    val files = Option(new File(root)).filter(_.exists).toSeq.flatMap(walk)
      .filter(f => f.getName.endsWith(".parquet"))
    Seq(files.size.toLong, files.map(_.length).sum)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
