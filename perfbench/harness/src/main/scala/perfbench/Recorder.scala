package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced mode's recorder: a public `SparkListener` for jobs, stages
  * and tasks, and a `QueryExecutionListener` for actions. It keeps every
  * record in memory; the harness writes them out at exit.
  *
  * Each record is tied to the harness call it belongs to: by the job
  * group the harness sets around the call (`call-<id>`), or — for jobs
  * started from pool threads that never saw the group — by `current`,
  * the call in flight when the event was processed. The harness drains
  * the listener bus ([[Recorder.drain]]) after every call, so no event
  * of one call is processed after the next call starts.
  */
final class Recorder {
  @volatile var current: Int = 0

  final class Stage(val id: Int) {
    var submitMs = 0L; var firstLaunchMs = 0L
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var outRecords = 0L
  }

  final class Job(val id: Int, val group: String, val call: Int,
      val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs = 0L
    @volatile var ok = false
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val actions = ArrayBuffer[(Int, String, Long, Boolean)]()

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, i => new Stage(i))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, new Job(e.jobId, group, current, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stage(e.stageInfo.stageId).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val s = stage(e.stageId)
      if (s.firstLaunchMs == 0L || e.taskInfo.launchTime < s.firstLaunchMs)
        s.firstLaunchMs = e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.synchronized { actions += ((current, funcName, durationNs, true)) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      actions.synchronized { actions += ((current, funcName, 0L, false)) }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(spark: SparkSession): Unit = {
    Recorder.drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def jobsJson: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val ss = j.stageIds.flatMap(i => Option(stages.get(i))).filter(_.tasks > 0)
      def sum(f: Stage => Long): Long = ss.map(f).sum
      Map("id" -> j.id, "group" -> j.group, "call" -> j.call,
        "t0" -> j.startMs * 1000000L, "t1" -> j.endMs * 1000000L, "ok" -> j.ok,
        "stages" -> ss.size, "tasks" -> sum(_.tasks), "tasks_failed" -> sum(_.failed),
        "task_run_ms" -> sum(_.runMs), "task_cpu_ns" -> sum(_.cpuNs),
        "task_gc_ms" -> sum(_.gcMs),
        "stage_wait_ms" -> ss.map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum,
        "shuffle_read_bytes" -> sum(_.shuffleRead),
        "shuffle_write_bytes" -> sum(_.shuffleWrite), "spill_bytes" -> sum(_.spill),
        "input_bytes" -> sum(_.inBytes), "input_records" -> sum(_.inRecords),
        "output_bytes" -> sum(_.outBytes), "output_records" -> sum(_.outRecords))
    }

  def actionsJson: Seq[Map[String, Any]] = actions.synchronized {
    actions.toSeq.map { case (c, f, d, ok) =>
      Map("call" -> c, "func" -> f, "duration_ns" -> d, "ok" -> ok) }
  }
}

object Recorder {
  /** Wait until every posted Spark event has reached the listeners.
    * `LiveListenerBus.waitUntilEmpty` is public in bytecode but not in
    * source, hence the reflective call.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
