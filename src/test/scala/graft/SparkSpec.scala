package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites execute
  * sequentially; see build.sbt Test/parallelExecution).
  */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = graft.core.Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTestSession.get
  val sfDir = "/root/testdata/sf0.001"

  /** The call site of every Spark job started while `body` runs
    * (listener bus drained on both sides, so no job is missed or
    * borrowed from a neighbour).
    */
  def jobSitesOf(body: => Unit): Seq[String] = {
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse(""))
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try { body; drain() } finally spark.sparkContext.removeSparkListener(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(sites).asScala.toSeq
  }

  /** The number of Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Int = jobSitesOf(body).size
}
