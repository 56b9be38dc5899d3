package graft.pipeline

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Shared local session for all Spark suites (one JVM, forked by sbt with
  * the JDK17 add-opens flags from build.sbt), watched by [[StallWatchdog]]. */
object SparkTestBase {
  /** Seconds a Spark job may go without a finished task before the test
    * JVM is halted: 10x the slowest Spark test of a clean tier-1 run
    * (12.6 s, IncrementalComponentsSpec, on a 4-vCPU VM). */
  val StallLimitS = 130

  lazy val spark: SparkSession = {
    val s = graft.Sessions.local(4)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    StallWatchdog.watch(s, StallLimitS)
    s
  }

  /** Descriptions of the jobs `body` starts. A marker job flushes the
    * listener queue: events reach a listener in order. */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = "spark-test-base-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filter(_ != marker)
  }

  /** A page whose html holds each payload in its own script block. */
  def page(url: String, payloads: String*): Page =
    Page(url, new java.sql.Timestamp(0L),
      PageGen.htmlShell(url, payloads, "filler").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "filler", "en")
}

/** Fails a hung suite fast. While a Spark job is in flight (started, or a
  * thread waits for one that the scheduler has not started) and no task
  * has finished for the limit, it prints every thread's stack with its
  * locks to stderr and halts the JVM with exit code 3, so a deadlock such
  * as the one a lazy `localCheckpoint` could hit when a broadcast first
  * read it (`graftshim.Leaf` describes it; no lazy path creates an RDD
  * checkpoint now) fails the run in minutes rather than at the CI timeout. It also ends the sbt that
  * forked this JVM: ScalaTest's sbt-side runner waits forever for the end
  * of a forked run that stopped without reporting one. */
object StallWatchdog extends SparkListener {
  private var activeJobs = 0
  @volatile private var progress = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { activeJobs += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { activeJobs -= 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = progress = System.nanoTime()

  /** Frames of a thread that waits for a job to finish. */
  private val Waits = Set(
    "org.apache.spark.scheduler.DAGScheduler.runJob",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.getFinalPhysicalPlan")

  private def inFlight: Boolean = synchronized(activeJobs) > 0 ||
    Thread.getAllStackTraces.values.asScala.exists(_.exists(f => Waits(f.getClassName + "." + f.getMethodName)))

  def watch(spark: SparkSession, limitS: Int): Unit = {
    spark.sparkContext.addSparkListener(this)
    val t = new Thread(() => {
      var waiting = false
      while (true) {
        Thread.sleep(5000)
        val now = System.nanoTime()
        val busy = inFlight
        if (busy && !waiting) progress = now // a job that just began has made no progress yet
        waiting = busy
        if (busy && now - progress > limitS * 1000000000L) {
          System.err.println(s"StallWatchdog: a Spark job has finished no task for $limitS s; thread dump:")
          ManagementFactory.getThreadMXBean.dumpAllThreads(true, true).foreach { ti =>
            System.err.println(s"\"${ti.getThreadName}\" ${ti.getThreadState}" +
              Option(ti.getLockName).fold("")(" on " + _) + Option(ti.getLockOwnerName).fold("")(" owned by " + _))
            ti.getStackTrace.foreach(f => System.err.println("\tat " + f))
          }
          System.err.flush()
          ProcessHandle.current().parent()
            .filter(_.info().commandLine().orElse("").contains("sbt"))
            .ifPresent(sbt => sbt.destroy())
          Runtime.getRuntime.halt(3)
        }
      }
    }, "spark-stall-watchdog")
    t.setDaemon(true)
    t.start()
  }
}
