package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.scbridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it started from this thread
    * (its own job group, so other work on the shared context is not
    * counted), with the listener bus drained before counting. */
  def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val a = body
      scbridge.drainListenerBus(sc)
      (a, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
