package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture: one session per suite, the bench's
  * [[GraftSession]] shape at 4 cores (so tiny tests don't pay
  * 200-partition overhead). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder(4).appName(getClass.getSimpleName).getOrCreate()

  /** Spark jobs started while `body` runs: a listener counts the job
    * starts of one job group, read after the listener bus has delivered
    * every event. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      body
      ListenerBusDrain(sc)
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }
}
