package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001"

  /** Job descriptions and SQL physical plans started while `body` runs,
    * plus the number of those jobs that ran outside any SQL execution
    * (bare RDD actions). Listener events arrive asynchronously but in
    * order, so a marker job run before and after `body` brackets
    * exactly its events. */
  protected def recordedWithRdd[T](body: => T): (T, Seq[String], Seq[String], Int) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    val rddJobs = new java.util.concurrent.atomic.AtomicInteger()
    val markers = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val d = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (d == "spec-marker") markers.incrementAndGet()
        else {
          jobs.add(d)
          if (props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
            rddJobs.incrementAndGet()
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    def drain(): Unit = {
      val seen = markers.get
      sc.setJobDescription("spec-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 60000
      while (markers.get == seen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markers.get > seen, "listener never saw the marker job")
    }
    sc.addSparkListener(listener)
    try {
      drain(); jobs.clear(); plans.clear(); rddJobs.set(0)
      val out = body
      drain()
      (out, jobs.asScala.toSeq, plans.asScala.toSeq, rddJobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
