package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session: Spark
  * startup dominates test wall-clock otherwise). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Runs `body` and returns the start event of every Spark job it
    * started. A marker job run afterwards proves the listener bus has
    * delivered every earlier job start. */
  protected def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    @volatile var markerSeen = false
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("graft.test.marker") == marker))
          markerSeen = true
        else seen.add(js)
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty("graft.test.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }
}
