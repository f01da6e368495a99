package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.time.SpanSugar._

/** Counts the Spark jobs that `body` starts under a job group whose id
  * starts with `groupPrefix`. Job starts reach a listener
  * asynchronously, so the count first waits until a marker job, started
  * after `body` under a group of its own, has reached the listener: the
  * bus delivers events in order, so by then every job `body` started has
  * been seen.
  */
object JobCount {
  def apply(spark: SparkSession, groupPrefix: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      val marker = s"job-count-marker-${UUID.randomUUID()}"
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis)) { assert(groups.contains(marker)) }
      groups.asScala.count(_.startsWith(groupPrefix))
    } finally sc.removeSparkListener(listener)
  }

  /** [[apply]] with `body` run under the job group `group` itself. */
  def inGroup(spark: SparkSession, group: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    apply(spark, group) {
      sc.setJobGroup(group, null)
      try body finally sc.clearJobGroup()
    }
  }
}
