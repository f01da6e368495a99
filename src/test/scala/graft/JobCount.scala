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
  def apply(spark: SparkSession, groupPrefix: String)(body: => Any): Int =
    sites(spark, groupPrefix)(body).size

  /** The short call sites (`collect at Ranking.scala:123`) of the jobs
    * [[apply]] counts, in start order. */
  def sites(spark: SparkSession, groupPrefix: String)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      // a job's call site names its result stage, the last one
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
          e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)))
    }
    sc.addSparkListener(listener)
    try {
      body
      val marker = s"job-count-marker-${UUID.randomUUID()}"
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis)) { assert(jobs.asScala.exists(_._1 == marker)) }
      jobs.asScala.toSeq.collect { case (g, site) if g.startsWith(groupPrefix) => site }
    } finally sc.removeSparkListener(listener)
  }

  /** [[apply]] with `body` run under the job group `group` itself. */
  def inGroup(spark: SparkSession, group: String)(body: => Any): Int =
    sitesInGroup(spark, group)(body).size

  /** [[sites]] with `body` run under the job group `group` itself. */
  def sitesInGroup(spark: SparkSession, group: String)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    sites(spark, group) {
      sc.setJobGroup(group, null)
      try body finally sc.clearJobGroup()
    }
  }
}
