package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
    * [[apply]] counts, in start order. A job of a SQL execution is named
    * by the execution's call site, the action that ran it: adaptive
    * execution submits its query-stage jobs from a pool thread, so their
    * own call site names only that thread. Any other job is named by its
    * result stage, the last one. */
  def sites(spark: SparkSession, groupPrefix: String)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    // an execution's start event reaches the bus before any of its jobs
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.jobGroup.id").getOrElse(""),
          prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id)))
            .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))))
      }
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
