package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a Spark call site such as `collect at SyncRunner.scala:322` to
  * the repo module that issued the action. Spark names a job after the
  * first stack frame outside Spark, so the source file in the call site
  * is the layer that triggered it.
  */
object Layers {
  val Readers = "readers"
  val PkValidator = "pk_validator"
  val JdbcRead = "jdbc_read"
  val Differ = "differ"
  val SyncRunner = "sync_runner"
  val JdbcWrite = "jdbc_write"
  val Ranking = "ranking"
  val Other = "other"

  private val ByFile = Map(
    "Readers.scala" -> Readers,
    "PrimaryKeyValidator.scala" -> PkValidator,
    "Differ.scala" -> Differ,
    "Canonical.scala" -> Differ,
    "SyncRunner.scala" -> SyncRunner,
    // the benchmark's span replica issues SyncRunner's change-set and
    // overwrite collects from here
    "Replica.scala" -> SyncRunner,
    "JdbcSyncWriter.scala" -> JdbcWrite,
    "Ranking.scala" -> Ranking,
    "SparkEntry.scala" -> Ranking,
    // the LM pass collects each query's Ranking plan from here
    "Workloads.scala" -> Ranking)

  private val FileRe = """at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r

  def sourceFile(callSite: String): Option[String] =
    FileRe.findFirstMatchIn(Option(callSite).getOrElse("")).map(_.group(1))

  def of(callSite: String): String =
    sourceFile(callSite).flatMap(ByFile.get).getOrElse(Other)
}

/** Per-stage totals, filled from task ends and the stage's RDD list. */
final class StageRec(val id: Int) {
  @volatile var jdbcTables: Seq[String] = Nil
  @volatile var fileScan = false
  @volatile var ran = false
  val cpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val recordsRead = new AtomicLong
  val resultBytes = new AtomicLong
  def jdbcScan: Boolean = jdbcTables.nonEmpty
}

final case class JobRec(id: Int, startMs: Long, callSite: String, stageIds: Seq[Int],
    jdbcTables: Set[String]) {
  @volatile var endMs: Long = -1L
  def layer: String = Layers.of(callSite)
}

/** The benchmark's SparkListener. It always sums task result bytes (the
  * driver-memory cost of collects); with `detailed` on it also keeps
  * every job and stage so a time window can be broken down by layer.
  */
final class Recorder extends SparkListener {
  val resultBytes = new AtomicLong
  @volatile var detailed = false

  private val execCallSite = new ConcurrentHashMap[Long, String]()
  private val execJdbcTables = new ConcurrentHashMap[Long, Set[String]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()

  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, i => new StageRec(i))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if detailed =>
      execCallSite.put(e.executionId, e.description)
      execJdbcTables.put(e.executionId, Recorder.JdbcTableRe
        .findAllMatchIn(e.physicalPlanDescription).map(_.group(1).toLowerCase).toSet)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val resultStage = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    // AQE submits each shuffle stage as its own job named after Spark
    // internals; the SQL execution's call site names the user action
    val site = exec.flatMap(x => Option(execCallSite.get(x))).getOrElse(resultStage)
    val tables = exec.flatMap(x => Option(execJdbcTables.get(x))).getOrElse(Set.empty[String])
    e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, e.time, site, e.stageInfos.map(_.stageId), tables))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detailed) {
    val s = stage(e.stageInfo.stageId)
    val rdds = e.stageInfo.rddInfos
    // a JDBC scan RDD does not name its table; the SQL execution's plan
    // does, and each of the sync's actions reads a single table
    val tables = Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .map(_.jdbcTables).getOrElse(Set.empty[String])
    s.jdbcTables = rdds.filter(_.name == "JDBCRDD")
      .map(_ => if (tables.size == 1) tables.head else "?")
    s.fileScan = rdds.exists(r => Recorder.FileScanRdds.contains(r.name))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      resultBytes.addAndGet(m.resultSize)
      if (detailed) {
        val s = stage(e.stageId)
        s.ran = true
        s.cpuNs.addAndGet(m.executorCpuTime)
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        s.resultBytes.addAndGet(m.resultSize)
      }
    }
  }

  /** Jobs that started inside `[fromMs, toMs]`. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq.sortBy(_.id)

  def window(fromMs: Long, toMs: Long): Window = {
    val js = jobsIn(fromMs, toMs)
    val ss = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id))).filter(_.ran)
    Window(fromMs, toMs, js, ss)
  }

}

object Recorder {
  private val JdbcTableRe = """JDBCRelation\(([A-Za-z0-9_.]+)\)""".r
  private val FileScanRdds = Set("FileScanRDD", "WholeTextFileRDD", "HadoopRDD", "NewHadoopRDD")
}

/** The jobs and the stages that ran in one time window. */
final case class Window(fromMs: Long, toMs: Long, jobs: Seq[JobRec], stages: Seq[StageRec]) {
  private val Mb = 1024.0 * 1024.0
  def taskCpuS: Double = stages.map(_.cpuNs.get).sum / 1e9
  def shuffleMb: Double = stages.map(_.shuffleWriteBytes.get).sum / Mb
  def resultMb: Double = stages.map(_.resultBytes.get).sum / Mb
  def dbScans: Int = stages.count(_.jdbcScan)
  def dbScansOf(table: String): Int = stages.count(_.jdbcTables.contains(table))
  def fileScans: Int = stages.count(_.fileScan)
  def jdbcRowsRead: Long = stages.filter(_.jdbcScan).map(_.recordsRead.get).sum
  /** Task CPU of the stages that scan a DB table, or an input file. */
  def dbScanCpuS: Double = stages.filter(_.jdbcScan).map(_.cpuNs.get).sum / 1e9
  def fileScanCpuS: Double = stages.filter(_.fileScan).map(_.cpuNs.get).sum / 1e9

  /** Window wall with no job running: serial driver time. */
  def driverGapS: Double = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))
    (toMs - fromMs - Spans.unionLength(iv)) / 1000.0
  }

  def byLayer(layer: String): Window = {
    val js = jobs.filter(_.layer == layer)
    val ids = js.flatMap(_.stageIds).toSet
    Window(fromMs, toMs, js, stages.filter(s => ids.contains(s.id)))
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span log: name, start, end, parent and op id per span,
  * written out as JSON lines when the run ends.
  */
final class Spans {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var op = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, parent, op, s0, System.nanoTime(), m0, System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  def ofOp(op: Int): Seq[Span] = all.filter(_.op == op)

  /** Seconds of each span not covered by its child spans. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Spans.unionLength(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  def writeJsonLines(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "dur_s": ${s.durS}}""")
    } finally w.close()
  }
}

object Spans {
  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
