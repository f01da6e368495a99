package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.config.{DependencyGraph, SyncConfig, TableSyncConfig}
import graft.core.{Differ, PrimaryKeyValidator, SyncResult}
import graft.sinks.JdbcSyncWriter
import graft.sources.Readers

/** A span-instrumented replica of `SyncRunner.run` for the traced mode:
  * the same phases in the same order, each a call into a layer's public
  * function wrapped in a span. It covers what the workloads use (diff
  * and driver-path overwrite, no dry run); the correctness gate checks
  * that it reaches the same DB state as the real run.
  *
  * `Differ.diff` only builds lazy plans: the diff executes inside the
  * change-set collects, so the `differ` span covers both.
  */
object Replica {

  final case class Counts(changeRows: Long, comparedKeys: Long, writeRows: Long)

  private final case class Ops(
      cfg: TableSyncConfig, cols: Seq[String], pk: String,
      ins: Seq[Row], upd: Seq[Row], del: Seq[Row], overwrite: Seq[Row], compared: Long)

  /** `fileRows` gives each input file's row count, for the number of
    * keys the diff compared.
    */
  def run(spark: SparkSession, config: SyncConfig, spans: Spans,
      fileRows: Map[String, Long]): (Seq[SyncResult], Counts) = spans("op") {
    config.validated()
    val conn = JdbcSyncWriter.connect(config.db)
    try {
      val (insertOrder, deleteOrder) =
        new DependencyGraph(config.tables.map(t => t.name -> t.dependencies).toMap).syncOrders
      val byName = config.tables.map(t => t.name -> t).toMap
      val ops = insertOrder.map(n => n -> compute(spark, config, conn, byName(n), spans, fileRows)).toMap
      var written = 0L
      val results = spans(Layers.JdbcWrite) {
        val deleted = deleteOrder.flatMap { n =>
          val o = ops(n)
          o.cfg.mode match {
            case SyncConfig.ModeOverwrite =>
              written += JdbcSyncWriter.deleteAll(conn, n)
              None
            case _ if o.cfg.deleteNotInFile && o.del.nonEmpty =>
              val k = JdbcSyncWriter.bulkDelete(conn, n, o.pk, o.del.map(_.getAs[Any](o.pk)))
              written += k
              Some(n -> k)
            case _ => None
          }
        }.toMap
        val rs = insertOrder.map { n =>
          val o = ops(n)
          o.cfg.mode match {
            case SyncConfig.ModeOverwrite =>
              val i = JdbcSyncWriter.bulkInsert(conn, n, o.cols, o.overwrite, o.cfg.timestampColumns)
              written += i
              SyncResult(n, o.cfg.mode, i, 0, 0)
            case _ =>
              val i = JdbcSyncWriter.bulkInsert(conn, n, o.cols, o.ins, o.cfg.timestampColumns)
              val u = JdbcSyncWriter.bulkUpdate(conn, n, o.cols, o.pk, o.upd,
                o.cfg.timestampColumns, o.cfg.immutableColumns)
              written += i + u
              SyncResult(n, o.cfg.mode, i, u, deleted.getOrElse(n, 0))
          }
        }
        spans(Replica.Commit)(conn.commit())
        rs
      }
      val changed = ops.values.map(o => (o.ins.size + o.upd.size + o.del.size + o.overwrite.size).toLong).sum
      val compared = ops.values.map(_.compared).sum
      (results, Counts(changed, compared, written))
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: Throwable => () }
        throw e
    } finally {
      try conn.close() catch { case _: Throwable => () }
    }
  }

  val Commit = "jdbc_write.commit"

  private def compute(spark: SparkSession, config: SyncConfig, conn: java.sql.Connection,
      t: TableSyncConfig, spans: Spans, fileRows: Map[String, Long]): Ops = {
    val file = spans(Layers.Readers)(Readers.forPath(spark, t.filePath, t.columns))
    val (dbCols, db) = spans(Layers.JdbcRead) {
      val dc = JdbcSyncWriter.tableColumns(conn, t.name)
      val d0 = JdbcSyncWriter.readTable(spark, config.db, t.name)
      (dc, d0.toDF(d0.columns.map(_.toLowerCase): _*))
    }
    val fileCols = file.columns.map(_.toLowerCase).toSeq
    val base = if (fileCols.isEmpty) dbCols else fileCols.filter(dbCols.contains)
    val cols =
      if (t.columns.nonEmpty) base.filter(c => t.columns.map(_.toLowerCase).contains(c)) else base
    val pk = t.primaryKey.toLowerCase
    val dbSel = db.select(cols.map(col): _*)
    val lowered = file.toDF(file.columns.map(_.toLowerCase): _*).select(cols.map(col): _*)
    val fileSel: DataFrame = cols.foldLeft(lowered) { (d, c) =>
      val target = dbSel.schema(c).dataType
      if (d.schema(c).dataType == target) d else d.withColumn(c, col(c).cast(target))
    }
    t.mode match {
      case SyncConfig.ModeOverwrite =>
        // the driver path of SyncRunner's overwrite: snapshot, scale
        // probe, collect
        val rows = spans(Layers.SyncRunner) {
          val thr = config.overwriteDistributedThreshold
          val snap = fileSel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val probe = snap.limit(thr.toInt + 1).count()
          require(probe <= thr, s"replica covers the driver overwrite path only ($probe rows)")
          try snap.collect().toSeq finally snap.unpersist(false)
        }
        Ops(t, cols, pk, Nil, Nil, Nil, rows, 0L)
      case _ =>
        spans(Layers.PkValidator)(PrimaryKeyValidator.validateStrict(fileSel, pk))
        spans(Layers.Differ) {
          val diff = Differ.diff(fileSel, dbSel, pk)
          val nonPk = cols.filterNot(_ == pk)
          val ins = diff.toInsert.select(cols.map(col): _*).collect().toSeq
          val upd = diff.toUpdate
            .select((cols.map(col) ++ nonPk.map(c => col(Differ.DbPrefix + c))): _*)
            .collect().toSeq
          val del =
            if (t.deleteNotInFile) diff.toDelete.select(cols.map(col): _*).collect().toSeq else Nil
          // keys compared: every file row plus the DB-only rows
          Ops(t, cols, pk, ins, upd, del, Nil, fileRows.getOrElse(t.filePath, 0L) + del.size)
        }
    }
  }
}
