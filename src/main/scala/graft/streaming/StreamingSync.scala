package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.config.{SyncConfig, TableSyncConfig}
import graft.core.{Differ, SyncRunner}
import graft.sinks.JdbcSyncWriter

/** Incremental sync: a Structured Streaming source feeding one
  * diff-sync per micro-batch (the reference names this as future work —
  * SURVEY §2.10; `foreachBatch` is its natural Spark shape).
  *
  * Each batch is diffed against the CURRENT table state and applied as
  * upserts in one transaction per batch (insert + update; deletes are
  * meaningless against a partial batch, so `deleteNotInFile` is
  * rejected). Exactly-once at the table level comes from the source
  * checkpoint (a replayed batch re-diffs against the already-updated
  * table and finds nothing to change — the diff makes the write
  * idempotent).
  */
object StreamingSync {

  /** Apply one micro-batch as a transactional diff-sync: the batch
    * resolves and aligns to the table exactly as a file sync does
    * ([[SyncRunner.syncFrames]]), and its change set collects in one
    * action that also validates the batch's keys
    * ([[SyncRunner.collectChanges]]): a batch with an invalid key is
    * rejected before any write. Returns (inserted, updated).
    */
  def applyBatchDiff(
      batch: DataFrame,
      config: SyncConfig,
      t: TableSyncConfig): (Int, Int) = {
    val conn = JdbcSyncWriter.connect(config.db)
    try {
      val s = SyncRunner.syncFrames(config.db, JdbcSyncWriter.tableColumns(conn, t.name), t, batch)
      val (ins, upd, _) = SyncRunner.collectChanges(Differ.diff(s.file, s.db, s.pk),
        s.cols, s.pk, deletes = false, dryRun = false)
      val i = JdbcSyncWriter.bulkInsert(conn, t.name, s.cols, ins, t.timestampColumns)
      val u = JdbcSyncWriter.bulkUpdate(conn, t.name, s.cols, s.pk, upd,
        t.timestampColumns, t.immutableColumns)
      conn.commit()
      (i, u)
    } catch {
      case e: Throwable => JdbcSyncWriter.rollbackQuietly(conn); throw e
    } finally JdbcSyncWriter.closeQuietly(conn)
  }

  /** Start an incremental sync from a file directory: every new CSV
    * file dropped into `sourceDir` becomes a micro-batch upsert. The
    * checkpoint makes file processing exactly-once across restarts.
    */
  def start(
      spark: SparkSession,
      config: SyncConfig,
      sourceDir: String,
      schema: StructType,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(config.tables.size == 1, "incremental sync is per-table")
    val t = config.tables.head
    require(!t.deleteNotInFile,
      "deleteNotInFile is not meaningful for incremental batches")
    val src = spark.readStream
      .schema(schema)
      .option("header", "true")
      .csv(sourceDir)
    src.writeStream
      .queryName(s"graft-sync-${t.name}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (i, u) = applyBatchDiff(batch, config, t)
        println(s"[stream-sync] ${t.name} batch $batchId: $i inserted, $u updated")
      }
      .start()
  }
}
