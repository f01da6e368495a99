package graft.core

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, current_timestamp, lit, when}

import graft.config.{DbConfig, DependencyGraph, SyncConfig, TableSyncConfig}
import graft.sinks.JdbcSyncWriter
import graft.sources.Readers

/** Per-table sync outcome. */
final case class SyncResult(
    table: String,
    mode: String,
    inserts: Int,
    updates: Int,
    deletes: Int,
    plan: Option[ExecutionPlan] = None)

/** Materialized operations for one table, computed against the
  * original DB state before any write starts.
  */
private final case class TableOps(
    cfg: TableSyncConfig,
    cols: Seq[String],
    pk: String,
    insRows: Seq[Row],
    updRows: Seq[Row],
    delRows: Seq[Row],
    overwriteRows: Seq[Row],
    dbCount: Long,
    // set when the overwrite file exceeded the distributed threshold:
    // the rows stay in this (un-collected) frame and reinsert through
    // the parallel JDBC writer after the main transaction commits
    overwriteDf: Option[DataFrame] = None,
    overwriteCount: Long = 0L)

/** Orchestration of file -> JDBC synchronization (reference
  * `RunApp`/`syncData`/`syncMultipleTablesData`, `main.go:59-134`,
  * `dbsync.go:407-491`, `dbsync.go:931-1291`).
  *
  * The heavy relational work (scans, schema intersection, validation,
  * the tagged diff) runs distributed through Spark, in one action per
  * diff-mode table; the transaction boundary stays on the driver (one
  * JDBC connection, one commit) to preserve the reference's
  * all-or-nothing guarantee.
  *
  * Read/write phasing: every table's change set is computed and
  * MATERIALIZED — one collect per table, split by op tag on the driver
  * — against the original DB state before the first write. That is
  * safe because each changed key carries exactly one tag (insert =
  * file∖db, update ⊆ file∩db, delete = db∖file), and necessary
  * because Spark's JDBC scans run on their own connections — a scan
  * issued after the driver transaction started writing would deadlock
  * on its row locks. (The reference re-reads between phases only
  * because its reads share the single transaction's connection —
  * `dbsync.go:1185`, `dbsync.go:1260`.) Since no table's change set
  * depends on another's, the tables compute at once, one task each on
  * a pool of `min(#tables, defaultParallelism)` threads, so one table's
  * single-partition scans do not leave the other cores idle. Only the
  * writes are ordered by foreign key, and they stay serial on the
  * driver connection, which no pool thread touches.
  *
  * Lifecycle per run:
  *   1. on the sync thread, one table at a time: resolve each table's
  *      live DB columns over the driver connection
  *   2. per table, on the pool, under one job group for the run:
  *      a. read file (CSV/JSON by extension), lazily: a CSV header or
  *         a JSON file's first record is parsed on the driver, so the
  *         read runs no Spark job, and RFC3339 cells convert per cell in
  *         the cast to the DB's types
  *      b. read current DB table; resolve the actual sync column set as
  *         file-columns ∩ db-columns ∩ configured columns; the PK must
  *         survive (`determineActualSyncColumns`, `dbsync.go:321-344`)
  *      c. diff mode: the tagged change set, collected in one action
  *         that also tallies strict PK validation ([[Differ.diff]]);
  *         overwrite mode: the scale count and collect (or snapshot).
  *         A JSON file's checks are read after that first full action
  *         ([[Readers.requireJson]])
  *   3. await the tables in insert order; the first failure in that
  *      order aborts the run, after the job group is cancelled, every
  *      task has ended and every overwrite snapshot is released — so
  *      the error a user sees does not depend on which table failed
  *      first in time
  *   4. dry-run: build the ExecutionPlan, write nothing
  *   5. else: deletes child->parent, then inserts/updates
  *      parent->child, one commit; then the post-commit distributed
  *      appends of overwrite tables above the threshold
  */
/** The sync exceeded its configured wall-clock budget (reference
  * `main.go:59-62`: the whole run is bounded by a 5-minute context).
  * The transaction is rolled back before this is thrown.
  */
final class SyncTimeoutException(msg: String) extends RuntimeException(msg)

object SyncRunner {

  /** All configured file paths must exist before any work starts
    * (reference `ValidateFilePaths`, `loader.go:232-288`) — failing
    * fast beats discovering a typo mid-transaction.
    */
  private def validateFilePaths(config: SyncConfig): Unit = {
    val missing = config.tables
      .map(_.filePath)
      .filter(p => p.nonEmpty && !new java.io.File(p).exists())
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"sync file(s) not found: ${missing.mkString(", ")}")
  }

  /** Runs the sync under the configured wall-clock deadline (reference
    * `main.go:59-62`; `timeoutSeconds <= 0` disables it). The work runs
    * on a daemon worker thread; on deadline the worker is interrupted —
    * JDBC drivers (Derby included) abort the in-flight statement and
    * kill the connection on interrupt, and Spark actions throw out of
    * their result wait — so the worker's normal rollback path runs (a
    * dead connection has already rolled back server-side).
    */
  def run(spark: SparkSession, config: SyncConfig): Seq[SyncResult] = {
    val budget = config.timeoutSeconds
    if (budget <= 0) return runInternal(spark, config)
    @volatile var outcome: Either[Throwable, Seq[SyncResult]] = null
    val worker = new Thread(() => {
      outcome =
        try Right(runInternal(spark, config))
        catch { case t: Throwable => Left(t) }
    }, "graft-sync-worker")
    worker.setDaemon(true)
    worker.start()
    worker.join(budget * 1000L)
    if (outcome == null) {
      worker.interrupt()
      worker.join(15000L) // give the abort path time to roll back
      // Re-read the outcome ONCE after the grace join (a second read
      // could observe a commit that landed between match and message —
      // the exact committed-but-reported-rolled-back hazard): the
      // interrupt may have landed past conn.commit(), in which case
      // the worker finished successfully during the grace window and
      // reporting "rolled back" would invite a duplicate re-run.
      val o = outcome
      o match {
        case Right(results) => return results
        case _ =>
          throw new SyncTimeoutException(
            s"sync exceeded its ${budget}s wall-clock budget; " +
              (if (o == null) "worker still running, transaction will roll back on abort"
               else "transaction rolled back"))
      }
    }
    outcome.fold(e => throw e, identity)
  }

  private def runInternal(spark: SparkSession, config: SyncConfig): Seq[SyncResult] = {
    config.validated()
    validateFilePaths(config)
    val conn = JdbcSyncWriter.connect(config.db)
    var ops = Map.empty[String, TableOps]
    try {
      val graph = new DependencyGraph(
        config.tables.map(t => t.name -> t.dependencies).toMap)
      val (insertOrder, deleteOrder) = graph.syncOrders
      val byName = config.tables.map(t => t.name -> t).toMap

      // Compute + materialize all ops before any write (see scaladoc).
      // Each table's file loads before its DB scan, mirroring the
      // reference's outside-the-tx file loading (`dbsync.go:936-944`).
      // The driver connection stays on this thread, which looks up the
      // DB columns: a JDBC Connection is not safe to share across threads.
      val tables = insertOrder.map(n => byName(n) -> JdbcSyncWriter.tableColumns(conn, n))
      ops = insertOrder.zip(computeAll(spark, config, tables)).toMap

      val results =
        if (config.dryRun) {
          insertOrder.map(n => planOnly(ops(n)))
        } else {
          // Phase 1: ALL deletes child -> parent — diff-mode
          // deleteNotInFile deletes and overwrite-mode full clears.
          // (The reference clears overwrite tables in its insert phase,
          // dbsync.go:1231-1250, which violates FK constraints when an
          // overwritten parent still has child rows; clearing in the
          // delete phase preserves its intent safely.)
          val deleted = deleteOrder.flatMap { n =>
            val o = ops(n)
            o.cfg.mode match {
              case SyncConfig.ModeOverwrite =>
                JdbcSyncWriter.deleteAll(conn, n)
                None
              case _ if o.cfg.deleteNotInFile && o.delRows.nonEmpty =>
                val keys = o.delRows.map(_.getAs[Any](o.pk))
                Some(n -> JdbcSyncWriter.bulkDelete(conn, n, o.pk, keys))
              case _ => None
            }
          }.toMap
          // Phase 2: inserts/updates, parent -> child. Distributed
          // overwrites (file above the threshold) are DEFERRED: their
          // deleteAll committed with the main transaction, but the
          // reinsert runs through Spark's parallel JDBC writer after
          // the commit — executors open their own connections, which
          // would otherwise deadlock on (or not see) the driver
          // transaction's uncommitted delete. SyncResult carries Int
          // counts (reference parity): a >2^31-row overwrite saturates.
          insertOrder.map { n =>
            val o = ops(n)
            o.cfg.mode match {
              case SyncConfig.ModeOverwrite if o.overwriteDf.isDefined =>
                SyncResult(n, o.cfg.mode, math.min(o.overwriteCount, Int.MaxValue.toLong).toInt, 0, 0)
              case SyncConfig.ModeOverwrite =>
                val ins = JdbcSyncWriter.bulkInsert(
                  conn, n, o.cols, o.overwriteRows, o.cfg.timestampColumns)
                SyncResult(n, o.cfg.mode, ins, 0, 0)
              case _ =>
                val i = JdbcSyncWriter.bulkInsert(
                  conn, n, o.cols, o.insRows, o.cfg.timestampColumns)
                val u = JdbcSyncWriter.bulkUpdate(
                  conn, n, o.cols, o.pk, o.updRows,
                  o.cfg.timestampColumns, o.cfg.immutableColumns)
                SyncResult(n, o.cfg.mode, i, u, deleted.getOrElse(n, 0))
            }
          }
        }
      if (config.dryRun) conn.rollback() else conn.commit()
      // Post-commit distributed appends, parent -> child. Timestamp
      // columns not in the sync set are injected as now(), mirroring
      // bulkInsert. Per-partition commits: a failure here leaves the
      // overwrite table partially loaded (documented relaxation) —
      // re-running the sync restores it (deleteAll + reinsert).
      if (!config.dryRun) insertOrder.foreach { n =>
        val o = ops(n)
        o.overwriteDf.foreach { df =>
          val extraTs = o.cfg.timestampColumns.filterNot(o.cols.contains)
          JdbcSyncWriter.appendDistributed(
            extraTs.foldLeft(df)((d, c) => d.withColumn(c, current_timestamp())), config.db, n)
        }
      }
      results
    } catch {
      case e: Throwable =>
        JdbcSyncWriter.rollbackQuietly(conn)
        throw e
    } finally {
      // the overwrite snapshots are pinned since their scale count; the
      // append above is their last reader, and a failed run has none
      releaseSnapshots(ops.values)
      JdbcSyncWriter.closeQuietly(conn)
    }
  }

  private def releaseSnapshots(ops: Iterable[TableOps]): Unit =
    ops.foreach(_.overwriteDf.foreach(_.unpersist(false)))

  private val runs = new AtomicLong()

  /** Computes every table's [[TableOps]] at once: one task per table,
    * given with its resolved DB columns, on a daemon pool of
    * `min(#tables, defaultParallelism)` threads. Each task runs with
    * `spark` as its active session, under one job group per run.
    *
    * Results are awaited in the given (insert) order, and the first
    * failure in THAT order is rethrown, so which table fails first in
    * time never changes the error. On any failure — or an interrupt of
    * the calling thread, e.g. the sync deadline — the job group is
    * cancelled, every task ends, and the snapshots of the tables that
    * finished are released before the error propagates.
    */
  private def computeAll(
      spark: SparkSession,
      config: SyncConfig,
      tables: Seq[(TableSyncConfig, Seq[String])]): Seq[TableOps] = {
    val sc = spark.sparkContext
    val group = s"graft-sync-${runs.incrementAndGet()}"
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, sc.defaultParallelism)), (r: Runnable) => {
        val th = new Thread(r, s"$group-compute-${threads.size}")
        th.setDaemon(true)
        threads.add(th)
        th
      })
    // Joins every pool thread; an interrupt meanwhile is kept for the
    // caller's next blocking call, not lost.
    def awaitThreads(): Unit = {
      var interrupted = false
      threads.forEach { th =>
        while (th.isAlive)
          try th.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    val tasks: Seq[Future[TableOps]] = tables.map { case (t, dbCols) =>
      pool.submit(new Callable[TableOps] {
        def call(): TableOps = {
          SparkSession.setActiveSession(spark)
          // no description: a job's description would replace its call
          // site (`collect at SyncRunner.scala:...`) as its SQL label
          sc.setJobGroup(group, null, interruptOnCancel = true)
          computeOps(spark, config, t, dbCols)
        }
      })
    }
    try tasks.map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    catch {
      case e: Throwable =>
        sc.cancelJobGroup(group)
        pool.shutdownNow() // drops the tasks not started, interrupts the rest
        awaitThreads()
        // a task may have submitted a job after the first cancel
        sc.cancelJobGroup(group)
        releaseSnapshots(tasks.filter(_.isDone).flatMap(f => Try(f.get()).toOption))
        throw e
    } finally {
      pool.shutdown()
      awaitThreads()
    }
  }

  /** One table's sync columns and the file and DB frames narrowed to
    * them, the file's column types cast to the DB's.
    */
  private[graft] final case class SyncFrames(
      cols: Seq[String], pk: String, file: DataFrame, db: DataFrame)

  /** Resolves the sync column set of table `t` against its live DB
    * columns `dbCols` ([[JdbcSyncWriter.tableColumns]], looked up by the
    * caller on its own connection) and aligns `file` to it — the one
    * resolution both the batch sync and the streaming sync diff through.
    *
    * Columns are file-columns ∩ db-columns ∩ configured columns in
    * file-header order (`determineActualSyncColumns`,
    * `dbsync.go:321-344`); an empty file falls back to the DB column
    * list (`dbsync.go:447-459`). In diff mode the PK must survive, and
    * no sync column may take a name the diff or the PK validation
    * reserves for itself: `__pk`*, `__op`, `__db_`*.
    *
    * File column types are cast to the DB schema: the reference leans
    * on MySQL's implicit coercion at INSERT time; casting up front keeps
    * the diff and strict JDBC drivers coherent. A string or JSON column
    * turns into its DB type per cell ([[Readers.asDbType]]), so an RFC3339
    * cell converts as the reference's `convertValue` converts it, in the
    * same projection as the cast. A zero-column file (e.g.
    * JSON `[]`) becomes an empty relation in the DB's shape — the
    * reference's empty-file fallback: overwrite clears,
    * diff+deleteNotInFile deletes everything, plain diff is a no-op.
    *
    * In diff mode the file also carries the PK reason code of each key
    * as read, before its cast ([[PrimaryKeyValidator.coded]]), for the
    * diff's strict validation to tally.
    */
  private[graft] def syncFrames(
      db: DbConfig,
      dbCols: Seq[String],
      t: TableSyncConfig,
      file: DataFrame): SyncFrames = {
    val db0 = JdbcSyncWriter.readTable(file.sparkSession, db, t.name)
    val dbLower = db0.toDF(db0.columns.map(_.toLowerCase): _*)

    val fileCols = file.columns.map(_.toLowerCase).toSeq
    val base = if (fileCols.isEmpty) dbCols else fileCols.filter(dbCols.contains)
    val cols =
      if (t.columns.nonEmpty) base.filter(c => t.columns.map(_.toLowerCase).contains(c))
      else base
    val pk = t.primaryKey.toLowerCase
    if (t.mode == SyncConfig.ModeDiff) {
      if (!cols.contains(pk))
        throw new IllegalArgumentException(
          s"table '${t.name}': primary key '${t.primaryKey}' not in sync columns ${cols.mkString(", ")}")
      val reserved = cols.filter(c =>
        c.startsWith(Differ.PkKeyCol) || c == Differ.OpCol || c.startsWith(Differ.DbPrefix))
      if (reserved.nonEmpty)
        throw new IllegalArgumentException(
          s"table '${t.name}': column(s) ${reserved.mkString(", ")} use a name the diff " +
            s"reserves (${Differ.PkKeyCol}*, ${Differ.OpCol}, ${Differ.DbPrefix}*)")
    }

    val dbSel = dbLower.select(cols.map(col): _*)
    val fileSel =
      if (fileCols.isEmpty) dbSel.limit(0)
      else {
        val lowered = file.toDF(fileCols: _*).select(cols.map(col): _*)
        val diffMode = t.mode == SyncConfig.ModeDiff
        val coded =
          if (diffMode) PrimaryKeyValidator.coded(lowered, pk, dbSel.schema(pk).dataType)
          else lowered
        coded.withColumns(cols.filterNot(c => diffMode && c == pk)
          .map(c => c -> Readers.asDbType(coded, c, dbSel.schema(c).dataType)).toMap)
      }
    SyncFrames(cols, pk, fileSel, dbSel)
  }

  /** Collects one table's change set in ONE action and splits it by op
    * tag on the driver: (inserts, updates, deletes), each row holding
    * the sync columns — a delete row's values come from the DB side.
    * Delete rows are filtered out in Spark unless `deletes`; the
    * `__db_` before-values of the non-PK columns ride along only for a
    * dry run, whose plan is their only reader.
    *
    * The same action tallies the file's strict PK validation: a file
    * with any invalid key throws here, with
    * [[PrimaryKeyValidator.validateStrict]]'s message, before the
    * caller writes anything. A JSON file's own checks, observed by the
    * same action, throw first ([[Readers.requireJson]]).
    */
  private[graft] def collectChanges(
      diff: DiffOperations,
      cols: Seq[String],
      pk: String,
      deletes: Boolean,
      dryRun: Boolean): (Seq[Row], Seq[Row], Seq[Row]) = {
    val op = col(Differ.OpCol)
    val values = cols.map(c =>
      when(op === Differ.Delete, col(Differ.DbPrefix + c)).otherwise(col(c)).as(c))
    val before =
      if (dryRun) cols.filterNot(_ == pk).map(c => col(Differ.DbPrefix + c)) else Nil
    val changes = if (deletes) diff.changes else diff.changes.filter(op =!= Differ.Delete)
    val selected = changes.select((values ++ before :+ op): _*)
    val collected = selected.collect().toSeq
    Readers.requireJson(selected)
    PrimaryKeyValidator.requireValid(pk, diff.pkReport(selected))
    val byOp = collected.groupBy(_.getAs[String](Differ.OpCol))
    def rows(tag: String): Seq[Row] = byOp.getOrElse(tag, Nil)
    (rows(Differ.Insert), rows(Differ.Update), rows(Differ.Delete))
  }

  private def computeOps(
      spark: SparkSession,
      config: SyncConfig,
      t: TableSyncConfig,
      dbCols: Seq[String]): TableOps = {
    val file = Readers.forPath(spark, t.filePath, t.columns)
    val SyncFrames(cols, pk, fileSel, dbSel) = syncFrames(config.db, dbCols, t, file)

    t.mode match {
      case SyncConfig.ModeOverwrite =>
        // Scale gate: count the file (a count, not a collect — learning
        // "too big" must not itself spike driver heap with threshold
        // rows). At or below the threshold the file collects and the
        // strict single-transaction driver path runs (reference parity);
        // above it the whole file never collects — the frame rides to the
        // post-commit distributed append. <= 0 keeps the driver path
        // unconditionally.
        //
        // FK guard: the distributed reinsert lands AFTER the main
        // transaction commits, but tables DEPENDING on this one insert
        // their rows inside it — those inserts would reference parent
        // keys not yet reinserted. A table with configured dependents
        // therefore always takes the driver path, whatever its size.
        val hasDependents = config.tables.exists(_.dependencies.contains(t.name))
        val thr = config.overwriteDistributedThreshold
        // Persist ONE snapshot before counting: the count, the collect
        // and the post-commit append otherwise each re-evaluate fileSel,
        // so a source file rewritten mid-run could make the reported
        // insert count disagree with the rows written. The cache pins the
        // rows the count saw; the append releases it. Each full action
        // over the file is checked on the frame it ran.
        val snapshot =
          if (thr > 0 && thr < Int.MaxValue - 1 && !hasDependents)
            Some(fileSel.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          else None
        try {
          val counted = snapshot.map(_.select(count(lit(1))))
          val n = counted.fold(-1L)(_.collect()(0).getLong(0))
          counted.foreach(Readers.requireJson)
          val dbN = if (config.dryRun) dbSel.count() else 0L
          if (n > thr && n >= 0)
            TableOps(t, cols, pk, Nil, Nil, Nil, Nil, dbN,
              overwriteDf = snapshot, overwriteCount = n)
          else {
            val frame = snapshot.getOrElse(fileSel)
            val rows = frame.collect()
            Readers.requireJson(frame)
            snapshot.foreach(_.unpersist(false))
            TableOps(t, cols, pk, Nil, Nil, Nil, rows.toSeq, dbN,
              overwriteCount = rows.length.toLong)
          }
        } catch {
          case e: Throwable => snapshot.foreach(_.unpersist(false)); throw e
        }
      case _ =>
        // Change detection deliberately includes immutable columns —
        // the reference compares every sync column (dbsync.go:695-715)
        // and only excludes immutable ones from the UPDATE SET.
        val (ins, upd, del) = collectChanges(Differ.diff(fileSel, dbSel, pk),
          cols, pk, deletes = t.deleteNotInFile, dryRun = config.dryRun)
        TableOps(t, cols, pk, ins, upd, del, Nil, 0L)
    }
  }

  private def planOnly(o: TableOps): SyncResult = {
    val t = o.cfg
    if (t.mode == SyncConfig.ModeOverwrite) {
      val plan = ExecutionPlan(t.name, o.overwriteCount, 0, o.dbCount,
        Nil, Nil, Nil, t.timestampColumns, t.immutableColumns)
      return SyncResult(t.name, t.mode, 0, 0, 0, Some(plan))
    }
    val lim = ExecutionPlan.SampleLimit
    // reference-parity value rendering (convertValueToString, incl.
    // Go 'g' floats); null keeps the explicit NULL marker for display
    def disp(v: Any): String = if (v == null) "NULL" else Canonical.goString(v)
    def fmt(r: Row): String =
      o.cols.map(c => s"$c=${disp(r.getAs[Any](c))}").mkString(", ")
    val nonPk = o.cols.filterNot(_ == o.pk)
    val updSamples = o.updRows.take(lim).map { r =>
      val changes = nonPk.flatMap { c =>
        val before = disp(r.getAs[Any](Differ.DbPrefix + c))
        val after = disp(r.getAs[Any](c))
        if (before == after) None
        else {
          val note = if (t.immutableColumns.contains(c)) " [immutable — skipped]" else ""
          Some(s"$c: $before -> $after$note")
        }
      }
      s"${o.pk}=${disp(r.getAs[Any](o.pk))}: ${changes.mkString("; ")}"
    }
    val plan = ExecutionPlan(
      t.name, o.insRows.size.toLong, o.updRows.size.toLong, o.delRows.size.toLong,
      o.insRows.take(lim).map(fmt), updSamples, o.delRows.take(lim).map(fmt),
      t.timestampColumns, t.immutableColumns)
    SyncResult(t.name, t.mode, 0, 0, 0, Some(plan))
  }
}
