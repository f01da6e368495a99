package perfbench

/** The per-layer metrics of a traced run. Whole-op figures come from the
  * real op under the detailed listener; `<layer>.jobs`, `.shuffle_mb`
  * and `.result_mb` from the listener's call-site attribution of that
  * op's jobs; `<layer>.scan_task_cpu_s` from the stages that scan the
  * layer's source; `<layer>.s` is span self time from the replica op. A
  * metric a workload does not exercise reads 0.
  */
object LayerMetrics {

  /** Every per-layer metric, in output order, with its unit. */
  val Names: Seq[(String, String)] = Seq(
    "op.jobs" -> "count", "op.stages" -> "count", "op.task_cpu_s" -> "s",
    "op.shuffle_mb" -> "MB", "op.driver_gap_s" -> "s", "op.db_scans" -> "count",
    "op.db_scans.orders" -> "count", "op.db_scans.customer" -> "count", "op.file_scans" -> "count",
    "readers.s" -> "s", "readers.jobs" -> "count", "readers.scan_task_cpu_s" -> "s",
    "pk_validator.s" -> "s", "pk_validator.jobs" -> "count", "pk_validator.shuffle_mb" -> "MB",
    "jdbc_read.s" -> "s", "jdbc_read.rows" -> "rows", "jdbc_read.scan_task_cpu_s" -> "s",
    "differ.s" -> "s", "differ.shuffle_mb" -> "MB", "differ.task_cpu_s" -> "s",
    "differ.changed_frac" -> "ratio",
    "sync_runner.jobs" -> "count", "sync_runner.result_mb" -> "MB", "sync_runner.change_rows" -> "rows",
    "jdbc_write.s" -> "s", "jdbc_write.rows" -> "rows", "jdbc_write.rows_per_s" -> "rows/s",
    "jdbc_write.commit_s" -> "s",
    "ranking.jobs" -> "count", "ranking.task_cpu_s" -> "s", "ranking.shuffle_mb" -> "MB",
    "trace.overhead" -> "ratio")

  def apply(w: Workload, all: Seq[Main.Sample], spans: Spans, rec: Recorder): Seq[(String, (Double, String))] = {
    val ok = all.filter(_.out.isDefined)
    val got = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    def put(k: String, v: Double): Unit = got(k) = got(k) :+ v

    def opWindow(s: Main.Sample): Unit = {
      val win = rec.window(s.startMs, s.endMs)
      put("op.jobs", win.jobs.size)
      put("op.stages", win.stages.size)
      put("op.task_cpu_s", win.taskCpuS)
      put("op.shuffle_mb", win.shuffleMb)
      put("op.driver_gap_s", win.driverGapS)
      put("op.db_scans", win.dbScans)
      put("op.db_scans.orders", win.dbScansOf("orders"))
      put("op.db_scans.customer", win.dbScansOf("customer"))
      put("op.file_scans", win.fileScans)
      put("jdbc_read.rows", win.jdbcRowsRead.toDouble)
      Seq(Layers.Readers, Layers.PkValidator, Layers.SyncRunner).foreach { l =>
        put(s"$l.jobs", win.byLayer(l).jobs.size)
      }
      put("pk_validator.shuffle_mb", win.byLayer(Layers.PkValidator).shuffleMb)
      put("sync_runner.result_mb", win.byLayer(Layers.SyncRunner).resultMb)
      val rk = win.byLayer(Layers.Ranking)
      put("ranking.jobs", rk.jobs.size)
      put("ranking.task_cpu_s", rk.taskCpuS)
      put("ranking.shuffle_mb", rk.shuffleMb)
    }

    w match {
      case _: SyncWorkload =>
        ok.filter(_.kind == Listened).foreach { s =>
          opWindow(s)
          // the scans run lazily inside later layers' actions, so the
          // readers and jdbc_read spans do not cover them
          val win = rec.window(s.startMs, s.endMs)
          put("readers.scan_task_cpu_s", win.fileScanCpuS)
          put("jdbc_read.scan_task_cpu_s", win.dbScanCpuS)
          put("sync_runner.change_rows",
            s.out.get.results.map(r => (r.inserts + r.updates + r.deletes).toDouble).sum)
        }
        ok.filter(_.kind == Spanned).foreach { s =>
          val ss = spans.ofOp(s.spansOp)
          val self = spans.selfTimes(ss)
          def selfOf(name: String) = ss.filter(_.name == name).map(x => self(x.id)).sum
          Seq(Layers.Readers, Layers.PkValidator, Layers.JdbcRead, Layers.Differ, Layers.JdbcWrite)
            .foreach(l => put(s"$l.s", selfOf(l)))
          put("jdbc_write.commit_s", selfOf(Replica.Commit))
          val diffWins = ss.filter(_.name == Layers.Differ).map(x => rec.window(x.startMs, x.endMs))
          put("differ.shuffle_mb", diffWins.map(_.shuffleMb).sum)
          put("differ.task_cpu_s", diffWins.map(_.taskCpuS).sum)
          s.out.get.replica.foreach { c =>
            put("differ.changed_frac", if (c.comparedKeys > 0) c.changeRows.toDouble / c.comparedKeys else 0.0)
            put("jdbc_write.rows", c.writeRows.toDouble)
            val writeS = ss.filter(_.name == Layers.JdbcWrite).map(_.durS).sum
            put("jdbc_write.rows_per_s", if (writeS > 0) c.writeRows / writeS else 0.0)
          }
        }
        overhead(all, Spanned).foreach(put("trace.overhead", _))
      case _: LmWorkload =>
        // the pass runs one query, so `ranking.*` are that query's
        ok.filter(_.kind == Spanned).foreach(opWindow)
        overhead(all, Spanned).foreach(put("trace.overhead", _))
    }
    Names.map { case (k, u) => k -> (Main.median(got(k)), u) }
  }

  /** Traced op wall over untraced op wall, medians. */
  private def overhead(all: Seq[Main.Sample], traced: Kind): Option[Double] = {
    val plain = all.filter(_.kind == Plain).map(_.wallS)
    val tr = all.filter(_.kind == traced).map(_.wallS)
    if (plain.isEmpty || tr.isEmpty) None else Some(Main.median(tr) / Main.median(plain))
  }
}
