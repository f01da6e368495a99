package graft.core

/** Dry-run execution plan (reference `ExecutionPlan`,
  * `dbsync.go:145-250`, `generateExecutionPlan` `dbsync.go:347-400`):
  * operation counts plus a bounded sample of affected records with
  * before -> after values per changed column, annotated with
  * timestamp/immutable column behavior. `SyncRunner` builds it from
  * the change set it collected for the run.
  */
final case class ExecutionPlan(
    table: String,
    inserts: Long,
    updates: Long,
    deletes: Long,
    insertSamples: Seq[String],
    updateSamples: Seq[String],
    deleteSamples: Seq[String],
    timestampCols: Seq[String],
    immutableCols: Seq[String]) {

  def render: String = {
    val sb = new StringBuilder
    sb ++= s"=== Execution plan for table '$table' (dry run — no writes) ===\n"
    sb ++= s"  inserts: $inserts, updates: $updates, deletes: $deletes\n"
    if (timestampCols.nonEmpty)
      sb ++= s"  timestamp columns (set to now() on write): ${timestampCols.mkString(", ")}\n"
    if (immutableCols.nonEmpty)
      sb ++= s"  immutable columns (never updated): ${immutableCols.mkString(", ")}\n"
    def section(title: String, items: Seq[String], total: Long): Unit =
      if (items.nonEmpty) {
        sb ++= s"  $title\n"
        items.foreach(s => sb ++= s"    $s\n")
        if (total > items.size) sb ++= s"    ... and ${total - items.size} more\n"
      }
    section("INSERT", insertSamples, inserts)
    section("UPDATE (before -> after)", updateSamples, updates)
    section("DELETE", deleteSamples, deletes)
    sb.result()
  }
}

object ExecutionPlan {
  val SampleLimit = 10
}
