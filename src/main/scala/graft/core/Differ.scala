package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The change set of a sync (reference `dbsync.go:138-142`
  * `DiffOperations`): ONE lazy frame, `changes`, whose rows each carry
  * an op tag ([[Differ.OpCol]]) and both sides of the row — the file
  * values under their own names and the DB values under a `__db_`
  * prefix. No action runs until the caller collects or writes.
  *
  * `toInsert`, `toUpdate` and `toDelete` are filters of that one frame
  * in the shapes of the sides they come from: inserts carry the file's
  * columns, deletes the DB's columns and types, and updates the file's
  * columns plus the previous DB values of the compared columns under
  * the `__db_` prefix, so a dry-run plan can render before -> after
  * (reference `UpdateOperation`, `dbsync.go:132-135`).
  *
  * `changes` also tallies the file's strict PK validation as the frame
  * runs (see [[Differ.diff]]); [[pkReport]] reads it back.
  */
final case class DiffOperations(
    changes: DataFrame,
    fileCols: Seq[String],
    dbCols: Seq[String],
    compareCols: Seq[String],
    tally: String) {
  private def tagged(op: String): DataFrame =
    changes.filter(col(Differ.OpCol) === op)

  def toInsert: DataFrame = tagged(Differ.Insert).select(fileCols.map(col): _*)

  def toUpdate: DataFrame = tagged(Differ.Update)
    .select((fileCols ++ compareCols.map(Differ.DbPrefix + _)).map(col): _*)

  def toDelete: DataFrame = tagged(Differ.Delete)
    .select(dbCols.map(c => col(Differ.DbPrefix + c).as(c)): _*)

  /** The file's PK validation report, tallied by the action that ran
    * `executed` — a frame derived from [[changes]]. Read it only after
    * that action completed: before, the tallies are still zero.
    */
  def pkReport(executed: DataFrame): PkValidationReport = {
    val m = executed.queryExecution.observedMetrics
    def tallyOf(suffix: String) = m.getOrElse(tally + suffix, throw new IllegalStateException(
      s"primary key tally '$tally$suffix' is not in the executed plan"))
    PrimaryKeyValidator.tallied(tallyOf(Differ.CodesTally), tallyOf(Differ.DuplicatesTally))
  }
}

/** Set-based diff engine.
  *
  * Re-expresses the reference's single-node hash-map diff
  * (`processFileRecords`/`findRecordsToDelete`/`diffData`,
  * `dbsync.go:695-780`) as ONE full outer join of the file and the DB on
  * the canonical primary-key string, tagged per row:
  *
  *   - insert: the key is in the file only
  *   - delete: the key is in the DB only
  *   - update: the key is on both sides and any compare column's
  *     canonical rendering differs (`compareRecords`, `dbsync.go:695-715`)
  *
  * Unchanged rows are dropped. Joining on [[Canonical.canonical]]
  * strings reproduces the reference's cross-type key equality
  * (`PrimaryKey`, `dbsync.go:21-48`: int `123` matches string `"123"`),
  * and canonical change detection is null-safe by construction (NULL
  * renders as "").
  *
  * The file side also carries the strict PK validation
  * ([[PrimaryKeyValidator]]), so it costs no pass of its own: each row
  * gets its reason code, `Dataset.observe` tallies the codes before the
  * null/empty keys are dropped, a count over `Window.partitionBy(__pk)`
  * gives each key's multiplicity, and a second `observe` tallies the ok
  * rows whose key repeats. The window clusters and sorts on the join
  * key, so it runs on the exchange and sort the join needs anyway; the
  * dropped null/empty keys never enter its partitions. The tallies fill
  * in whatever action runs the frame; [[DiffOperations.pkReport]] reads
  * them back.
  *
  * Scale notes: one join means one exchange per side, and AQE picks the
  * join strategy and partition count at runtime from actual sizes.
  */
object Differ {
  val PkKeyCol = "__pk"
  /** The file side's per-key row count. */
  val KeyCountCol = "__pk_n"
  val DbPrefix = "__db_"
  /** The op tag column of [[DiffOperations.changes]]. */
  val OpCol = "__op"
  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"

  private[core] val CodesTally = "_codes"
  private[core] val DuplicatesTally = "_duplicates"
  private val tallies = new java.util.concurrent.atomic.AtomicLong()

  /** Adds the canonical PK join key and drops rows with a null/empty PK
    * (reference skips them: `dbsync.go:662-671`, `dbsync.go:724-728`).
    */
  def withPkKey(df: DataFrame, pk: String): DataFrame =
    df.withColumn(PkKeyCol,
        Canonical.canonical(df(pk), df.schema(pk).dataType))
      .filter(col(PkKeyCol) =!= "")

  /** [[withPkKey]] of the file, tallying its PK validation under the
    * observation names `tally` + [[CodesTally]] / [[DuplicatesTally]].
    * A file that already carries [[PrimaryKeyValidator.CodeCol]] (coded
    * on its keys as read, [[PrimaryKeyValidator.coded]]) is tallied on
    * those codes.
    */
  private def validatedFile(file: DataFrame, pk: String, tally: String): DataFrame = {
    val codes = PrimaryKeyValidator.codeTallies
    val withCode =
      if (file.columns.contains(PrimaryKeyValidator.CodeCol)) file
      else file.withColumn(PrimaryKeyValidator.CodeCol, PrimaryKeyValidator.reasonCode(file, pk))
    val coded = withCode.observe(tally + CodesTally, codes.head, codes.tail: _*)
    withPkKey(coded, pk)
      .withColumn(KeyCountCol, count(lit(1)).over(Window.partitionBy(col(PkKeyCol))))
      .observe(tally + DuplicatesTally, PrimaryKeyValidator.duplicateTally(col(KeyCountCol)))
  }

  /** Tagged diff of `file` (desired state) against `db` (current state)
    * on primary key `pk`.
    *
    * @param compareCols columns whose change triggers an update; default
    *                    is every shared non-PK column (the reference's
    *                    `determineActualSyncColumns` intersection).
    */
  def diff(
      file: DataFrame,
      db: DataFrame,
      pk: String,
      compareCols: Seq[String] = Nil): DiffOperations = {
    val cols =
      if (compareCols.nonEmpty) compareCols
      else file.columns.intersect(db.columns).filterNot(_ == pk).toSeq

    val tally = s"__pk_tally_${tallies.incrementAndGet()}"
    val d = withPkKey(db, pk)
    val dbSide = d.select(d.columns.map(c => col(c).as(DbPrefix + c)): _*)
    val fileKey = col(PkKeyCol)
    val dbKey = col(DbPrefix + PkKeyCol)
    val joined = validatedFile(file, pk, tally).join(dbSide, fileKey === dbKey, "full_outer")
    val changed = cols
      .map { c =>
        Canonical.canonical(col(c), file.schema(c).dataType) =!=
          Canonical.canonical(col(DbPrefix + c), db.schema(c).dataType)
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val changes = joined
      .withColumn(OpCol,
        when(dbKey.isNull, Insert).when(fileKey.isNull, Delete).when(changed, Update))
      .filter(col(OpCol).isNotNull)
      .drop(PkKeyCol, DbPrefix + PkKeyCol, PrimaryKeyValidator.CodeCol, KeyCountCol)

    DiffOperations(changes, file.columns.toSeq.filterNot(_ == PrimaryKeyValidator.CodeCol),
      db.columns.toSeq, cols, tally)
  }
}
