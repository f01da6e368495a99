package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.sources.Readers

/** Validation outcome summary (reference
  * `PrimaryKeyValidationResult`, `primary_key_validator.go:19-26`).
  */
final case class PkValidationReport(
    total: Long,
    valid: Long,
    byReason: Map[String, Long]) {
  def isValid: Boolean = valid == total
}

/** Strict primary-key validation (reference
  * `primary_key_validator.go:57-136` `ValidateAllRecords`), as
  * distributed per-row classification instead of a row-at-a-time loop.
  *
  * Each row gets a reason with the reference's precedence:
  *   1. `null_or_empty`  — SQL NULL or a null-like literal
  *   2. `invalid_format` — control chars, >255 chars, untrimmed space
  *   3. `duplicate`      — canonical key seen more than once
  *   4. `valid`
  *
  * This object owns that precedence ([[reasonCode]] decides 1 and 2 per
  * row; a row is a duplicate when its code is ok and its canonical key
  * occurs more than once, whatever the other rows' codes) and the one
  * path from per-reason counts to a [[PkValidationReport]] and to the
  * strict-mode abort ([[tallied]], [[requireValid]]). Three callers go
  * through it: [[classify]] labels every row, [[validateStrict]] runs
  * its own pass, and [[Differ.diff]] tallies the codes inside the
  * diff's one action, which is how a sync validates — `SyncRunner`
  * reads the tally after its change-set collect and aborts before any
  * write.
  */
object PrimaryKeyValidator {
  val ReasonCol = "__pk_reason"
  /** The per-row reason code column ([[reasonCode]]). */
  val CodeCol = "__pk_code"

  val ReasonNullOrEmpty = "null_or_empty"
  val ReasonInvalidFormat = "invalid_format"
  val ReasonDuplicate = "duplicate"
  val ReasonValid = "valid"

  private val CodeOk = 0
  private val CodeNullOrEmpty = 1
  private val CodeInvalidFormat = 2

  /** The row-local part of the precedence for `df(pk)`: 1 null-or-empty,
    * 2 invalid-format, 0 ok. Whether an ok row is a duplicate depends on
    * the other rows and is decided by the caller's key count.
    */
  def reasonCode(df: DataFrame, pk: String): Column = {
    val raw = df(pk).cast("string")
    when(Canonical.isNullOrEmpty(raw), CodeNullOrEmpty)
      .when(Canonical.invalidPkFormat(raw), CodeInvalidFormat)
      .otherwise(CodeOk)
  }

  /** `df` with [[CodeCol]] coded on the key as read, and the key then
    * turned into `keyType` ([[Readers.asDbType]]: a string key per cell)
    * only where that code is ok. A sync casts the file to the DB's types
    * before it diffs, and coding after the cast would judge the cast:
    * `" 12"` casts to a clean `12`, and `na` fails the whole action with
    * a cast error instead of being counted as null-or-empty. A row with
    * a non-ok code aborts the sync anyway, so its key becomes NULL
    * rather than a cast failure.
    */
  def coded(df: DataFrame, pk: String, keyType: DataType): DataFrame = {
    df.withColumn(CodeCol, reasonCode(df, pk))
      .withColumn(pk, when(col(CodeCol) === CodeOk, Readers.asDbType(df, pk, keyType)))
  }

  /** Counts over a frame carrying [[CodeCol]], named for [[tallied]]:
    * all rows, null-or-empty and invalid-format. Plain counts of the
    * code column, so an observed tally ships no predicate trees.
    */
  def codeTallies: Seq[Column] = {
    val code = col(CodeCol)
    Seq(count(lit(1)).as("total"),
      count(when(code === CodeNullOrEmpty, true)).as(ReasonNullOrEmpty),
      count(when(code === CodeInvalidFormat, true)).as(ReasonInvalidFormat))
  }

  /** Count of duplicates over a frame carrying [[CodeCol]]: ok rows
    * whose canonical key occurs `keyCount` > 1 times.
    */
  def duplicateTally(keyCount: Column): Column =
    count(when(col(CodeCol) === CodeOk && keyCount > 1, true)).as(ReasonDuplicate)

  /** The report of a tally: `total` and per-reason counts, reasons
    * with no rows left out (as a group-by of the labels would).
    */
  def tallied(total: Long, byReason: Map[String, Long]): PkValidationReport = {
    val invalid = byReason.filter { case (r, n) => r != ReasonValid && n > 0 }
    PkValidationReport(total, total - invalid.values.sum, invalid)
  }

  /** The report of [[codeTallies]] and [[duplicateTally]] rows. */
  def tallied(codes: Row, duplicates: Row): PkValidationReport = tallied(
    codes.getAs[Long]("total"),
    Seq(ReasonNullOrEmpty, ReasonInvalidFormat).map(r => r -> codes.getAs[Long](r)).toMap +
      (ReasonDuplicate -> duplicates.getAs[Long](ReasonDuplicate)))

  /** Strict-mode gate: throws if the report has any invalid row
    * (reference aborts the sync, `main.go:116-124`).
    */
  def requireValid(pk: String, r: PkValidationReport): PkValidationReport = {
    if (!r.isValid) {
      val detail = r.byReason.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(", ")
      throw new IllegalArgumentException(
        s"primary key validation failed for column '$pk': $detail " +
          s"(${r.total - r.valid} of ${r.total} rows invalid)")
    }
    r
  }

  /** Adds [[ReasonCol]] classifying each row's `pk` value.
    *
    * Duplicate detection is a groupBy + broadcast-able join back, not a
    * window: a window would shuffle every row into key partitions, and
    * all null-like keys would land in ONE task — the classic null-key
    * skew. With groupBy, null-like rows never enter the aggregate, and
    * map-side partial aggregation compacts the rest. (The diff's window
    * is another matter: it runs on the shuffle its join needs anyway,
    * after the null/empty keys are dropped.)
    */
  def classify(df: DataFrame, pk: String): DataFrame = {
    val key = Canonical.canonical(df(pk), df.schema(pk).dataType)
    val code = col(CodeCol)
    val withKey = df.withColumn(CodeCol, reasonCode(df, pk))
      .withColumn("__pk_key", when(code === CodeNullOrEmpty, lit(null)).otherwise(key))
    val dupCounts = withKey
      .filter(col("__pk_key").isNotNull)
      .groupBy(col("__pk_key"))
      .agg(count(lit(1)).as("__pk_cnt"))
      .filter(col("__pk_cnt") > 1)
    withKey
      .join(dupCounts, Seq("__pk_key"), "left")
      .withColumn(ReasonCol,
        when(code === CodeNullOrEmpty, ReasonNullOrEmpty)
          .when(code === CodeInvalidFormat, ReasonInvalidFormat)
          .when(col("__pk_cnt").isNotNull, ReasonDuplicate)
          .otherwise(ReasonValid))
      .drop("__pk_key", "__pk_cnt", CodeCol)
  }

  /** Strict-mode gate as its own pass over `df`: the per-reason counts
    * of [[classify]] (reference rollup, `primary_key_validator.go:193-197`),
    * then [[requireValid]]. A sync does not call this — its diff
    * tallies the same reasons in the change-set action.
    */
  def validateStrict(df: DataFrame, pk: String): PkValidationReport = {
    val counts = classify(df, pk).groupBy(ReasonCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    requireValid(pk, tallied(counts.values.sum, counts))
  }
}
