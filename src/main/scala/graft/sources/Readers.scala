package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-source readers with the reference loaders' semantics
  * (`loader.go:76-213`):
  *
  *   - CSV: mandatory header, configurable delimiter, strict
  *     row-shape check (FAILFAST), requested columns missing from the
  *     header are silently dropped (`loader.go:109-115`).
  *   - JSON: whole-file array of objects (multiLine), requested
  *     columns missing from the data are an error (`loader.go:189-193`).
  *   - RFC3339 sniffing (`loader.go:28-43`): string columns whose
  *     non-null values all parse as ISO-8601 timestamps are promoted to
  *     TimestampType. The reference sniffs per *cell*; in a columnar
  *     engine the faithful adaptation is per *column* (a DataFrame
  *     column has one type), applied after load.
  *   - extension dispatch `.csv` / `.json` (`GetLoader`,
  *     `loader.go:203-213`).
  *
  * Reads are streaming multi-partition scans — nothing is materialized
  * driver-side, unlike the reference's ReadAll.
  */
object Readers {

  private val Rfc3339 =
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})$"

  def csv(
      spark: SparkSession,
      path: String,
      delimiter: String = ",",
      columns: Seq[String] = Nil,
      sniffTimestamps: Boolean = true): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("sep", delimiter)
      .option("mode", "FAILFAST")
      .csv(path)
    // CSV drops requested columns that are absent, silently.
    val projected =
      if (columns.isEmpty) df
      else df.select(columns.filter(df.columns.contains).map(col): _*)
    if (sniffTimestamps) promoteRfc3339(projected) else projected
  }

  def json(
      spark: SparkSession,
      path: String,
      columns: Seq[String] = Nil,
      sniffTimestamps: Boolean = true): DataFrame = {
    val df = spark.read.option("multiLine", "true").json(path)
    if (df.columns.contains("_corrupt_record"))
      throw new IllegalArgumentException(s"invalid JSON in $path")
    // Cheap whole-file check first: requested columns absent from the
    // inferred (union) schema are missing from EVERY record.
    val missing = columns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing key(s) ${missing.mkString(", ")} in JSON records of $path")
    // Per-record key-PRESENCE check (`loader.go:185-193`): the reference
    // errors when ANY record lacks a required key, and `"k": null` is
    // NOT missing. The inferred read yields null for both cases, so
    // presence is checked on the raw records: each record parsed into a
    // map (values as raw JSON text) and probed with map_contains_key.
    // Auto-detect parity (`loader.go:174-182`): with no requested
    // columns the required set is the FIRST record's keys, sorted — and
    // the result is projected to exactly those keys, so a key appearing
    // only in later records is dropped like the reference drops it.
    // wholeTextFiles is per-file — the same parallelism the multiLine
    // (non-splittable) inferred read already has.
    import spark.implicits._
    // A multiLine file may be a top-level ARRAY (many records) or one
    // top-level OBJECT (one record — Spark reads it as a single row).
    // The array parse returns null for the object form, which would
    // silently skip the per-record check — fall back to wrapping the
    // object parse as a one-record array.
    val asArray = from_json(col("j"), ArrayType(MapType(StringType, StringType)))
    val asObject = from_json(col("j"), MapType(StringType, StringType))
    val recs = spark.sparkContext.wholeTextFiles(path).values.toDF("j")
      .select(posexplode(
        when(asArray.isNotNull, asArray)
          .when(asObject.isNotNull, array(asObject))).as(Seq("i", "rec")))
    val required: Seq[String] =
      if (columns.nonEmpty) columns
      else recs.filter(col("i") === 0).select(map_keys(col("rec")))
        .collect().headOption.map(_.getSeq[String](0).sorted).getOrElse(Nil)
    if (required.nonEmpty) {
      val checks = required.zipWithIndex.map { case (c, ix) =>
        min(when(!map_contains_key(col("rec"), lit(c)), col("i"))).as(s"__m_$ix")
      }
      val row = recs.agg(checks.head, checks.tail: _*).collect()(0)
      val hits = required.zipWithIndex.flatMap { case (c, ix) =>
        if (row.isNullAt(ix)) None
        else Some((row.getAs[Number](ix).longValue, ix, c))
      }
      // first offending (record, key) in the reference's iteration
      // order: records outer, required columns inner
      hits.sorted.headOption.foreach { case (i, _, c) =>
        throw new IllegalArgumentException(
          s"JSON file '$path', record $i: missing required key '$c'")
      }
    }
    val projected = if (required.isEmpty) df else df.select(required.map(col): _*)
    if (sniffTimestamps) promoteRfc3339(projected) else projected
  }

  /** XML via Spark 4's built-in XML source: one row per `rowTag`
    * element; missing requested columns error like JSON (an absent
    * element is a schema mismatch, not a silent drop). RFC3339
    * promotion applies, as XML carries no type information either.
    */
  def xml(
      spark: SparkSession,
      path: String,
      rowTag: String = "row",
      columns: Seq[String] = Nil,
      sniffTimestamps: Boolean = true): DataFrame = {
    val df = spark.read
      .format("xml")
      .option("rowTag", rowTag)
      .load(path)
    val missing = columns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing element(s) ${missing.mkString(", ")} in XML records of $path")
    val projected = if (columns.isEmpty) df else df.select(columns.map(col): _*)
    if (sniffTimestamps) promoteRfc3339(projected) else projected
  }

  /** Dispatch on file extension (reference `GetLoader`,
    * `loader.go:203-213`; parquet/ORC are the reference's declared
    * future work, `README.md:351` — free on Spark).
    */
  def forPath(
      spark: SparkSession,
      path: String,
      columns: Seq[String] = Nil,
      delimiter: String = ","): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) csv(spark, path, delimiter, columns)
    else if (lower.endsWith(".json")) json(spark, path, columns)
    else if (lower.endsWith(".xml")) xml(spark, path, columns = columns)
    else if (lower.endsWith(".parquet")) columnar(spark.read.parquet(path), columns)
    else if (lower.endsWith(".orc")) columnar(spark.read.orc(path), columns)
    else throw new IllegalArgumentException(
      s"unsupported file format for $path (expected .csv, .json, .xml, .parquet, or .orc)")
  }

  /** Typed columnar sources: projection only (types come from the file
    * schema; missing requested columns error like JSON).
    */
  private def columnar(df: DataFrame, columns: Seq[String]): DataFrame = {
    val missing = columns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing column(s) ${missing.mkString(", ")} in columnar source")
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }

  /** Promote string columns that are entirely RFC3339 (ignoring nulls,
    * with at least one value) to TimestampType. One aggregate pass over
    * the data computes all candidates' verdicts at once.
    */
  def promoteRfc3339(df: DataFrame): DataFrame = {
    val candidates = df.schema.fields.collect {
      case StructField(n, StringType, _, _) => n
    }
    if (candidates.isEmpty) return df
    val checks = candidates.flatMap { n =>
      Seq(
        count(when(col(n).isNotNull && !col(n).rlike(Rfc3339), 1)).as(s"__bad_$n"),
        count(when(col(n).isNotNull, 1)).as(s"__n_$n"))
    }
    val row = df.agg(checks.head, checks.tail: _*).collect()(0)
    val promote = candidates.filter { n =>
      row.getAs[Long](s"__bad_$n") == 0 && row.getAs[Long](s"__n_$n") > 0
    }.toSet
    promote.foldLeft(df)((d, n) => d.withColumn(n, to_timestamp(col(n))))
  }
}
