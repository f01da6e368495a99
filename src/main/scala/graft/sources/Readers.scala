package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.util.{Try, Using}

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** File-source readers with the reference loaders' semantics
  * (`loader.go:76-213`):
  *
  *   - CSV: mandatory header, configurable delimiter, strict
  *     row-shape check (FAILFAST over every header column, whichever
  *     columns are requested), requested columns missing from the
  *     header are silently dropped (`loader.go:109-115`). The header is
  *     parsed on the driver and every column read as a string, so the
  *     read itself runs no Spark job.
  *   - JSON: whole-file array of objects (multiLine), requested
  *     columns missing from the data are an error (`loader.go:189-193`).
  *   - RFC3339 (`loader.go:28-43`): the reference converts per *cell*.
  *     A sync does the same inside its cast to the DB's types
  *     ([[asDbType]]), and reads its file with `sniffTimestamps = false`.
  *     A standalone read instead promotes, after load, each string
  *     column whose non-null values are all RFC3339 instants to
  *     TimestampType ([[promoteRfc3339]]): a DataFrame column has one
  *     type, and no target type is known to convert into.
  *   - extension dispatch `.csv` / `.json` (`GetLoader`,
  *     `loader.go:203-213`).
  *   - parquet: the schema is read from one footer on the driver
  *     ([[parquet]]), so this read runs no Spark job either.
  *
  * Reads are streaming multi-partition scans — nothing is materialized
  * driver-side, unlike the reference's ReadAll.
  */
object Readers {

  /** Names each CSV read's row-shape observation apart: two reads
    * observed under one name cannot meet in one plan.
    */
  private val observations = new AtomicLong

  private val Rfc3339 =
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})$"

  /** `c` as a timestamp where it is an RFC3339 instant, else NULL. A
    * value of that shape that names no instant (`2023-02-30T00:00:00Z`,
    * `T24:00:00Z`) is NULL too: Go's `time.Parse` rejects it.
    */
  private def rfc3339Instant(c: Column): Column =
    when(c.rlike(Rfc3339), try_to_timestamp(c))

  /** Column `c` of `df` as a value of the DB column type `t`. A string
    * column going into a string, date or timestamp column converts per
    * cell as the reference's `convertValue` does (`loader.go:28-43`): an
    * RFC3339 instant becomes that timestamp and then `t` (into VARCHAR,
    * the timestamp's rendering); any other cell is cast as it stands. An
    * RFC3339-shaped cell that names no instant is such a cell: into
    * VARCHAR it stays raw, into TIMESTAMP its cast fails. Into any other
    * type (BOOLEAN, a number, binary) a string is cast as it stands: a
    * timestamp has no BOOLEAN or binary cast under ANSI, and an instant
    * is no number. Any other column is cast.
    */
  def asDbType(df: DataFrame, c: String, t: DataType): Column =
    (df.schema(c).dataType, t) match {
      case (StringType, StringType | DateType | TimestampType | TimestampNTZType) =>
        coalesce(rfc3339Instant(col(c)).cast(t), col(c).cast(t))
      case (`t`, _) => col(c)
      case _ => col(c).cast(t)
    }

  def csv(
      spark: SparkSession,
      path: String,
      delimiter: String = ",",
      columns: Seq[String] = Nil,
      sniffTimestamps: Boolean = true): DataFrame = {
    val options = Map("header" -> "true", "sep" -> delimiter, "mode" -> "FAILFAST")
    val schema = StructType(csvHeader(spark, path, options).map(StructField(_, StringType)))
    val read = spark.read.options(options).schema(schema).csv(path)
    // The parser checks a row's length against the columns it reads, so
    // a scan pruned to fewer columns would let a short or long row
    // through FAILFAST. An observation over every header column keeps
    // them all in the scan; its value is not read.
    val df =
      if (schema.isEmpty) read
      else read.observe(s"__csv_whole_rows_${observations.getAndIncrement()}",
        count(when(schema.fieldNames.map(read(_).isNull).reduce(_ && _), 1)))
    // CSV drops requested columns that are absent, silently.
    val projected =
      if (columns.isEmpty) df
      else df.select(columns.filter(df.columns.contains).map(col): _*)
    if (sniffTimestamps) promoteRfc3339(projected) else projected
  }

  /** The column names Spark's header inference gives the CSV at `path`,
    * found on the driver with no Spark job. Inference parses the first
    * non-blank line of the scan's first split, and a scan orders its
    * splits largest first: so this is the first non-blank line of the
    * largest file (ties by path), parsed by the univocity parser Spark
    * ships under the read's own options, then made safe as Spark makes
    * it — an empty name becomes `_c<i>`, a repeated one `<name><i>`. A
    * leading UTF-8 BOM is dropped, as Hadoop's line reader drops it. No
    * line at all (a 0-byte file) gives no columns.
    */
  private def csvHeader(
      spark: SparkSession, path: String, options: Map[String, String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parsed = new CSVOptions(options, true, spark.conf.get("spark.sql.session.timeZone"))
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filter(f => f.isFile && !hidden(f.getPath.getName))
      else Seq(st)
    }.sortBy((f: FileStatus) => (-f.getLen, f.getPath.toString))
    files.iterator.flatMap(f => firstLine(conf, f.getPath, parsed)).nextOption()
      .flatMap(line => Option(new CsvParser(parsed.asParserSettings).parseLine(line)))
      .fold(Seq.empty[String]) { row =>
        val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        CSVUtils.makeSafeHeader(row, caseSensitive, parsed).toSeq
      }
  }

  /** The parquet at `path`, read under the schema Spark's inference
    * gives it, found on the driver from one footer: the read itself runs
    * no Spark job. The footer is the one `ParquetUtils.inferSchema`
    * reads when it does not merge schemas (`_common_metadata`, else
    * `_metadata`, else the first data file by path), converted under the
    * session's parquet settings (`nanosAsLong`, `binaryAsString`, ...).
    * Spark's own read, with its inference job, stays wherever one footer
    * cannot stand for the schema: `mergeSchema` on, a glob, a directory
    * with subdirectories (partition discovery), or no footer to read (the
    * error is then Spark's own).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquetFooterSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def parquetFooterSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sql = graftbridge.sqlConf(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val summaries = Set("_common_metadata", "_metadata")
    // the file or directory as Spark lists it; a glob is Spark's to expand
    val leaves = Option.when(!sql.isParquetSchemaMergingEnabled &&
        !path.exists("{}[]*?\\".contains(_)) && fs.exists(p))(fs.getFileStatus(p)).toSeq
      .flatMap(st => if (st.isFile) Seq(st) else fs.listStatus(p).toSeq
        .filterNot(f => graftbridge.hiddenPathName(f.getPath.getName)))
    if (leaves.exists(_.isDirectory)) return None
    val files = leaves.sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .flatMap(f => Try(new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))).toOption)
      .map(ParquetFileFormat.readSchemaFromFooter(_, new ParquetToSparkSchemaConverter(sql)))
  }

  /** The first line of file `p` that is not blank, BOM dropped. */
  private def firstLine(conf: Configuration, p: Path, options: CSVOptions): Option[String] =
    Using.resource(CodecStreams.createInputStreamWithCloseResource(conf, p)) { in =>
      val reader = new LineReader(in, conf)
      val text = new Text()
      var start = true
      var found = Option.empty[String]
      while (found.isEmpty && reader.readLine(text) > 0) {
        val b = text.getBytes
        val bom = start && text.getLength >= 3 &&
          b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte
        val skip = if (bom) 3 else 0
        start = false
        val line = new String(b, skip, text.getLength - skip, options.charset)
        if (line.trim.nonEmpty) found = Some(line)
      }
      found
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
    * future work, `README.md:351` — free on Spark). `sniffTimestamps`
    * goes to the CSV, JSON and XML readers; a sync passes `false` and
    * converts RFC3339 per cell instead ([[asDbType]]).
    */
  def forPath(
      spark: SparkSession,
      path: String,
      columns: Seq[String] = Nil,
      delimiter: String = ",",
      sniffTimestamps: Boolean = true): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) csv(spark, path, delimiter, columns, sniffTimestamps)
    else if (lower.endsWith(".json")) json(spark, path, columns, sniffTimestamps)
    else if (lower.endsWith(".xml"))
      xml(spark, path, columns = columns, sniffTimestamps = sniffTimestamps)
    else if (lower.endsWith(".parquet")) columnar(parquet(spark, path), columns)
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

  /** Promote string columns that are entirely RFC3339 instants
    * (ignoring nulls, with at least one value) to TimestampType: the
    * per-column reading of RFC3339 that a standalone read uses (a sync
    * converts per cell, [[asDbType]]). One aggregate pass over the data
    * computes all candidates' verdicts at once. A column holding an
    * RFC3339-shaped value that names no instant stays a string.
    */
  def promoteRfc3339(df: DataFrame): DataFrame = {
    val candidates = df.schema.fields.collect {
      case StructField(n, StringType, _, _) => n
    }
    if (candidates.isEmpty) return df
    val checks = candidates.flatMap { n =>
      Seq(
        count(when(col(n).isNotNull && rfc3339Instant(col(n)).isNull, 1)).as(s"__bad_$n"),
        count(when(col(n).isNotNull, 1)).as(s"__n_$n"))
    }
    val row = df.agg(checks.head, checks.tail: _*).collect()(0)
    val promote = candidates.filter { n =>
      row.getAs[Long](s"__bad_$n") == 0 && row.getAs[Long](s"__n_$n") > 0
    }.toSet
    promote.foldLeft(df)((d, n) => d.withColumn(n, to_timestamp(col(n))))
  }
}
