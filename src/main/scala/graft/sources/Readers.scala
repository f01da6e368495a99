package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.util.{Try, Using}

import com.fasterxml.jackson.core.{JsonProcessingException, JsonToken}
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat, PartitionedFile}
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
  *   - JSON: whole-file array of objects (or one object), parsed once:
  *     the first record's keys are read on the driver, and each value
  *     keeps its own JSON type as a VARIANT cell (`loader.go:163`).
  *     Invalid JSON (text after the value too) and a record missing a
  *     required key (`loader.go:185-193`) are observed as the data is
  *     read, and fail the caller after its action ([[requireJson]]).
  *     This read runs no Spark job either.
  *   - RFC3339 (`loader.go:28-43`): converts per *cell* inside the cast
  *     to the DB's types ([[asDbType]]), as the reference's
  *     `convertValue` does. No reader promotes a column.
  *   - extension dispatch `.csv` / `.json` (`GetLoader`,
  *     `loader.go:203-213`).
  *   - parquet: the schema is read from one footer on the driver
  *     ([[parquet]]), so this read runs no Spark job either; a small
  *     table's rows can be read on the driver too ([[parquetRows]]).
  *
  * Reads are streaming multi-partition scans — nothing is materialized
  * driver-side, unlike the reference's ReadAll.
  */
object Readers {

  /** Names each CSV and JSON read's observation apart: two reads
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
    * or VARIANT column going into a string, date or timestamp column
    * converts per cell as the reference's `convertValue` does
    * (`loader.go:28-43`): a cell whose string form is an RFC3339 instant
    * becomes that timestamp and then `t` (into VARCHAR, the timestamp's
    * rendering); any other cell is cast as it stands. An RFC3339-shaped
    * cell that names no instant is such a cell: into VARCHAR it stays
    * raw, into TIMESTAMP its cast fails. Into any other type (BOOLEAN, a
    * number, binary) the cell is cast as it stands: a timestamp has no
    * BOOLEAN or binary cast under ANSI, and an instant is no number. Any
    * other column is cast.
    */
  def asDbType(df: DataFrame, c: String, t: DataType): Column =
    (df.schema(c).dataType, t) match {
      case (StringType | VariantType, StringType | DateType | TimestampType | TimestampNTZType) =>
        coalesce(rfc3339Instant(col(c).cast(StringType)).cast(t), col(c).cast(t))
      case (`t`, _) => col(c)
      case _ => col(c).cast(t)
    }

  def csv(
      spark: SparkSession,
      path: String,
      delimiter: String = ",",
      columns: Seq[String] = Nil): DataFrame = {
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
    if (columns.isEmpty) df
    else df.select(columns.filter(df.columns.contains).map(col): _*)
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
    val files = dataFiles(spark, path).sortBy((f: FileStatus) => (-f.getLen, f.getPath.toString))
    files.iterator.flatMap(f => firstLine(conf, f.getPath, parsed)).nextOption()
      .flatMap(line => Option(new CsvParser(parsed.asParserSettings).parseLine(line)))
      .fold(Seq.empty[String]) { row =>
        val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        CSVUtils.makeSafeHeader(row, caseSensitive, parsed).toSeq
      }
  }

  /** The files a text-source read of `path` scans: the matches of a
    * glob, a directory's visible files. */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filter(f => f.isFile && !hidden(f.getPath.getName))
      else Seq(st)
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
    parquetFooter(spark, path)
      .fold(spark.read.parquet(path)) { case (_, schema) => spark.read.schema(schema).parquet(path) }

  /** The rows of the parquet at `path`, read on the driver with no Spark
    * job — for the tables of a few rows that a caller collects whole (a
    * stamp, a model's totals, a cutoff table), where a job costs more
    * than the read. Spark's own parquet reader (the one a scan runs,
    * returning rows, not batches) reads each data file in path order
    * under the schema [[parquet]] reads with, and each row converts as a
    * collect converts it, carrying that schema. Where [[parquet]] falls
    * back to Spark's read, this falls back to Spark's read and collect.
    */
  def parquetRows(spark: SparkSession, path: String): Seq[Row] =
    parquetFooter(spark, path).fold(parquet(spark, path).collect().toSeq) { case (files, schema) =>
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        graftbridge.newHadoopConf(spark))
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      files.flatMap { f =>
        val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
          0L, f.getLen, fileSize = f.getLen))
        try it.map(toRow(_).asInstanceOf[Row]).toVector
        finally it match { case c: java.io.Closeable => c.close(); case _ => () }
      }
    }

  private val parquetSummaries = Set("_common_metadata", "_metadata")

  /** The files of the parquet at `path` as Spark lists them, by path;
    * None for a glob (Spark's to expand), a missing path or a directory
    * with subdirectories (partition discovery). */
  private def parquetLeaves(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(!path.exists("{}[]*?\\".contains(_)) && fs.exists(p))(fs.getFileStatus(p))
      .map(st => if (st.isFile) Seq(st) else fs.listStatus(p).toSeq
        .filterNot(f => graftbridge.hiddenPathName(f.getPath.getName)))
      .filterNot(_.exists(_.isDirectory))
      .map(_.sortBy(_.getPath.toString))
  }

  /** The data files of the parquet at `path` (its summary files left
    * out) and the schema Spark's inference gives them, read from one
    * footer: the one `ParquetUtils.inferSchema` reads when it does not
    * merge schemas (`_common_metadata`, else `_metadata`, else the first
    * data file by path), converted under the session's parquet settings
    * (`nanosAsLong`, `binaryAsString`, ...). None where one footer
    * cannot stand for the schema: `mergeSchema` on, a glob, a directory
    * with subdirectories, or no footer to read.
    */
  private def parquetFooter(spark: SparkSession, path: String): Option[(Seq[FileStatus], StructType)] = {
    val sql = graftbridge.sqlConf(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val leaves = if (sql.isParquetSchemaMergingEnabled) None else parquetLeaves(spark, path)
    leaves.flatMap { files =>
      def named(n: String) = files.find(_.getPath.getName == n)
      val data = files.filterNot(f => parquetSummaries(f.getPath.getName))
      named("_common_metadata").orElse(named("_metadata")).orElse(data.headOption)
        .flatMap(f => Try(new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))).toOption)
        .map(footer => data -> ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(sql)))
    }
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

  /** Names the observation of each JSON read ([[requireJson]]). */
  private val JsonCheck = "__json_check_"

  /** The JSON array of objects (or one object) at `path`, one row per
    * record and one VARIANT column per required key: `columns`, or with
    * none the first record's keys, sorted (`loader.go:174-182`). A cell
    * is SQL NULL where its record lacks the key, and a JSON `null`
    * otherwise, whose every cast is NULL.
    *
    * Each file is parsed once, whole, by the action that reads the
    * frame (its tokens scanned once more for text after the value),
    * which also observes the first failure in the reference's
    * order — invalid JSON (text after the top-level value included, as
    * `json.Unmarshal` rejects it), then the first record (records
    * outer, required keys inner) missing a required key, where
    * `"k": null` is not missing but a `null` record, the reference's nil
    * map, misses every key (`loader.go:185-193`). [[requireJson]] throws
    * it after that action. The read itself runs no Spark job: with no
    * `columns`, the first record's keys are streamed on the driver by
    * the Jackson parser Spark ships, up to the close of that record.
    */
  def json(spark: SparkSession, path: String, columns: Seq[String] = Nil): DataFrame = {
    val keys = if (columns.nonEmpty) columns else jsonKeys(spark, path)
    val text = col("value")
    val asArray = from_json(text, ArrayType(MapType(StringType, VariantType)))
    val asObject = from_json(text, MapType(StringType, VariantType))
    val (i, rec) = (col("i"), col("rec"))
    val missing = coalesce(keys.map(k =>
      when(rec.isNull || !map_contains_key(rec, lit(k)), lit(k))) :+ lit(null): _*)
    val problem = when(col("bad"), lit(s"invalid JSON in $path"))
      .otherwise(concat(lit(s"JSON file '$path', record "), i.cast(StringType),
        lit(": missing required key '"), missing, lit("'")))
    // a top-level object is one record; NULL where neither parse holds.
    // posexplode_outer keeps one row (i NULL) for an invalid or empty
    // file, so the observation sees the invalid one; the filter drops it
    spark.read.option("wholetext", "true").text(path)
      .select(coalesce(asArray, when(asObject.isNotNull, array(asObject))).as("recs"),
        trailingText(jsonOptions(spark))(text).as("trailing"))
      .select((col("recs").isNull || col("trailing")).as("bad"), col("recs"))
      .select(col("bad"), posexplode_outer(col("recs")).as(Seq("i", "rec")))
      .observe(s"$JsonCheck${observations.getAndIncrement()}",
        min(when(problem.isNotNull, struct(coalesce(i, lit(-1)), problem))).as("problem"))
      .filter(i.isNotNull)
      .select(keys.map(k => rec.getItem(k).as(k)): _*)
  }

  /** Throws the failure that a JSON read in `executed`'s plan observed
    * ([[json]]): invalid JSON or a record missing a required key, as an
    * `IllegalArgumentException`. Call it only after an action on
    * `executed` completed, and on the frame that action read: an
    * observation counts only the rows its action pulled. A JSON read in
    * the plan whose observation the action did not report is an
    * `IllegalStateException`.
    */
  def requireJson(executed: DataFrame): Unit = {
    val observed = executed.queryExecution.observedMetrics
    executed.queryExecution.analyzed.foreach {
      case m: CollectMetrics if m.name.startsWith(JsonCheck) =>
        val row = observed.getOrElse(m.name, throw new IllegalStateException(
          s"JSON check '${m.name}' is not in the executed plan"))
        Option(row.getStruct(0)).foreach(p => throw new IllegalArgumentException(p.getString(1)))
      case _ =>
    }
  }

  /** The options `from_json` parses with, so the driver's and the
    * executors' Jackson parsers accept the same text. */
  private def jsonOptions(spark: SparkSession): JSONOptions =
    new JSONOptions(Map.empty[String, String], spark.conf.get("spark.sql.session.timeZone"))

  /** Whether a file's text holds anything after its first JSON value, or
    * fails to parse: `from_json` stops at the end of that value. Runs in
    * the projection of the read, so it adds no job. */
  private def trailingText(options: JSONOptions) = udf { (s: String) =>
    Using.resource(options.buildJsonFactory().createParser(s)) { p =>
      try { p.nextToken(); p.skipChildren(); p.nextToken() != null }
      catch { case _: JsonProcessingException => true }
    }
  }

  /** The sorted keys of the first record of the JSON at `path` (the
    * first of its files by path), streamed on the driver up to the close
    * of that record; no file or no record gives none. Where the first
    * record has no key, no column of the read carries its check, so the
    * rest of the file is checked here. Invalid JSON before that point is
    * an `IllegalArgumentException`.
    */
  private def jsonKeys(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val factory = jsonOptions(spark).buildJsonFactory()
    def invalid = new IllegalArgumentException(s"invalid JSON in $path")
    dataFiles(spark, path).sortBy(_.getPath.toString).headOption.fold(Seq.empty[String]) { f =>
      Using.resource(CodecStreams.createInputStreamWithCloseResource(conf, f.getPath)) { in =>
        val p = factory.createParser(in)
        // the keys of the object just opened, its values skipped
        def keys(): Seq[String] = Iterator.continually(p.nextToken())
          .takeWhile(_ == JsonToken.FIELD_NAME)
          .map { _ => val k = p.currentName; p.nextToken(); p.skipChildren(); k }
          .toVector.distinct.sorted
        try p.nextToken() match {
          case null => Nil
          case JsonToken.START_OBJECT => keys()
          case JsonToken.START_ARRAY => p.nextToken() match {
            case JsonToken.END_ARRAY => Nil
            case JsonToken.START_OBJECT =>
              val first = keys()
              if (first.isEmpty)
                Iterator.continually(p.nextToken()).takeWhile(_ != JsonToken.END_ARRAY).foreach {
                  case JsonToken.START_OBJECT => p.skipChildren()
                  case JsonToken.VALUE_NULL => ()
                  case _ => throw invalid
                }
              first
            case _ => throw invalid
          }
          case _ => throw invalid
        } catch { case _: JsonProcessingException => throw invalid }
      }
    }
  }

  /** XML via Spark 4's built-in XML source: one row per `rowTag`
    * element, typed by the source's inference; missing requested columns
    * error (an absent element is a schema mismatch, not a silent drop).
    */
  def xml(
      spark: SparkSession,
      path: String,
      rowTag: String = "row",
      columns: Seq[String] = Nil): DataFrame =
    typed(spark.read.format("xml").option("rowTag", rowTag).load(path), columns, s"XML records of $path")

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
    else if (lower.endsWith(".parquet")) typed(parquet(spark, path), columns, "columnar source")
    else if (lower.endsWith(".orc")) typed(spark.read.orc(path), columns, "columnar source")
    else throw new IllegalArgumentException(
      s"unsupported file format for $path (expected .csv, .json, .xml, .parquet, or .orc)")
  }

  /** Sources typed by their own schema (XML's inference, parquet, ORC):
    * projection only; a requested column missing from `source` errors.
    */
  private def typed(df: DataFrame, columns: Seq[String], source: String): DataFrame = {
    val missing = columns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"missing column(s) ${missing.mkString(", ")} in $source")
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }
}
