package graft

import java.nio.file.Files
import java.sql.DriverManager

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{DbConfig, SyncConfig, TableSyncConfig}
import graft.core.SyncRunner
import graft.sinks.JdbcSyncWriter

/** A JSON file synced into INT, BIGINT, DOUBLE, DECIMAL(15,2), VARCHAR,
  * BOOLEAN and TIMESTAMP columns, in overwrite and diff mode, leaves the
  * DB rows that the earlier JSON reader gives: an inferred `multiLine`
  * read, a per-record key-presence pass, and the sync's cast. That
  * reader is kept here verbatim ([[Inferred]]) as the oracle; its rows go
  * into a twin table through the sync's own insert.
  *
  * The two readings differ in one class, asserted cell by cell: a JSON
  * number written with a fraction or mixed into a float column, going
  * into VARCHAR. The inferred read made the column a double, so `100.0`
  * and, beside a float, `42` became `"100.0"` and `"42.0"`. Each cell
  * now keeps its own JSON number, rendered exactly: `"100"`, `"42"`,
  * `"1.5"` for `1.50`. An exponent form (`1e3`) is a double either way.
  */
class JsonSyncPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val db = DbConfig("jdbc:derby:memory:jsonprop;create=true")

  /** The earlier JSON reader and cast, verbatim but for the dropped
    * per-column RFC3339 promotion (a sync never ran it). */
  private object Inferred {
    private val Rfc3339 =
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})$"

    private def rfc3339Instant(c: Column): Column =
      when(c.rlike(Rfc3339), try_to_timestamp(c))

    def asDbType(df: DataFrame, c: String, t: DataType): Column =
      (df.schema(c).dataType, t) match {
        case (StringType, StringType | DateType | TimestampType | TimestampNTZType) =>
          coalesce(rfc3339Instant(col(c)).cast(t), col(c).cast(t))
        case (`t`, _) => col(c)
        case _ => col(c).cast(t)
      }

    def json(
        spark: SparkSession,
        path: String,
        columns: Seq[String] = Nil): DataFrame = {
      val df = spark.read.option("multiLine", "true").json(path)
      if (df.columns.contains("_corrupt_record"))
        throw new IllegalArgumentException(s"invalid JSON in $path")
      val missing = columns.filterNot(df.columns.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"missing key(s) ${missing.mkString(", ")} in JSON records of $path")
      import spark.implicits._
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
        hits.sorted.headOption.foreach { case (i, _, c) =>
          throw new IllegalArgumentException(
            s"JSON file '$path', record $i: missing required key '$c'")
        }
      }
      if (required.isEmpty) df else df.select(required.map(col): _*)
    }
  }

  /** The table's columns, their DB types and the types Spark reads them as. */
  private val table: Seq[(String, String, DataType)] = Seq(
    ("id", "INT PRIMARY KEY", IntegerType), ("i", "INT", IntegerType), ("b", "BIGINT", LongType),
    ("d", "DOUBLE", DoubleType), ("m", "DECIMAL(15,2)", DecimalType(15, 2)),
    ("v", "VARCHAR(64)", StringType), ("f", "BOOLEAN", BooleanType), ("t", "TIMESTAMP", TimestampType))
  private val initial = Seq(
    "(1, 5, 5, 0.5, 5.25, 'old', TRUE, TIMESTAMP('2020-01-01 00:00:00'))",
    "(7, 7, 7, 7.5, 7.75, 'gone', FALSE, TIMESTAMP('2020-01-02 00:00:00'))")

  private def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(db.url)
    try sqls.foreach(s => c.createStatement().executeUpdate(s)) finally c.close()
  }

  private def rows(name: String): Seq[Seq[Any]] = {
    val c = DriverManager.getConnection(db.url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT ${table.map(_._1).mkString(", ")} FROM $name ORDER BY id")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => table.indices.map(i => r.getObject(i + 1))).toVector
    } finally c.close()
  }

  /** A column's values: the JSON tokens one column of a file draws from. */
  private final case class Kind(name: String, tokens: Seq[String])
  private val ints = Seq("0", "42", "-7", "100")
  private val floats = Seq("1.0", "1e3", "1.50", "2.5", "-0.25", "100.0")
  private val rfc =
    Seq("\"2023-12-25T15:30:45Z\"", "\"2023-12-25T16:30:45+09:00\"", "\"2024-02-29T00:00:00.5Z\"")
  private val Ints = Kind("ints", ints)
  private val Floats = Kind("floats", floats)
  private val MixedIntFloat = Kind("mixed int/float", ints ++ floats)
  private val Bools = Kind("bools", Seq("true", "false"))
  private val NumStrings = Kind("numeric strings", Seq("\"12\"", "\"-3\""))

  /** The kinds each column draws from: values the earlier reader could
    * sync into it, so that most generated files sync. */
  private val kinds: Map[String, Seq[Kind]] = Map(
    "i" -> Seq(Ints, Floats, MixedIntFloat, Bools, NumStrings),
    "b" -> Seq(Kind("ints and 2^53+1", ints ++ Seq("9007199254740993", "-9007199254740993")),
      Floats, MixedIntFloat, NumStrings),
    "d" -> Seq(Ints, Floats, MixedIntFloat, NumStrings),
    "m" -> Seq(Ints, Floats, MixedIntFloat, NumStrings),
    "v" -> Seq(Ints, Floats, MixedIntFloat, Bools,
      Kind("strings reading as true/false/null", Seq("\"true\"", "\"false\"", "\"null\"")),
      Kind("RFC3339", rfc),
      Kind("RFC3339 and plain", rfc ++ Seq("\"abc\"", "\"2023-12-25 15:30:45\"", "\"\""))),
    "f" -> Seq(Bools, Kind("strings reading as true/false", Seq("\"true\"", "\"false\""))),
    "t" -> Seq(Kind("RFC3339", rfc), Kind("RFC3339 and plain", rfc :+ "\"2023-12-25 15:30:45\""), Ints))

  /** One generated sync: per column its kind and per record its token
    * (None: the key is absent), the file's shape and the mode. */
  private final case class Case(
      colKinds: Map[String, Kind],
      records: Seq[Map[String, Option[String]]],
      shape: String,
      mode: String) {
    def content: String = {
      def obj(r: Map[String, Option[String]]) = table.map(_._1)
        .flatMap(c => r(c).map(v => s""""$c": $v""")).mkString("{", ", ", "}")
      shape match {
        case "object" => obj(records.head)
        case _ => records.map(obj).mkString("[", ",\n ", "]")
      }
    }
  }

  private val caseGen: Gen[Case] = for {
    colKinds <- Gen.sequence[Seq[(String, Kind)], (String, Kind)](
      kinds.toSeq.map { case (c, ks) => Gen.oneOf(ks).map(c -> _) }).map(_.toMap)
    shape <- Gen.frequency(1 -> "empty", 1 -> "object", 6 -> "array")
    n <- shape match {
      case "empty" => Gen.const(0)
      case "object" => Gen.const(1)
      case _ => Gen.choose(1, 5)
    }
    cells <- Gen.listOfN(n, Gen.sequence[Seq[(String, Option[String])], (String, Option[String])](
      colKinds.toSeq.map { case (c, k) =>
        Gen.frequency(1 -> Gen.const(c -> Some("null")), 5 -> Gen.oneOf(k.tokens).map(t => c -> Some(t)))
      }).map(_.toMap))
    // one key absent from a later record, or none
    absent <- Gen.frequency(4 -> Gen.const(Option.empty[(Int, String)]),
      1 -> (if (n < 2) Gen.const(None)
            else Gen.zip(Gen.choose(1, n - 1), Gen.oneOf(kinds.keys.toSeq)).map(Some(_))))
    mode <- Gen.oneOf("overwrite", "diff")
  } yield {
    val records = cells.zipWithIndex.map { case (r, ix) =>
      (r + ("id" -> Some((ix + 1).toString))).map { case (c, v) =>
        c -> (if (absent.contains((ix, c))) None else v)
      }
    }
    Case(colKinds, records, shape, mode)
  }

  /** The cells where the two readings differ by design: a JSON number
    * going into VARCHAR from a column holding a float, which the earlier
    * reader read as a double column. */
  private def numberIntoVarchar(k: Case, c: String, token: Option[String]): Boolean =
    c == "v" && Set(Floats, MixedIntFloat).contains(k.colKinds(c)) && token.exists(_ != "null") &&
      k.records.flatMap(_(c)).exists(t => t != "null" && t.exists(".eE".contains(_)))

  /** A JSON number as its cell renders it: exactly, with no trailing
    * fraction zeros, and an exponent form as a double. */
  private def exactNumber(token: String): String =
    if (token.exists("eE".contains(_))) token.toDouble.toString
    else BigDecimal(token).bigDecimal.stripTrailingZeros.toPlainString

  /** Syncs `k` and checks the DB against the oracle. Returns whether
    * both readers failed, and the cells of the by-design class. */
  private def check(k: Case): (Boolean, Int) = {
    val f = Files.createTempDirectory("graft-jsonprop").resolve("data.json")
    Files.writeString(f, k.content)
    val path = f.toString
    exec("DELETE FROM jp_t", s"INSERT INTO jp_t VALUES ${initial.mkString(", ")}", "DELETE FROM jp_o")
    val before = rows("jp_t")
    val synced = scala.util.Try(SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "jp_t", filePath = path, mode = k.mode, primaryKey = "id",
      deleteNotInFile = k.mode == "diff"))))).toEither
    // the oracle: the file's rows under the earlier reader and cast,
    // written with the sync's insert; a failed read or cast leaves the
    // DB as it was
    val oracle = scala.util.Try {
      val df = Inferred.json(spark, path)
      val types = table.map(t => t._1 -> t._3).toMap
      df.select(df.columns.map(c => Inferred.asDbType(df, c, types(c)).as(c)).toSeq: _*).collect().toSeq
    }.toEither
    val expected = oracle.map { fileRows =>
      val conn = JdbcSyncWriter.connect(db)
      try {
        if (fileRows.nonEmpty)
          JdbcSyncWriter.bulkInsert(conn, "jp_o", fileRows.head.schema.fieldNames.toSeq, fileRows, Nil)
        conn.commit()
      } finally conn.close()
      rows("jp_o")
    }
    val got = rows("jp_t")
    (synced, oracle) match {
      case (Left(e), Left(o)) =>
        assert(e.getMessage == o.getMessage, k.content)
        assert(got == before, k.content)
        (true, 0)
      case (Right(_), Right(_)) =>
        val want = expected.toOption.get
        assert(got.map(_.head) == want.map(_.head), k.content)
        val cells = for ((g, w) <- got.zip(want); (c, ix) <- table.map(_._1).zipWithIndex) yield {
          val token = k.records.find(_("id").contains(g.head.toString)).flatMap(_(c))
          val inClass = numberIntoVarchar(k, c, token)
          if (inClass) {
            assert(g(ix) == exactNumber(token.get), s"$c of ${g.head}: ${k.content}")
            assert(w(ix) == token.get.toDouble.toString, s"$c of ${g.head}: ${k.content}")
          } else assert(g(ix) == w(ix), s"$c of ${g.head}: ${k.content}")
          inClass
        }
        (false, cells.count(identity))
      case _ => fail(s"sync $synced, earlier reader ${oracle.map(_.size)}: ${k.content}")
    }
  }

  private lazy val tables: Unit = {
    val ddl = table.map { case (c, t, _) => s"$c $t" }.mkString(", ")
    for (t <- Seq("jp_t", "jp_o")) {
      try exec(s"DROP TABLE $t") catch { case _: Exception => () }
      exec(s"CREATE TABLE $t ($ddl)")
    }
  }

  test("a JSON number from a float column reaches VARCHAR as written, no longer as a double") {
    tables
    val v = Seq("42", "100.0", "1.50", "1e3", "null")
    val records = v.zipWithIndex.map { case (t, ix) =>
      table.map(_._1).map(c => c -> Some(c match {
        case "id" => (ix + 1).toString
        case "v" => t
        case "t" => rfc.head
        case _ => "1"
      })).toMap
    }
    for (mode <- Seq("overwrite", "diff")) {
      val colKinds = kinds.map { case (c, ks) => c -> ks.head } + ("v" -> MixedIntFloat)
      val k = Case(colKinds, records, "array", mode)
      assert(check(k) == ((false, 4)), mode)
      assert(rows("jp_t").map(_(5)) == Seq("42", "100", "1.5", "1000.0", null), mode)
      assert(rows("jp_o").map(_(5)) == Seq("42.0", "100.0", "1.5", "1000.0", null), mode)
    }
  }

  test("generated JSON files sync to the earlier reader's rows, but for that class") {
    tables
    var (failed, cells) = (0, 0)
    val prop = Prop.forAllNoShrink(caseGen) { k =>
      val (f, n) = check(k)
      if (f) failed += 1
      cells += n
      true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(24).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    info(s"24 files: $failed failed in both readers alike; $cells cells of the by-design class")
  }
}
