package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.VariantType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Readers

class ReadersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpFile(name: String, content: String): String = {
    val dir: Path = Files.createTempDirectory("graft-readers")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  /** The rows of `df`, then the checks its JSON reads observed: a JSON
    * read reports invalid JSON or a missing key after an action. */
  private def readAll(df: DataFrame): Seq[Row] = {
    val rows = df.collect().toSeq
    Readers.requireJson(df)
    rows
  }

  test("csv: header, projection silently drops missing columns") {
    val p = tmpFile("a.csv", "id,name,email\n1,alice,a@x\n2,bob,b@x\n")
    val df = Readers.csv(spark, p, columns = Seq("id", "email", "ghost"))
    assert(df.columns.toSeq == Seq("id", "email")) // ghost silently dropped
    assert(df.count() == 2)
  }

  test("csv: custom delimiter") {
    val p = tmpFile("b.csv", "id;name\n1;alice\n")
    val df = Readers.csv(spark, p, delimiter = ";")
    assert(df.columns.toSeq == Seq("id", "name"))
  }

  // (case, files as name -> content, delimiter)
  private val headerCases: Seq[(String, Seq[(String, String)], String)] = Seq(
    ("a quoted field holding the delimiter", Seq("q.csv" -> "\"a,b\",c\n1,2\n"), ","),
    ("duplicate names and an empty name", Seq("d.csv" -> "id,name,,Name,name\n1,a,b,c,d\n"), ","),
    ("a ';' delimiter", Seq("s.csv" -> "id;\"x;y\";name\n1;2;a\n"), ";"),
    ("a leading blank line", Seq("l.csv" -> "\n  \nid,name\n1,a\n"), ","),
    ("a BOM", Seq("bom.csv" -> "\uFEFFid,name\n1,a\n"), ","),
    ("a BOM on a blank first line", Seq("bomb.csv" -> "\uFEFF\nid,name\n1,a\n"), ","),
    ("a header-only file", Seq("h.csv" -> "id,name\n"), ","),
    ("a 0-byte file", Seq("z.csv" -> ""), ","),
    // the larger file sorts last by name: inference reads the largest first
    ("a two-file directory of unequal sizes",
      Seq("a.csv" -> "x,y\n1,2\n", "b.csv" -> "id,name,extra\n1,a,b\n2,c,d\n"), ","))

  for ((label, files, delimiter) <- headerCases)
    test(s"csv: the driver-parsed header is Spark's own, for $label") {
      val dir = Files.createTempDirectory("graft-header")
      files.foreach { case (n, content) => Files.writeString(dir.resolve(n), content) }
      val p = if (files.size == 1) dir.resolve(files.head._1).toString else dir.toString
      val spark0 = spark.read.option("header", "true").option("sep", delimiter).csv(p)
      val ours = Readers.csv(spark, p, delimiter = delimiter)
      assert(ours.columns.toSeq == spark0.columns.toSeq)
      // a directory's smaller file has a short row, which FAILFAST rejects
      if (files.size > 1) assert(ours.columns.toSeq == Seq("id", "name", "extra"))
      else assert(ours.collect().toSeq == spark0.collect().toSeq)
    }

  // (case, file name, content, requested columns)
  private val readCases: Seq[(String, String, String, Seq[String])] = Seq(
    ("csv", "j.csv", "id,at,label\n1,2023-12-25T15:30:45Z,x\n", Nil),
    ("json", "j.json", """[{"id": 1, "at": "2023-12-25T15:30:45Z"}, {"id": 2, "at": null}]""", Nil),
    ("json with columns", "k.json", """[{"id": 1, "at": "x"}, {"id": 2, "at": "y"}]""", Seq("at", "id")))

  for ((label, name, content, columns) <- readCases)
    test(s"$label: the read itself runs no Spark job") {
      val p = tmpFile(name, content)
      val sc = spark.sparkContext
      val jobs = JobCount(spark, "readers-header-read") {
        sc.setJobGroup("readers-header-read", null)
        try Readers.forPath(spark, p, columns).columns finally sc.clearJobGroup()
      }
      assert(jobs == 0)
    }

  test("xml: rowTag records, projection, dispatch") {
    val p = tmpFile("r.xml",
      """<rows>
        |  <row><id>1</id><name>alice</name><at>2023-12-25T15:30:45Z</at></row>
        |  <row><id>2</id><name>bob</name><at>2023-12-26T10:00:00Z</at></row>
        |</rows>""".stripMargin)
    val df = Readers.xml(spark, p, rowTag = "row")
    assert(df.count() == 2)
    val e = intercept[IllegalArgumentException] {
      Readers.xml(spark, p, rowTag = "row", columns = Seq("id", "ghost"))
    }
    assert(e.getMessage.contains("ghost"))
    // extension dispatch reaches the XML reader
    assert(Readers.forPath(spark, p).count() == 2)
  }

  test("json: array of objects; missing requested key errors") {
    val p = tmpFile("d.json",
      """[{"id": 1, "name": "alice"}, {"id": 2, "name": "bob"}]""")
    val df = Readers.json(spark, p, columns = Seq("id", "name"))
    assert(readAll(df).size == 2)
    assert(df.schema.map(_.dataType).toSet == Set(VariantType))
    val e = intercept[IllegalArgumentException] {
      readAll(Readers.json(spark, p, columns = Seq("id", "email")))
    }
    assert(e.getMessage.contains("email"))
  }

  test("json: record-level missing key errors; explicit null does not") {
    // mirrors reference main_test.go:327-338 / loader.go:185-193: the
    // key exists in the file's union schema but SOME records lack it
    val p = tmpFile("m.json",
      """[{"id": 1, "name": "alice", "email": "a@x"},
        | {"id": 2, "name": "bob"},
        | {"id": 3, "name": "carol", "email": "c@x"}]""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      readAll(Readers.json(spark, p, columns = Seq("id", "name", "email")))
    }
    assert(e.getMessage.contains("record 1") &&
      e.getMessage.contains("missing required key 'email'"))
    // columns not requesting the partial key load fine
    assert(readAll(Readers.json(spark, p, columns = Seq("id", "name"))).size == 3)
    // an explicit JSON null is PRESENT (reference: jsonObj[col] ok=true)
    // and reads as a JSON null, an absent key as SQL NULL
    val pn = tmpFile("n.json",
      """[{"id": 1, "email": "a@x"}, {"id": 2, "email": null}]""")
    val dfn = Readers.json(spark, pn, columns = Seq("id", "email"))
    assert(readAll(dfn.selectExpr("id::int", "email::string", "email IS NULL")) ==
      Seq(Row(1, "a@x", false), Row(2, null, false)))
  }

  test("json: auto-detect uses first record's sorted keys; later-record gap errors") {
    // reference loader.go:174-182: actualColumns = first object's keys
    // (sorted); record 1 lacking one of those keys errors, while a key
    // appearing only in later records is silently dropped
    val p = tmpFile("f.json",
      """[{"b": 1, "a": "x"}, {"a": "y", "b": 2, "extra": true}]""")
    val df = Readers.json(spark, p)
    assert(df.columns.toSeq == Seq("a", "b")) // sorted, no "extra"
    val pBad = tmpFile("g.json", """[{"a": 1, "b": 2}, {"a": 3}]""")
    val e = intercept[IllegalArgumentException](readAll(Readers.json(spark, pBad)))
    assert(e.getMessage.contains("record 1") &&
      e.getMessage.contains("missing required key 'b'"))
  }

  test("json: empty array loads as empty result") {
    val p = tmpFile("e.json", "[]")
    assert(readAll(Readers.json(spark, p)).isEmpty)
    // with no key to read, no column carries the check: the driver
    // checks the whole file as it looks for the first record's keys
    for (bad <- Seq("[{}, 1]", "[1, 2]", "[{}, {\"a\": 1}"))
      assert(intercept[IllegalArgumentException](Readers.json(spark, tmpFile("b.json", bad)))
        .getMessage.startsWith("invalid JSON in "), bad)
  }

  test("json: single top-level object gets the same per-record check") {
    // the array-schema parse yields null for an object file; without
    // the object fallback the presence check silently skipped it
    val p = tmpFile("o.json", """{"id": 1, "name": "alice"}""")
    assert(readAll(Readers.json(spark, p, columns = Seq("id", "name"))).size == 1)
    val e = intercept[IllegalArgumentException] {
      readAll(Readers.json(spark, p, columns = Seq("id", "email")))
    }
    assert(e.getMessage.contains("email"))
    // auto-detect takes the object's own sorted keys
    assert(Readers.json(spark, p).columns.toSeq == Seq("id", "name"))
  }

  test("parquet dispatch reads with projection") {
    val dir = Files.createTempDirectory("graft-pq")
    val p = s"$dir/part.parquet"
    import spark.implicits._
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
      .write.parquet(p)
    val df = Readers.forPath(spark, p, columns = Seq("id", "score"))
    assert(df.columns.toSeq == Seq("id", "score") && df.count() == 2)
    intercept[IllegalArgumentException](
      Readers.forPath(spark, p, columns = Seq("ghost")))
  }

  test("orc round-trip: dispatch, projection, missing-column error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orc").resolve("t.orc").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
      .write.mode("overwrite").orc(dir)
    val back = Readers.forPath(spark, dir, columns = Seq("id", "v"))
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.count() == 2)
    val e = intercept[IllegalArgumentException] {
      Readers.forPath(spark, dir, columns = Seq("nope"))
    }
    assert(e.getMessage.contains("missing column"))
  }

  test("extension dispatch rejects unknown formats") {
    val e = intercept[IllegalArgumentException] {
      Readers.forPath(spark, "/tmp/data.xlsx")
    }
    assert(e.getMessage.contains("unsupported file format"))
  }
}
