package graft

import java.nio.file.{Files, Paths}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SnapshotStamp
import graft.operators.Ranking
import graft.sources.Readers

/** `Readers.parquet` reads the schema from one footer on the driver; it
  * must be the schema Spark's own inference gives, for the test tables
  * and for every stored artifact the LM path reads, and it must fall
  * back to Spark's read where one footer cannot stand for the schema.
  */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The sf0.01 test tables, at their TESTDATA.md location. */
  private val sf = Paths.get("/root/testdata/sf0.01")

  private def sameAsSpark(p: String): Unit =
    assert(Readers.parquet(spark, p).schema == spark.read.parquet(p).schema, p)

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("the schema of every sf0.01 table is Spark's, under nanosAsLong") {
    assume(Files.isDirectory(sf), s"no test tables at $sf")
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      for (t <- Tables.All) sameAsSpark(sf.resolve(s"$t.parquet").toString)
    }
    val region = sf.resolve("region.parquet").toString
    assert(Readers.parquet(spark, region).collect().toSeq ==
      spark.read.parquet(region).collect().toSeq)
  }

  test("nanosAsLong and binaryAsString apply to a footer with no Spark schema") {
    // a file written by plain parquet, so its footer carries no Spark
    // schema and the types come from the session's converter settings
    val p = Files.createTempDirectory("graft-plain").resolve("t.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(p)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("b", "hi"))
    finally w.close()
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      sameAsSpark(p)
      assert(Readers.parquet(spark, p).schema.map(_.dataType.typeName) == Seq("long", "binary"))
      withConf("spark.sql.parquet.binaryAsString", "true") {
        sameAsSpark(p)
        assert(Readers.parquet(spark, p).schema("b").dataType.typeName == "string")
        assert(Readers.parquet(spark, p).as[(Long, String)].collect().toSeq ==
          Seq((1700000000123456789L, "hi")))
      }
    }
  }

  test("stored LM artifacts, stamps and cutoffs read with Spark's schema and no job") {
    val docs = Seq((1L, "a b c a b d", "en"), (2L, "b c d a", "de"), (3L, "c a b", "en"))
      .toDF("id", "text", "lang")
    val dir = Files.createTempDirectory("graft-art")
    for (order <- Seq(2, 3, 5); keyCol <- Seq(None, Some("lang"))) {
      val p = dir.resolve(s"m$order${keyCol.fold("")(_ => "k")}").toString
      val m = Ranking.refLmTrain(docs, "text", lit(true), order, keyCol)
      Ranking.writeRefLm(m, p)
      val tables = new java.io.File(p).list().toSeq.filterNot(_.startsWith("."))
      // counts, contexts and totals, plus from order 3 the model's KN
      // tables: 4 at order 3, 8 at order 5
      assert(tables.size == order + (if (order == 2) 2 else 3) + (if (order == 2) 0 else 2 * order - 2))
      for (t <- tables) sameAsSpark(s"$p/$t")
      assert(JobCount.inGroup(spark, "parquet-footer-read")(
        tables.foreach(t => Readers.parquet(spark, s"$p/$t").schema)) == 0)
      val cuts = s"$p-cutoffs"
      Ranking.writeRefLmCutoffs(Ranking.refLmCutoffs(
        Ranking.refLmScore(docs, "id", "text", m, keyCol = keyCol), keyCol), cuts)
      sameAsSpark(cuts)
    }
    val stamp = dir.resolve("stamp").toString
    SnapshotStamp.write(docs, "id", stamp)
    sameAsSpark(stamp)
    assert(JobCount.inGroup(spark, "parquet-footer-read")(Readers.parquet(spark, stamp).schema) == 0)
  }

  private def errorClass(read: => DataFrame): String =
    intercept[AnalysisException](read.schema).getCondition

  test("mergeSchema, a partitioned directory and a missing schema fall back to Spark's read") {
    val dir = Files.createTempDirectory("graft-fallback")
    // two files of different columns in one directory
    val a = dir.resolve("a").toString
    val b = dir.resolve("b").toString
    Seq((1, "x")).toDF("id", "x").coalesce(1).write.parquet(a)
    Seq((2, 2.5)).toDF("id", "y").coalesce(1).write.parquet(b)
    val mixed = Files.createDirectory(dir.resolve("mixed"))
    for ((d, n) <- Seq(a -> "part-0.parquet", b -> "part-1.parquet")) {
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(f.toPath, mixed.resolve(n))
    }
    sameAsSpark(mixed.toString)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      sameAsSpark(mixed.toString)
      assert(Readers.parquet(spark, mixed.toString).columns.toSeq == Seq("id", "x", "y"))
    }
    val parts = dir.resolve("parts").toString
    Seq((1, "en"), (2, "de")).toDF("id", "lang").write.partitionBy("lang").parquet(parts)
    sameAsSpark(parts)
    assert(Readers.parquet(spark, parts).orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "en"), (2, "de")))
    val empty = Files.createDirectory(dir.resolve("empty")).toString
    assert(errorClass(Readers.parquet(spark, empty)) == errorClass(spark.read.parquet(empty)))
    val absent = dir.resolve("absent").toString
    assert(errorClass(Readers.parquet(spark, absent)) == errorClass(spark.read.parquet(absent)))
    val glob = s"$a*"
    sameAsSpark(glob)
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("parquetRows reads every row on the driver as Spark's collect does, with no job") {
    val dir = Files.createTempDirectory("graft-rows")
    val p = dir.resolve("multi").toString
    (1 to 6).map(i => (Option.when(i % 3 != 0)(i * 1000000007L), Option.when(i % 2 == 0)(i / 3.0),
      Option.when(i != 4)(s"s$i"), i))
      .toDF("l", "d", "s", "i")
      .withColumn("dec", (lit("123456789012345678901234567").cast("decimal(38,0)") * col("i"))
        .cast("decimal(38,0)"))
      .withColumn("dec_s", col("dec").cast("string")).drop("i")
      .withColumn("dec", when(col("l").isNotNull, col("dec")))
      .repartition(3).write.parquet(p)
    assert(new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet")) > 1)
    var got = Seq.empty[Row]
    assert(JobCount.inGroup(spark, "parquet-rows") { got = Readers.parquetRows(spark, p) } == 0)
    val expect = spark.read.parquet(p).collect().toSeq
    assert(got.size == 6 && sorted(got) == sorted(expect))
    assert(got.forall(_.schema == expect.head.schema))
    assert(got.exists(r => r.isNullAt(0) && r.isNullAt(1)) && got.exists(_.isNullAt(2)))
    val empty = dir.resolve("empty").toString
    Seq.empty[(Long, String)].toDF("l", "s").write.parquet(empty)
    assert(JobCount.inGroup(spark, "parquet-rows") { got = Readers.parquetRows(spark, empty) } == 0)
    assert(got.isEmpty)
  }

  test("parquetRows of a glob falls back to Spark's read and returns the same rows") {
    val p = Files.createTempDirectory("graft-rows-glob").resolve("t").toString
    Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "s").repartition(2).write.parquet(p)
    val glob = s"$p/*.parquet"
    var got = Seq.empty[Row]
    assert(JobCount.inGroup(spark, "parquet-rows-glob") { got = Readers.parquetRows(spark, glob) } > 0)
    assert(sorted(got) == sorted(spark.read.parquet(p).collect().toSeq))
    assert(sorted(got) == sorted(Readers.parquetRows(spark, p)))
  }
}
