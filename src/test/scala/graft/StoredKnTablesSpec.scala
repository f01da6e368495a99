package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** A model's Kneser-Ney tables (order 3: `t3`, `cbig`, `c2`, `cu`;
  * order 5: its eight, at the model's `minCount`) are stored with its
  * counts: the stored deploys score exactly as an inline-trained model
  * over the same counts, a merge re-derives the tables, and an artifact
  * without them (or with totals written before they carried
  * `n_bigram_types`) still scores the same.
  */
class StoredKnTablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val knNames = Seq("t3", "cbig", "c2", "cu")

  /** `n` generated documents with the `documents` columns the LM
    * queries read. */
  private def corpus(n: Int): DataFrame = {
    val rng = new scala.util.Random(10)
    val vocab = Vector("the", "a", "spark", "data", "model", "query", "join", "row", "lm")
    val langs = Vector("en", "de", "fr")
    (1L to n.toLong).map { i =>
      val text = Seq.fill(1 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      (i, text, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(4)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def kn3(m: Ranking.RefLmModel, key: Option[String]): Set[Row] =
    Ranking.refLmKnScore(corpus(120), "doc_id", "text", m, 3, keyCol = key).collect().toSet

  private def tableSet(df: DataFrame, like: DataFrame) =
    df.select(like.columns.map(col): _*).collect().toSet

  test("q198 and q200 off the stored artifact equal an inline-trained KN3 pass") {
    val dir = tmp("graft-kn-tables-q")
    corpus(200).coalesce(1).write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plain = Ranking.refLmTrain(docs, "text", col("lang") === "en", 3)
    val keyed = Ranking.refLmTrain(docs, "text", col("source").isin("src0", "src1"), 3, Some("lang"))
    assert(SparkEntry.queries("q198_kn3_buckets")(spark, dir).collect().toSeq ==
      Ranking.refLmPerplexityBuckets(Ranking.refLmKnScore(docs, "doc_id", "text", plain, 3))
        .collect().toSeq)
    assert(SparkEntry.queries("q200_kn3_by_lang")(spark, dir).collect().toSeq ==
      Ranking.refLmPerplexityBuckets(Ranking.refLmKnScore(docs, "doc_id", "text", keyed, 3,
        keyCol = Some("lang")), Some("lang")).collect().toSeq)
  }

  test("an artifact without its KN tables or its bigram-type count scores the same") {
    for (key <- Seq(None, Some("lang"))) {
      val p = s"${tmp("graft-kn-tables-bare")}/model"
      val m = Ranking.refLmTrain(corpus(120), "text", col("doc_id") <= 80, 3, key)
      Ranking.writeRefLm(m, p)
      val stored = Ranking.readRefLm(spark, p)
      assert(stored.knTables.size == 4, key)
      val expect = kn3(m, key)
      assert(kn3(stored, key) == expect, key)
      knNames.foreach(t => FileUtils.deleteDirectory(new File(s"$p/$t")))
      val bare = Ranking.readRefLm(spark, p)
      assert(bare.knTables.isEmpty && kn3(bare, key) == expect, key)
      // totals as written before they carried n_bigram_types
      val old = spark.read.parquet(s"$p/totals").drop("n_bigram_types")
      spark.createDataFrame(old.collect().toSeq.asJava, old.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$p/totals")
      val legacy = Ranking.readRefLm(spark, p)
      assert(legacy.totals.collect().toSet == stored.totals.collect().toSet, key)
      assert(kn3(legacy, key) == expect, key)
    }
  }

  test("after a merge the stored KN tables are kn3Tables of the merged counts") {
    val docs = corpus(160)
    for (key <- Seq(None, Some("lang"))) {
      val p = s"${tmp("graft-kn-tables-merge")}/model"
      Ranking.writeRefLm(Ranking.refLmTrain(docs, "text", col("doc_id") % 2 === 0, 3, key), p)
      assert(Ranking.mergeIntoStoredRefLm(spark, p, docs.filter(col("doc_id") % 2 === 1),
        "text", keyCol = key))
      val merged = Ranking.readRefLm(spark, p)
      val retrain = Ranking.refLmTrain(docs, "text", lit(true), 3, key)
      val derived = Ranking.knTables(merged.counts, key.map(_ => "__k").toSeq, 3, 1)
      assert(merged.knTables.size == 4)
      for (((s, d), r) <- merged.knTables.zip(derived).zip(retrain.knTables)) {
        assert(s.columns.toSeq == d.columns.toSeq)
        assert(tableSet(s, d) == tableSet(d, d), (key, s.columns.toSeq))
        assert(tableSet(r, d) == tableSet(d, d), (key, s.columns.toSeq))
      }
      assert(kn3(merged, key) == kn3(retrain, key), key)
    }
  }

  private def kn5(m: Ranking.RefLmModel, key: Option[String]): Set[Row] =
    Ranking.refLmKnScore(corpus(120), "doc_id", "text", m, 5, keyCol = key).collect().toSet

  test("an order-5 model stored at minCount 2 scores as the inline-trained one, also without its KN tables") {
    for (key <- Seq(None, Some("lang"))) {
      val p = s"${tmp("graft-kn5-tables")}/model"
      val m = Ranking.refLmTrain(corpus(160), "text", col("doc_id") <= 120, 5, key, minCount = 2)
      Ranking.writeRefLm(m, p)
      val stored = Ranking.readRefLm(spark, p)
      assert(stored.minCount == 2 && stored.knTables.size == 8, key)
      val expect = kn5(m, key)
      // pruning shows: the same counts at minCount 1 score otherwise
      assert(expect != kn5(Ranking.refLmTrain(corpus(160), "text", col("doc_id") <= 120, 5, key), key))
      assert(kn5(stored, key) == expect, key)
      Seq("t5", "cc4", "c4", "cc3", "c3", "cbig", "c2", "cu")
        .foreach(t => FileUtils.deleteDirectory(new File(s"$p/$t")))
      val bare = Ranking.readRefLm(spark, p)
      assert(bare.knTables.isEmpty && bare.minCount == 2, key)
      assert(kn5(bare, key) == expect, key)
    }
  }

  test("after a merge an order-5 model's stored KN tables are knTables of a retrain at minCount 2") {
    val docs = corpus(160)
    for (key <- Seq(None, Some("lang"))) {
      val p = s"${tmp("graft-kn5-tables-merge")}/model"
      Ranking.writeRefLm(Ranking.refLmTrain(docs, "text", col("doc_id") % 2 === 0, 5, key,
        minCount = 2), p)
      assert(Ranking.mergeIntoStoredRefLm(spark, p, docs.filter(col("doc_id") % 2 === 1),
        "text", keyCol = key))
      val merged = Ranking.readRefLm(spark, p)
      val retrain = Ranking.refLmTrain(docs, "text", lit(true), 5, key, minCount = 2)
      val derived = Ranking.knTables(retrain.counts, key.map(_ => "__k").toSeq, 5, 2)
      assert(merged.minCount == 2 && merged.knTables.size == 8, key)
      for ((s, d) <- merged.knTables.zip(derived)) {
        assert(s.columns.toSeq == d.columns.toSeq)
        assert(tableSet(s, d) == tableSet(d, d), (key, s.columns.toSeq))
      }
      assert(kn5(merged, key) == kn5(retrain, key), key)
    }
  }
}
