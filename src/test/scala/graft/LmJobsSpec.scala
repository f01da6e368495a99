package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking
import graft.streaming.StreamingPerplexity

/** Job budgets of the stored-LM path, counted under a job group: whole
  * q198 and q200 passes over a small generated corpus, one streaming
  * gate micro-batch, and the read of a stored cutoff artifact that
  * every gate start pays. Plus the freshness contract of the stored
  * deploys: a fresh pass runs no stamp job of its own, and a corpus
  * that changed after stamping fails before any result.
  */
class LmJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `n` generated documents with the `documents` columns the LM
    * queries read. */
  private def corpus(n: Int): DataFrame = {
    val rng = new scala.util.Random(198)
    val vocab = Vector("the", "a", "spark", "data", "model", "query",
      "join", "table", "row", "key", "lm", "score")
    val langs = Vector("en", "de", "fr")
    (1L to n.toLong).map { i =>
      val text = Seq.fill(2 + rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      (i, text, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(4)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def writeCorpus(dir: String, n: Int): Unit =
    corpus(n).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def newCorpusDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    writeCorpus(dir, 300)
    dir
  }

  private lazy val corpusDir: String = newCorpusDir("graft-lm-jobs")

  /** The job call sites of a second pass of `query` (the first builds
    * its stored artifacts and stamp), after checking both passes agree. */
  private def warmPassSites(query: String, dir: String): (Seq[Row], Seq[String]) = {
    val q = SparkEntry.queries(query)
    val expect = q(spark, dir).collect().toSeq
    var got = Seq.empty[Row]
    val sites = JobCount.sitesInGroup(spark, s"lm-jobs-$query") { got = q(spark, dir).collect().toSeq }
    assert(got == expect)
    (expect, sites)
  }

  test("one q198 pass off its stored artifact runs at most 11 Spark jobs") {
    val (rows, sites) = warmPassSites("q198_kn3_buckets", corpusDir)
    assert(rows.map(_.getString(0)) == Seq("head", "middle", "tail"))
    assert(sites.size <= 11, s"a q198 pass ran ${sites.size} jobs: ${sites.mkString("; ")}")
  }

  test("one keyed q200 pass off its stored artifact runs at most 11 Spark jobs") {
    val (rows, sites) = warmPassSites("q200_kn3_by_lang", corpusDir)
    assert(rows.map(_.getString(0)).distinct == Seq("de", "en", "fr"))
    assert(sites.size <= 11, s"a q200 pass ran ${sites.size} jobs: ${sites.mkString("; ")}")
  }

  test("one KN3 gate micro-batch runs at most 12 Spark jobs") {
    val dir = Files.createTempDirectory("graft-lm-gate-jobs").toString
    val docs = corpus(300)
    val m = Ranking.refLmTrain(docs, "text", col("doc_id") <= 200, 3)
    Ranking.writeRefLm(m, s"$dir/model")
    Ranking.writeRefLmCutoffs(Ranking.refLmCutoffs(
      Ranking.refLmKn3Score(docs, "doc_id", "text", m)), s"$dir/cutoffs")
    val batch = docs.filter(col("doc_id") > 200).select("doc_id", "text")
    def gate(id: Long) = StreamingPerplexity.gateBatch(batch, "doc_id",
      (b, m) => Ranking.refLmKn3Score(b, "doc_id", "text", m),
      s"$dir/model", s"$dir/cutoffs", s"$dir/decisions", id)
    gate(0L)
    val sites = JobCount.sitesInGroup(spark, "lm-jobs-gate")(gate(1L))
    val decided = spark.read.parquet(s"$dir/decisions")
    assert(decided.filter(col("batch_id") === 1L).count() == 100)
    assert(sites.size <= 12, s"a gate micro-batch ran ${sites.size} jobs: ${sites.mkString("; ")}")
  }

  /** Every query served by `SparkEntry.serveStoredLm`. */
  private val servedLmQueries = Seq("q183_stored_reflm", "q189_stored_reflm_by_lang",
    "q192_stored_reflm3", "q196_stored_reflm3_by_lang", "q198_kn3_buckets",
    "q200_kn3_by_lang", "q201_stored_kn3_gate", "q202_kn5_buckets", "q203_kn5_by_lang",
    "q205_stored_kn5_gate")

  test("a fresh stored deploy runs no stamp job; a changed corpus fails naming both stamps") {
    val dir = newCorpusDir("graft-lm-stale")
    for (q <- servedLmQueries) {
      // the stored stamp is read on the driver: no job at SnapshotStamp.scala
      val stampJobs = warmPassSites(q, dir)._2.filter(_.contains("SnapshotStamp.scala"))
      assert(stampJobs.isEmpty, s"$q ran stamp jobs: ${stampJobs.mkString("; ")}")
    }
    writeCorpus(dir, 301)
    for (q <- servedLmQueries) {
      val e = intercept[IllegalArgumentException](SparkEntry.queries(q)(spark, dir).collect())
      assert(e.getMessage.contains("stale artifact stamp"), q)
      assert(e.getMessage.contains("(300,") && e.getMessage.contains("(301,"), e.getMessage)
    }
  }

  test("reading a stored cutoff artifact runs no Spark job") {
    val p = Files.createTempDirectory("graft-cutoff-jobs").resolve("cutoffs").toString
    Seq(("en", -3.0, -4.0), ("de", -2.5, -3.5)).toDF("lang", "v_head", "v_mid")
      .coalesce(1).write.parquet(p)
    var n = 0
    val jobs = JobCount.inGroup(spark, "lm-jobs-cutoffs") {
      n = Ranking.readRefLmCutoffs(spark, p, Some("lang")).columns.length
    }
    assert(n == 3)
    assert(jobs == 0, s"the read ran $jobs jobs")
  }
}
