package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Job budgets of the stored-LM path, counted under a job group: a
  * whole q198 pass over a small generated corpus, and the read of a
  * stored cutoff artifact that every gate start pays.
  */
class LmJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 300 generated documents with the `documents` columns the LM
    * queries read. */
  private lazy val corpusDir: String = {
    val rng = new scala.util.Random(198)
    val vocab = Vector("the", "a", "spark", "data", "model", "query",
      "join", "table", "row", "key", "lm", "score")
    val langs = Vector("en", "de", "fr")
    val dir = Files.createTempDirectory("graft-lm-jobs").toString
    (1L to 300L).map { i =>
      val text = Seq.fill(2 + rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      (i, text, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(4)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("one q198 pass off its stored artifact runs at most 30 Spark jobs") {
    val q198 = SparkEntry.queries("q198_kn3_buckets")
    // the first pass builds the stored order-3 artifact and its stamp
    val expect = q198(spark, corpusDir).collect().toSeq
    var got = Seq.empty[Row]
    val jobs = JobCount.inGroup(spark, "lm-jobs-q198") { got = q198(spark, corpusDir).collect().toSeq }
    assert(got == expect)
    assert(expect.map(_.getString(0)) == Seq("head", "middle", "tail"))
    assert(jobs <= 30, s"a q198 pass ran $jobs jobs")
  }

  test("reading a stored cutoff artifact runs exactly one Spark job") {
    val p = Files.createTempDirectory("graft-cutoff-jobs").resolve("cutoffs").toString
    Seq(("en", -3.0, -4.0), ("de", -2.5, -3.5)).toDF("lang", "v_head", "v_mid")
      .coalesce(1).write.parquet(p)
    var n = 0
    val jobs = JobCount.inGroup(spark, "lm-jobs-cutoffs") {
      n = Ranking.readRefLmCutoffs(spark, p, Some("lang")).columns.length
    }
    assert(n == 3)
    assert(jobs == 1, s"the read ran $jobs jobs")
  }
}
