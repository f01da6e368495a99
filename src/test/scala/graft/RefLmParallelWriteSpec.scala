package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Round-16: the 8/8 concurrency experiment promoted into a spec.
  *
  * Round 15 root-caused a silent-corruption landmine: concurrent
  * writes of model tables sharing expression-tree instances (the HOF
  * tokenize lambdas under every count table, over a LOCAL relation)
  * raced inside Catalyst's eager ConvertToLocalRelation fold
  * (~1 run in 3: impossible bigrams, redistributed unigram totals,
  * sums preserved). The writers were kept sequential; round 16 made
  * them parallel through Ranking.writeTablesParallel (per-thread plan
  * re-analysis + a cloned session with the rule excluded). This spec
  * replays the exact racy shape — fresh count frames derived from a
  * local relation, written six-tables-concurrent — and asserts
  * bit-exact counts across 8 iterations; a regression to unsafe
  * concurrency fails it with high probability, and any single
  * corruption fails it outright.
  */
class RefLmParallelWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // wide enough that a lambda race has room to scramble counts, small
  // enough to stay a LocalRelation (the racy plan shape)
  private def corpus = (0L until 60L).map { i =>
    (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 11} w${i % 7} w${(i + 1) % 11}")
  }.toDF("id", "text")

  test("8 concurrent six-table writes round-trip bit-exact counts") {
    // sequential ground truth, collected ONCE from a dedicated model
    val expected = {
      val m = Ranking.refLmTrain(corpus, "text", lit(true), 3)
      (m.unigrams.orderBy("term").collect().map(_.toSeq).toSeq,
        m.bigrams.orderBy("w1", "w2").collect().map(_.toSeq).toSeq,
        m.trigrams.orderBy("w1", "w2", "w3").collect().map(_.toSeq).toSeq,
        m.totals.collect().map(_.toSeq).toSeq)
    }
    (1 to 8).foreach { i =>
      val dir = Files.createTempDirectory(s"reflm-par-$i").toString
      // a FRESH model per iteration: fresh expression instances, so
      // each write round replays the full analyze-optimize-execute
      // path the race lived in
      val m = Ranking.refLmTrain(corpus, "text", lit(true), 3)
      Ranking.writeRefLm(m, s"$dir/model")
      val back = Ranking.readRefLm(spark, s"$dir/model")
      val got = (
        back.unigrams.orderBy("term").collect().map(_.toSeq).toSeq,
        back.bigrams.orderBy("w1", "w2").collect().map(_.toSeq).toSeq,
        back.trigrams.orderBy("w1", "w2", "w3").collect().map(_.toSeq).toSeq,
        back.totals.collect().map(_.toSeq).toSeq)
      assert(got == expected, s"concurrent write $i corrupted counts")
    }
  }

  test("the writer-session rule exclusion does not leak into the caller") {
    val dir = Files.createTempDirectory("reflm-par-conf").toString
    val before = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    Ranking.writeRefLm(
      Ranking.refLmTrain(corpus, "text", lit(true)), s"$dir/model")
    assert(spark.conf.getOption("spark.sql.optimizer.excludedRules") == before)
  }
}
