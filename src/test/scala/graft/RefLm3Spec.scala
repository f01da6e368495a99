package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Round-15 extension: order-3 reference LM — trigram counts over the
  * trusted slice, scored with the Jelinek-Mercer backoff chain
  * trigram→bigram→unigram (q191/q192). The hand computations mirror
  * the engine's arithmetic exactly: the λ-mixture as one IEEE double
  * expression, ln rounded to 9 decimals per distinct triple, exact
  * decimal doc sums, one final double division rounded to 6.
  */
class RefLm3Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // reference: "a b a b a" + "b c" — order-2 counts as RefLmSpec
  // (uni a->3 b->3 c->1, N=7 V=3; big (a,b)->2 (b,a)->2 (b,c)->1,
  // ctx a->2 b->3); order-3: tri (a,b,a)->2 (b,a,b)->1, tctx
  // (a,b)->2 (b,a)->1 — note tctx(b,?) ≠ bigram count (the final
  // "b a"/"b c" bigrams have no continuation)
  private def refPoolDocs = Seq(
    (1L, "a b a b a", true),
    (2L, "b c", true),
    (3L, "a b a b", false), // pool: both triples seen in the reference
    (4L, "a b x", false),   // pool: one triple, fully-backed-off tail
    (5L, "x y", false)      // pool: < 3 tokens — not scored
  ).toDF("id", "text", "is_ref")

  // the engine's mixture: 0.5·tri + 0.5·(0.7·big + 0.3·uni-add1)
  private def logp9(tri: Double, big: Double, uniAdd1: Double): BigDecimal = {
    val mix = 0.5 * tri + 0.5 * (0.7 * big + 0.3 * uniAdd1)
    BigDecimal(math.log(mix)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
  }

  private def mean6(lps: Seq[BigDecimal]): Double =
    BigDecimal(lps.sum.toDouble / lps.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("trigram counts and contexts are the exact reference statistics") {
    val m = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"), 3)
    assert(m.trigrams.as[(String, String, String, Long)].collect().toSet ==
      Set(("a", "b", "a", 2L), ("b", "a", "b", 1L)))
    assert(m.triContexts.as[(String, String, Long)].collect().toSet ==
      Set(("a", "b", 2L), ("b", "a", 1L)))
    // the base model rides along unchanged
    assert(m.totals.as[(Long, Long, Long)].collect().toSeq == Seq((7L, 3L, 3L)))
  }

  test("scores are the hand-computed backoff chain; short docs unscored") {
    val m = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"), 3)
    val got = Ranking.refLm3Score(
        refPoolDocs.filter(!col("is_ref")), "id", "text", m)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // doc 3 "a b a b": (a,b,a) tri=2/2, big(b,a)=2/3, uni(a)=(3+1)/10
    //                  (b,a,b) tri=1/1, big(a,b)=2/2, uni(b)=(3+1)/10
    val lp3 = mean6(Seq(
      logp9(1.0, 2.0 / 3, 4.0 / 10),
      logp9(1.0, 1.0, 4.0 / 10)))
    // doc 4 "a b x": (a,b,x) tri=0 (ctx3=2), big(b,x)=0 (ctx=3),
    //                uni(x)=(0+1)/10 — fully backed off, still finite
    val lp4 = mean6(Seq(logp9(0.0, 0.0, 1.0 / 10)))
    assert(got == Map(3L -> ((2L, lp3)), 4L -> ((1L, lp4))))
    assert(!got.contains(5L), "a 2-token doc has no trigram and no score")
  }

  test("order-3 merge is bit-identical to a from-scratch retrain; replay-guarded") {
    val dir = Files.createTempDirectory("reflm3-merge").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text",
        col("is_ref") && col("id") === 1L, 3), p)
    assert(Ranking.mergeIntoStoredRefLm(spark, p,
      refPoolDocs.filter(col("id") === 2L), "text",
      batchId = Some(3L)))
    val merged = Ranking.readRefLm(spark, p)
    val full = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"), 3)
    assert(merged.trigrams.as[(String, String, String, Long)].collect().toSet ==
      full.trigrams.as[(String, String, String, Long)].collect().toSet)
    assert(merged.triContexts.as[(String, String, Long)].collect().toSet ==
      full.triContexts.as[(String, String, Long)].collect().toSet)
    assert(merged.unigrams.as[(String, Long)].collect().toSet ==
      full.unigrams.as[(String, Long)].collect().toSet)
    assert(merged.totals.as[(Long, Long, Long)].collect().toSeq ==
      full.totals.as[(Long, Long, Long)].collect().toSeq)
    // scoring under merged vs retrained is identical
    val pool = refPoolDocs.filter(!col("is_ref"))
    assert(Ranking.refLm3Score(pool, "id", "text", merged)
        .as[(Long, Long, Double)].collect().toSet ==
      Ranking.refLm3Score(pool, "id", "text", full)
        .as[(Long, Long, Double)].collect().toSet)
    // a replayed batch id is a no-op at order 3 too
    assert(!Ranking.mergeIntoStoredRefLm(spark, p,
      refPoolDocs.filter(col("id") === 2L), "text",
      batchId = Some(3L)))
    assert(Ranking.readRefLm(spark, p)
        .trigrams.as[(String, String, String, Long)].collect().toSet ==
      full.trigrams.as[(String, String, String, Long)].collect().toSet)
    // staging/old siblings are gone after the swaps
    assert(new java.io.File(dir).list().toSet == Set("model"))
  }

  test("stored round-trip: the deploy path reproduces inline buckets bit-for-bit") {
    val dir = Files.createTempDirectory("reflm3-store").toString
    val p = s"$dir/model"
    val m = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"), 3)
    Ranking.writeRefLm(m, p)
    val pool = refPoolDocs.filter(!col("is_ref"))
    val inline = Ranking.refLmPerplexityBuckets(
      Ranking.refLm3Score(pool, "id", "text", m))
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    val stored = Ranking.refLmPerplexityBuckets(
      Ranking.refLm3Score(pool, "id", "text", Ranking.readRefLm(spark, p)))
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(inline == stored)
  }

  // two languages sharing surface tokens — keyed isolation is only
  // real if L2's counts never leak into L1's chain
  private def keyedDocs = Seq(
    (1L, "a b a b a", "L1", true),
    (2L, "b c", "L1", true),
    (10L, "a b a b a b", "L2", true), // same tokens, different stats
    (3L, "a b a b", "L1", false),
    (13L, "a b a b", "L2", false),    // same text as doc 3, other model
    (9L, "a b c", "L9", false)        // no L9 reference -> unscored
  ).toDF("id", "text", "lang", "is_ref")

  test("keyed order-3: each doc scores under ITS language's chain, equal to the per-slice unkeyed model") {
    val km = Ranking.refLmTrain(keyedDocs, "text",
      col("is_ref"), 3, Some("lang"))
    val got = Ranking.refLm3Score(keyedDocs.filter(!col("is_ref")),
        "id", "text", km, keyCol = Some("lang"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // unmodeled language: absent, never scored against nothing
    assert(got.keySet == Set(3L, 13L))
    // per-key equivalence: the keyed one-pass result for language K is
    // bit-identical to the unkeyed engine trained on K's slice alone
    Seq("L1", "L2").foreach { k =>
      val slice = Ranking.refLmTrain(keyedDocs.filter(col("lang") === k),
        "text", col("is_ref"), 3)
      val solo = Ranking.refLm3Score(
          keyedDocs.filter(!col("is_ref") && col("lang") === k),
          "id", "text", slice)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((k, r._2, r._3))).toMap
      solo.foreach { case (id, v) => assert(got(id) == v, s"doc $id ($k)") }
    }
    // the shared surface text scores DIFFERENTLY under the two models
    assert(got(3L)._3 != got(13L)._3,
      "L1 and L2 trained on different stats must disagree on the same text")
    // keyed stored round-trip serves the same scores
    val dir = Files.createTempDirectory("reflm3-keyed").toString
    Ranking.writeRefLm(km, s"$dir/model")
    val back = Ranking.refLm3Score(keyedDocs.filter(!col("is_ref")),
        "id", "text", Ranking.readRefLm(spark, s"$dir/model"), keyCol = Some("lang"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(back == got)
  }
}
