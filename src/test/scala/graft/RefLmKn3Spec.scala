package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Round-16 extension: interpolated Kneser-Ney smoothing at order 3
  * (q198) — CCNet's actual smoothing family, derived ENTIRELY from the
  * order-3 count tables (stored with them: StoredKnTablesSpec).
  * Hand computations mirror the engine's arithmetic exactly: the
  * continuation counts as integers, the KN chain as one IEEE double
  * expression with the same parenthesization, ln rounded to 9 decimals
  * per distinct triple, exact decimal doc sums, one final double
  * division rounded to 6.
  */
class RefLmKn3Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // reference: "a b a b a" + "b c" (RefLm3Spec's corpus)
  //   uni a->3 b->3 c->1 (V=3); big (a,b)->2 (b,a)->2 (b,c)->1 (B=3)
  //   tri (a,b,a)->2 (b,a,b)->1; C3 (a,b)->2 (b,a)->1
  // derived continuation tables:
  //   T3: (a,b)->1, (b,a)->1
  //   c' (w2,w3 <- distinct w1 in tri): (b,a)->1, (a,b)->1
  //   C2: a->1, b->1;  T2: a->1, b->1
  //   N1+(.w3) (distinct w1 per bigram right side): a->1, b->1, c->1
  //   B+V = 6
  private def docs = Seq(
    (1L, "a b a b a", true),
    (2L, "b c", true),
    (3L, "a b a b", false), // both triples seen in the reference
    (4L, "a b x", false),   // seen context, unseen continuation
    (5L, "x y", false),     // < 3 tokens — not scored
    (6L, "x y z", false)    // fully unseen context — bottoms out at Pc
  ).toDF("id", "text", "is_ref")

  /** The engine's KN chain verbatim (D = 3/4, B+V = 6 here). */
  private def kn(ct: Double, c3: Long, t3: Double,
      cc: Double, c2: Long, t2: Double, cu: Double): BigDecimal = {
    val d = 0.75
    val pc = (cu + 1.0) / 6.0
    val p2 = if (c2 > 0) (math.max(cc - d, 0.0) + d * t2 * pc) / c2 else pc
    val p3 = if (c3 > 0) (math.max(ct - d, 0.0) + d * t3 * p2) / c3 else p2
    BigDecimal(math.log(p3)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
  }

  private def mean6(lps: Seq[BigDecimal]): Double =
    BigDecimal(lps.sum.toDouble / lps.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("KN scores are the hand-computed discount chain; unseen stays finite") {
    val m = Ranking.refLmTrain(docs, "text", col("is_ref"), 3)
    val got = Ranking.refLmKnScore(
        docs.filter(!col("is_ref")), "id", "text", m, 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // doc 3 "a b a b":
    //  (a,b,a): P3 = (max(2-D,0) + D*1*P2(a|b)) / 2,
    //           P2(a|b) = (max(1-D,0) + D*1*(2/6)) / 1 = 0.5
    //  (b,a,b): P3 = (max(1-D,0) + D*1*P2(b|a)) / 1,
    //           P2(b|a) = (max(1-D,0) + D*1*(2/6)) / 1 = 0.5
    val lp3 = mean6(Seq(
      kn(ct = 2, c3 = 2, t3 = 1, cc = 1, c2 = 1, t2 = 1, cu = 1),
      kn(ct = 1, c3 = 1, t3 = 1, cc = 1, c2 = 1, t2 = 1, cu = 1)))
    // doc 4 "a b x": seen context (a,b), unseen continuation x —
    // the discount mass routes through P2(x|b) -> Pc(x) = 1/6
    val lp4 = mean6(Seq(
      kn(ct = 0, c3 = 2, t3 = 1, cc = 0, c2 = 1, t2 = 1, cu = 0)))
    // doc 6 "x y z": nothing seen at any order -> Pc(z) = 1/6 exactly
    val lp6 = mean6(Seq(
      kn(ct = 0, c3 = 0, t3 = 0, cc = 0, c2 = 0, t2 = 0, cu = 0)))
    assert(got == Map(3L -> ((2L, lp3)), 4L -> ((1L, lp4)), 6L -> ((1L, lp6))))
    assert(!got.contains(5L), "a 2-token doc has no trigram and no score")
    // sanity: the fully-backed-off doc scores ln(1/6)
    assert(got(6L)._2 ==
      BigDecimal(math.log(1.0 / 6)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("discount sanity: seen mass above unseen, probabilities in (0, 1]") {
    val m = Ranking.refLmTrain(docs, "text", col("is_ref"), 3)
    val scored = Ranking.refLmKnScore(
        docs.filter(!col("is_ref")), "id", "text", m, 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // every mean logprob is finite and <= 0 (probabilities <= 1)
    assert(scored.values.forall(v => !v.isNaN && !v.isInfinite && v <= 0.0))
    // the fully-seen doc outscores both unseen variants. Note the KN
    // subtlety: the SEEN-context doc 4 scores BELOW the fully-unseen
    // doc 6 — a predictive context concentrates mass on its observed
    // continuations (the discount mass splits by C3), so an unseen
    // continuation there is MORE surprising than bottoming out at the
    // raw continuation-unigram. That asymmetry is the point of KN.
    assert(scored(3L) > scored(4L) && scored(3L) > scored(6L), scored.toString)
    assert(scored(4L) < scored(6L), scored.toString)
  }

  test("keyed KN partitions exactly: each key's scores equal unkeyed KN on that key's slice") {
    // two languages whose reference corpora differ; the keyed scorer
    // must reproduce, per key, EXACTLY what the unkeyed scorer computes
    // on that key's slice alone (keyed derivation tables partition the
    // unkeyed ones — including the per-key B and V denominators)
    val keyed = Seq(
      (1L, "a b a b a", "L1", true), (2L, "b c", "L1", true),
      (3L, "b a b a b", "L2", true), (4L, "c a c", "L2", true),
      (10L, "a b a b", "L1", false), (11L, "a b x", "L1", false),
      (12L, "a b a b", "L2", false), (13L, "x y z", "L2", false)
    ).toDF("id", "text", "lang", "is_ref")
    val km = Ranking.refLmTrain(keyed, "text", col("is_ref"), 3, Some("lang"))
    val got = Ranking.refLmKnScore(
        keyed.filter(!col("is_ref")), "id", "text", km, 3, keyCol = Some("lang"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val expect = Seq("L1", "L2").flatMap { lang =>
      val slice = keyed.filter(col("lang") === lang)
      val m = Ranking.refLmTrain(slice, "text", col("is_ref"), 3)
      Ranking.refLmKnScore(slice.filter(!col("is_ref")), "id", "text", m, 3)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((lang, r._2, r._3)))
    }.toMap
    assert(got == expect)
    // same pool text under different language models scores differently
    assert(got(10L)._3 != got(12L)._3)
  }

  test("KN from a merged stored model is bit-identical to KN after a retrain") {
    val dir = Files.createTempDirectory("reflmkn3-merge").toString
    val p = s"$dir/model"
    // stored model trained on doc 1 only, then doc 2 merges in
    Ranking.writeRefLm(
      Ranking.refLmTrain(docs, "text",
        col("is_ref") && col("id") === 1L, 3), p)
    assert(Ranking.mergeIntoStoredRefLm(spark, p,
      docs.filter(col("id") === 2L), "text", batchId = Some(7L)))
    val pool = docs.filter(!col("is_ref"))
    val viaMerge = Ranking.refLmKnScore(
        pool, "id", "text", Ranking.readRefLm(spark, p), 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val viaRetrain = Ranking.refLmKnScore(
        pool, "id", "text",
        Ranking.refLmTrain(docs, "text", col("is_ref"), 3), 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(viaMerge == viaRetrain)
    // replay of the same batch id is a no-op and scores are unchanged
    assert(!Ranking.mergeIntoStoredRefLm(spark, p,
      docs.filter(col("id") === 2L), "text", batchId = Some(7L)))
    val replayed = Ranking.refLmKnScore(
        pool, "id", "text", Ranking.readRefLm(spark, p), 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(replayed == viaMerge)
  }
}
