package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Round-17 extension: interpolated Kneser-Ney at ORDER 5 (q202) —
  * CCNet's production depth. Hand computations mirror the engine's
  * arithmetic exactly: raw counts at the top order, continuation
  * counts N1+ derived one order up at every lower level (Chen &
  * Goodman 1998), the chain as one IEEE double expression with the
  * engine's parenthesization, ln rounded to 9 per distinct 5-tuple,
  * exact decimal doc sums, one final 6-round. Count pruning is a
  * property of the model's KN tables (its counts stay unpruned and
  * additive).
  */
class RefLmKn5Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // reference: "a b c d e" + "a b c d f"
  //   uni a2 b2 c2 d2 e1 f1 (V=6); big ab bc cd de df (B=5) -> B+V=11
  //   tri abc:2 bcd:2 cde:1 cdf:1
  //   four abcd:2 bcde:1 bcdf:1;  five abcde:1 abcdf:1
  // derived (unpruned):
  //   c5x(abcd)=2 t5=2
  //   cc4: bcde:1 bcdf:1; c4x(bcd)=2 t4=2
  //   cc3 (last-3 of four): bcd:1 cde:1 cdf:1; c3x(cd)=2 t3(cd)=2
  //   cc2 (last-2 of tri): bc:1 cd:1 de:1 df:1; c2x(d)=2 t2(d)=2
  //   cu (right side of big): b:1 c:1 d:1 e:1 f:1
  private def docs = Seq(
    (1L, "a b c d e", true),
    (2L, "a b c d f", true),
    (10L, "a b c d e", false), // fully seen 5-gram
    (11L, "a b c d x", false), // seen context, unseen continuation
    (12L, "u v w x y", false), // fully unseen -> bottoms out at Pc
    (13L, "a b c d", false)    // < 5 tokens — not scored
  ).toDF("id", "text", "is_ref")

  /** The engine's KN5 chain verbatim (D = 3/4, B+V = 11 here). */
  private def kn5(c5: Double, c5x: Long, t5: Double,
      cc4: Double, c4x: Long, t4: Double,
      cc3: Double, c3x: Long, t3: Double,
      cc2: Double, c2x: Long, t2: Double, cu: Double): BigDecimal = {
    val d = 0.75
    val pc = (cu + 1.0) / 11.0
    val p2 = if (c2x > 0) (math.max(cc2 - d, 0.0) + d * t2 * pc) / c2x else pc
    val p3 = if (c3x > 0) (math.max(cc3 - d, 0.0) + d * t3 * p2) / c3x else p2
    val p4 = if (c4x > 0) (math.max(cc4 - d, 0.0) + d * t4 * p3) / c4x else p3
    val p5 = if (c5x > 0) (math.max(c5 - d, 0.0) + d * t5 * p4) / c5x else p4
    BigDecimal(math.log(p5)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
  }

  private def mean6(lps: Seq[BigDecimal]): Double =
    BigDecimal(lps.sum.toDouble / lps.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("KN5 scores are the hand-computed five-level discount chain") {
    val m = Ranking.refLmTrain(docs, "text", col("is_ref"), 5)
    val got = Ranking.refLmKnScore(
        docs.filter(!col("is_ref")), "id", "text", m, 5)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val lp10 = mean6(Seq(kn5(1, 2, 2, 1, 2, 2, 1, 2, 2, 1, 2, 2, 1)))
    val lp11 = mean6(Seq(kn5(0, 2, 2, 0, 2, 2, 0, 2, 2, 0, 2, 2, 0)))
    val lp12 = mean6(Seq(kn5(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)))
    assert(got == Map(10L -> ((1L, lp10)), 11L -> ((1L, lp11)),
      12L -> ((1L, lp12))))
    assert(!got.contains(13L), "a 4-token doc has no 5-gram and no score")
    // the fully-backed-off doc scores ln(1/11) exactly
    assert(got(12L)._2 == BigDecimal(math.log(1.0 / 11))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // KN asymmetry holds at order 5 too: the seen-context doc with an
    // unseen continuation is MORE surprising than full backoff
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 < got(12L)._2)
  }

  test("count pruning is a model property: singletons route through the backoff") {
    val m = Ranking.refLmTrain(docs, "text", col("is_ref"), 5)
    // minCount=2 drops BOTH 5-grams (each ct 1) and keeps only the
    // 4-gram abcd:2 — so for (a,b,c,d,e) every level above order 2
    // zeroes out (cc3 is keyed by the quint's (c,d,e), and the pruned
    // 4-gram table's only continuation key is (b,c,d))
    val pruned = Ranking.refLmTrain(docs, "text", col("is_ref"), 5, minCount = 2)
    val got = Ranking.refLmKnScore(
        docs.filter(!col("is_ref")), "id", "text", pruned, 5)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val lp10p = mean6(Seq(kn5(0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 2, 1)))
    assert(got(10L) == lp10p)
    // pruning must not disturb the untouched lower orders: the fully
    // unseen doc still bottoms out at the same Pc
    assert(got(12L) == BigDecimal(math.log(1.0 / 11))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the counts stay unpruned — the same counts at minCount 1 still
    // match the unpruned hand chain
    assert(pruned.counts.map(_.count()) == m.counts.map(_.count()))
    val unpruned = Ranking.refLmKnScore(
        docs.filter(col("id") === 10L), "id", "text", m, 5)
      .as[(Long, Long, Double)].collect()
    assert(unpruned.head._3 ==
      mean6(Seq(kn5(1, 2, 2, 1, 2, 2, 1, 2, 2, 1, 2, 2, 1))))
  }

  test("KN5 from a merged stored model is bit-identical to KN5 after a retrain") {
    val dir = Files.createTempDirectory("reflmkn5-merge").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(docs, "text",
        col("is_ref") && col("id") === 1L, 5), p)
    assert(Ranking.mergeIntoStoredRefLm(spark, p,
      docs.filter(col("id") === 2L), "text", batchId = Some(7L)))
    val pool = docs.filter(!col("is_ref"))
    val viaMerge = Ranking.refLmKnScore(
        pool, "id", "text", Ranking.readRefLm(spark, p), 5)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val viaRetrain = Ranking.refLmKnScore(
        pool, "id", "text",
        Ranking.refLmTrain(docs, "text", col("is_ref"), 5), 5)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(viaMerge == viaRetrain)
    // replay of the same batch id is a no-op across all eight tables
    assert(!Ranking.mergeIntoStoredRefLm(spark, p,
      docs.filter(col("id") === 2L), "text", batchId = Some(7L)))
    val replayed = Ranking.refLmKnScore(
        pool, "id", "text", Ranking.readRefLm(spark, p), 5)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(replayed == viaMerge)
  }

  test("keyed KN5 partitions exactly: each key's scores equal unkeyed KN5 on that key's slice") {
    // two languages with distinct reference corpora; keyed scoring —
    // including the per-key PRUNING views — must reproduce, per key,
    // exactly the unkeyed scorer on that key's slice alone
    val keyed = Seq(
      (1L, "a b c d e a b c d e", "L1", true),
      (2L, "a b c d f", "L1", true),
      (3L, "e d c b a e d c b a", "L2", true),
      (4L, "f d c b a", "L2", true),
      (10L, "a b c d e", "L1", false),
      (11L, "a b c d x", "L1", false),
      (12L, "e d c b a", "L2", false),
      (13L, "u v w x y", "L2", false)
    ).toDF("id", "text", "lang", "is_ref")
    for (minCount <- Seq(1L, 2L)) {
      val km = Ranking.refLmTrain(keyed, "text", col("is_ref"), 5, Some("lang"), minCount)
      val got = Ranking.refLmKnScore(
          keyed.filter(!col("is_ref")), "id", "text", km, 5, keyCol = Some("lang"))
        .as[(Long, String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expect = Seq("L1", "L2").flatMap { lang =>
        val slice = keyed.filter(col("lang") === lang)
        val m = Ranking.refLmTrain(slice, "text", col("is_ref"), 5, minCount = minCount)
        Ranking.refLmKnScore(slice.filter(!col("is_ref")), "id", "text", m, 5)
          .as[(Long, Long, Double)].collect()
          .map(r => r._1 -> ((lang, r._2, r._3)))
      }.toMap
      assert(got == expect, s"minCount=$minCount")
    }
  }

  test("an id column named like a model column scores like any other id") {
    // every scorer carries the id as `__id`, so an id named like a model
    // column (c5, w1) or a per-doc count alias (tfq, bf) scores unchanged,
    // keyed and unkeyed; the order-2/3 scorers read the order-5 model's
    // lower tables
    val m = Ranking.refLmTrain(docs, "text", col("is_ref"), 5)
    val km = Ranking.refLmTrain(docs.withColumn("lang", lit("L1")),
      "text", col("is_ref"), 5, Some("lang"))
    val pool = docs.filter(!col("is_ref"))
    type Scorer = (DataFrame, String, Ranking.RefLmModel, Option[String]) => DataFrame
    val scorers: Seq[(String, Scorer)] = Seq(
      "n_bigrams" -> ((df, id, mm, k) =>
        Ranking.refLmScore(df, id, "text", mm, keyCol = k)),
      "n_trigrams" -> ((df, id, mm, k) =>
        Ranking.refLm3Score(df, id, "text", mm, keyCol = k)),
      "n_trigrams" -> ((df, id, mm, k) =>
        Ranking.refLmKnScore(df, id, "text", mm, 3, keyCol = k)),
      "n_5grams" -> ((df, id, mm, k) =>
        Ranking.refLmKnScore(df, id, "text", mm, 5, keyCol = k)))
    def scores(df: DataFrame, idCol: String, cnt: String) =
      df.select(col(idCol), col(cnt), col("logprob"))
        .as[(Long, Long, Double)].collect().toSet
    for ((cnt, score) <- scorers) {
      val expect = scores(score(pool, "id", m, None), "id", cnt)
      assert(expect.nonEmpty, cnt)
      for (idName <- Seq("c5", "w1", "tfq", "bf")) {
        val got = score(pool.withColumnRenamed("id", idName), idName, m, None)
        assert(got.columns.toSeq == Seq(idName, cnt, "logprob"))
        assert(scores(got, idName, cnt) == expect, s"$cnt, id $idName")
        val keyed = score(pool.withColumn("lang", lit("L1"))
          .withColumnRenamed("id", idName), idName, km, Some("lang"))
        assert(keyed.columns.toSeq == Seq(idName, "lang", cnt, "logprob"))
        assert(scores(keyed, idName, cnt) == expect, s"keyed $cnt, id $idName")
      }
    }
  }

  test("keyed KN5 merge == keyed retrain, bit-for-bit across both languages") {
    val dir = Files.createTempDirectory("reflmkn5-keyed-merge").toString
    val p = s"$dir/model"
    val keyed = Seq(
      (1L, "a b c d e a b c d e", "L1", true),
      (2L, "a b c d f", "L1", true),
      (3L, "e d c b a e d c b a", "L2", true),
      (10L, "a b c d e", "L1", false),
      (12L, "e d c b a", "L2", false)
    ).toDF("id", "text", "lang", "is_ref")
    // stored fleet trained without doc 2; the L1 delta merges in (L2
    // untouched — the keyed merge must not disturb other keys)
    Ranking.writeRefLm(
      Ranking.refLmTrain(keyed, "text",
        col("is_ref") && col("id") =!= 2L, 5, Some("lang")), p)
    assert(Ranking.mergeIntoStoredRefLm(spark, p,
      keyed.filter(col("id") === 2L), "text",
      batchId = Some(3L), keyCol = Some("lang")))
    val pool = keyed.filter(!col("is_ref"))
    val viaMerge = Ranking.refLmKnScore(
        pool, "id", "text", Ranking.readRefLm(spark, p), 5, keyCol = Some("lang"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val viaRetrain = Ranking.refLmKnScore(pool, "id", "text",
        Ranking.refLmTrain(keyed, "text", col("is_ref"), 5, Some("lang")), 5,
        keyCol = Some("lang"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(viaMerge == viaRetrain)
    // replay guard covers the two new high-order tables too
    assert(!Ranking.mergeIntoStoredRefLm(spark, p,
      keyed.filter(col("id") === 2L), "text",
      batchId = Some(3L), keyCol = Some("lang")))
  }
}
