package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SnapshotStamp
import graft.operators.Ranking

/** Property coverage for the round-14 continuation family: seeded
  * random corpora checked against brute-force Scala references —
  * merge==retrain on arbitrary splits, bucket cutoffs vs a sort-based
  * oracle, stamp permutation/sensitivity, keyed==per-key scoring.
  */
class Round14PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private val vocab = Vector("a", "b", "c", "d", "e")

  private def randomDoc(maxLen: Int): String =
    Seq.fill(1 + rng.nextInt(maxLen))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  test("merge == retrain on random corpus splits (3 seeded trials)") {
    for (trial <- 1 to 3) {
      val docs = (1L to 30L).map(i => (i, randomDoc(12))).toDF("id", "text")
      val cut = 5 + rng.nextInt(20)
      val dir = Files.createTempDirectory(s"reflm-prop-$trial").toString
      val p = s"$dir/model"
      Ranking.writeRefLm(
        Ranking.refLmTrain(docs, "text", col("id") <= cut), p)
      Ranking.mergeIntoStoredRefLm(spark, p,
        docs.filter(col("id") > cut), "text")
      val merged = Ranking.readRefLm(spark, p)
      val full = Ranking.refLmTrain(docs, "text", lit(true))
      assert(merged.unigrams.as[(String, Long)].collect().toSet ==
        full.unigrams.as[(String, Long)].collect().toSet, s"trial $trial unigrams")
      assert(merged.bigrams.as[(String, String, Long)].collect().toSet ==
        full.bigrams.as[(String, String, Long)].collect().toSet, s"trial $trial bigrams")
      assert(merged.contexts.as[(String, Long)].collect().toSet ==
        full.contexts.as[(String, Long)].collect().toSet, s"trial $trial contexts")
      assert(merged.totals.as[(Long, Long, Long)].collect().toSeq ==
        full.totals.as[(Long, Long, Long)].collect().toSeq, s"trial $trial totals")
    }
  }

  test("bucket report matches a sort-based brute-force oracle (5 seeded trials)") {
    for (trial <- 1 to 5) {
      val n = 1 + rng.nextInt(40)
      // coarse score grid on purpose: ties must cross cutoffs often
      val rows = (1L to n.toLong).map(i =>
        (i, 1L + rng.nextInt(5).toLong,
          BigDecimal(-rng.nextInt(4) - rng.nextInt(3) * 0.5)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val got = Ranking.refLmPerplexityBuckets(
          rows.toDF("id", "n_bigrams", "logprob"))
        .as[(String, Long, Double, Double, Long)].collect().toSeq

      // brute force: rank-⌈n/3⌉ / rank-⌈2n/3⌉ values on the desc sort
      val desc = rows.map(_._3).sorted(Ordering[Double].reverse)
      val vHead = desc((n + 2) / 3 - 1)
      val vMid = desc((2 * n + 2) / 3 - 1)
      def bucket(lp: Double) =
        if (lp >= vHead) "head" else if (lp >= vMid) "middle" else "tail"
      val expect = rows.groupBy(r => bucket(r._3)).toSeq.map { case (b, rs) =>
        (b, rs.size.toLong, rs.map(_._3).min, rs.map(_._3).max,
          rs.map(_._2).sum)
      }.sortBy(_._1)
      assert(got == expect, s"trial $trial (n=$n, vHead=$vHead, vMid=$vMid)")
    }
  }

  test("stamp: permutation/partition invariant, any single change detected (5 trials)") {
    for (trial <- 1 to 5) {
      val ids = Seq.fill(20)(rng.nextLong().abs % 1000000L).distinct
      def frame(xs: Seq[Long]) = xs.map(i => Tuple1(i)).toDF("id")
      val a = SnapshotStamp.stamp(frame(ids), "id").collect()(0)
      val b = SnapshotStamp.stamp(
        frame(rng.shuffle(ids)).repartition(1 + rng.nextInt(8)), "id").collect()(0)
      assert(a.getLong(0) == b.getLong(0) && a.getString(1) == b.getString(1),
        s"trial $trial permutation")
      // drop one random element -> stamp moves
      val dropped = ids.patch(rng.nextInt(ids.size), Nil, 1)
      val c = SnapshotStamp.stamp(frame(dropped), "id").collect()(0)
      assert(a.getString(1) != c.getString(1) || a.getLong(0) != c.getLong(0),
        s"trial $trial sensitivity")
    }
  }

  test("keyed scoring equals per-key unkeyed scoring on a random keyed corpus") {
    val keys = Vector("k1", "k2", "k3")
    val docs = (1L to 45L).map { i =>
      (i, randomDoc(10), keys(rng.nextInt(keys.size)), rng.nextBoolean())
    }.toDF("id", "text", "k", "is_ref")
      // every key must end up with a non-empty reference slice
      .withColumn("is_ref", col("is_ref") || col("id") <= 3L)
    val keyed = Ranking.refLmScore(docs.filter(!col("is_ref")), "id", "text",
        Ranking.refLmTrain(docs, "text", col("is_ref"), keyCol = Some("k")),
        keyCol = Some("k"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    val perKey = keys.flatMap { k =>
      Ranking.refLmScore(
          docs.filter(!col("is_ref") && col("k") === k), "id", "text",
          Ranking.refLmTrain(docs.filter(col("k") === k), "text", col("is_ref")))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3)))
    }.toMap
    assert(keyed == perKey)
  }

  test("scores are bounded: never above 0, never below the OOV floor") {
    val ref = Seq((1L, "a b a b c a")).toDF("id", "text")
    val m = Ranking.refLmTrain(ref, "text", lit(true))
    // N=6, V=3 -> the floor is one unseen-context pair: 0.3 * 1/(N+V)
    val floor = BigDecimal(math.log(0.3 * 1.0 / 9))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pool = (10L to 29L).map(i =>
      (i, Seq.fill(5)(Vector("a", "b", "c", "x", "z")(rng.nextInt(5))).mkString(" ")))
      .toDF("id", "text")
    val scores = Ranking.refLmScore(pool, "id", "text", m)
      .as[(Long, Long, Double)].collect().map(_._3)
    assert(scores.nonEmpty)
    assert(scores.forall(s => s <= 0.0 && s >= floor),
      s"scores ${scores.min}..${scores.max} vs floor $floor")
  }
}
