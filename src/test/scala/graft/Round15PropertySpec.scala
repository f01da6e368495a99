package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Property coverage for the round-15 additions, each checked against
  * a brute-force Scala reference: the coarse-bin-then-refine cutoff
  * machinery on fine-grained boundary-dense score sets, order-3
  * merge == retrain on arbitrary splits, per-key cutoffs, and the
  * full trigram backoff-chain scoring arithmetic.
  */
class Round15PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rng = new scala.util.Random(1503)
  private val vocab = Vector("a", "b", "c", "d")

  private def randomDoc(maxLen: Int): String =
    Seq.fill(1 + rng.nextInt(maxLen))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  test("bounded cutoffs == brute force on boundary-dense 6-decimal scores (8 trials)") {
    for (trial <- 1 to 8) {
      val n = 1 + rng.nextInt(60)
      // scores engineered to straddle centi-logprob bin boundaries:
      // base values exactly ON a centi edge (-k/100) plus epsilon
      // neighbours one 6-decimal ulp to either side, plus heavy ties —
      // the refinement window and the bin prefix must agree with a
      // plain sort no matter how the bins slice the set
      def score(): Double = {
        val edge = -(rng.nextInt(300).toDouble / 100)
        val eps = rng.nextInt(3) match {
          case 0 => 0.0
          case 1 => 1e-6
          case 2 => -1e-6
        }
        BigDecimal(edge + eps)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val distinct = Seq.fill(1 + rng.nextInt(12))(score()).distinct
      val rows = (1L to n.toLong).map(i =>
        (i, 1L + rng.nextInt(4).toLong, distinct(rng.nextInt(distinct.size))))
      val got = Ranking.refLmCutoffs(rows.toDF("id", "n_bigrams", "logprob"))
        .as[(Double, Double)].collect().toSeq
      val desc = rows.map(_._3).sorted(Ordering[Double].reverse)
      val expect = Seq((desc((n + 2) / 3 - 1), desc((2 * n + 2) / 3 - 1)))
      assert(got == expect, s"trial $trial n=$n scores=${desc.distinct}")
    }
  }

  test("keyed bounded cutoffs == per-key brute force (4 trials)") {
    for (trial <- 1 to 4) {
      val keys = Vector("k1", "k2", "k3")
      val rows = (1L to (15 + rng.nextInt(40)).toLong).map { i =>
        val lp = BigDecimal(-(rng.nextInt(250).toDouble / 100) +
            (rng.nextInt(3) - 1) * 1e-6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (i, keys(rng.nextInt(keys.size)), 1L + rng.nextInt(4).toLong, lp)
      }
      val got = Ranking.refLmCutoffs(
          rows.toDF("id", "k", "n_bigrams", "logprob"), Some("k"))
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val expect = rows.groupBy(_._2).map { case (k, rs) =>
        val desc = rs.map(_._4).sorted(Ordering[Double].reverse)
        val n = rs.size
        k -> ((desc((n + 2) / 3 - 1), desc((2 * n + 2) / 3 - 1)))
      }
      assert(got == expect, s"trial $trial")
    }
  }

  test("order-3 merge == retrain on random corpus splits (3 seeded trials)") {
    for (trial <- 1 to 3) {
      val docs = (1L to 25L).map(i => (i, randomDoc(12))).toDF("id", "text")
      val cut = 5 + rng.nextInt(15)
      val dir = Files.createTempDirectory(s"reflm3-prop-$trial").toString
      val p = s"$dir/model"
      Ranking.writeRefLm(
        Ranking.refLmTrain(docs, "text", col("id") <= cut, 3), p)
      Ranking.mergeIntoStoredRefLm(spark, p,
        docs.filter(col("id") > cut), "text")
      val merged = Ranking.readRefLm(spark, p)
      val full = Ranking.refLmTrain(docs, "text", lit(true), 3)
      assert(merged.trigrams.as[(String, String, String, Long)].collect().toSet ==
        full.trigrams.as[(String, String, String, Long)].collect().toSet,
        s"trial $trial trigrams")
      assert(merged.triContexts.as[(String, String, Long)].collect().toSet ==
        full.triContexts.as[(String, String, Long)].collect().toSet,
        s"trial $trial tctx")
      assert(merged.bigrams.as[(String, String, Long)].collect().toSet ==
        full.bigrams.as[(String, String, Long)].collect().toSet,
        s"trial $trial bigrams")
      assert(merged.totals.as[(Long, Long, Long)].collect().toSeq ==
        full.totals.as[(Long, Long, Long)].collect().toSeq, s"trial $trial totals")
    }
  }

  test("trigram backoff scoring == brute-force Scala reference (3 trials)") {
    for (trial <- 1 to 3) {
      val docs = (1L to 30L).map { i =>
        (i, randomDoc(10), i <= 12L)
      }.toDF("id", "text", "is_ref")
      val m = Ranking.refLmTrain(docs, "text", col("is_ref"), 3)
      val got = Ranking.refLm3Score(
          docs.filter(!col("is_ref")), "id", "text", m)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

      // brute force, mirroring the engine's arithmetic term for term
      val local = docs.as[(Long, String, Boolean)].collect()
      def toks(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
      val refToks = local.filter(_._3).map(d => toks(d._2)).toSeq
      val uni = refToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val big = refToks.flatMap(a => a.zip(a.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ctx = big.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val tri = refToks.flatMap(a => a.lazyZip(a.drop(1)).lazyZip(a.drop(2)).toSeq)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tctx = tri.groupBy(t => (t._1._1, t._1._2)).view.mapValues(_.values.sum).toMap
      val nTok = uni.values.sum
      val v = uni.size.toLong
      def logp9(t: (String, String, String)): BigDecimal = {
        val triML = tctx.get((t._1, t._2)) match {
          case Some(c3) if c3 > 0 => tri.getOrElse(t, 0L).toDouble / c3
          case _ => 0.0
        }
        val bigML = ctx.get(t._2) match {
          case Some(c) if c > 0 => big.getOrElse((t._2, t._3), 0L).toDouble / c
          case _ => 0.0
        }
        val uniA1 = (uni.getOrElse(t._3, 0L) + 1).toDouble / (nTok + v)
        val mix = 0.5 * triML + 0.5 * (0.7 * bigML + 0.3 * uniA1)
        BigDecimal(math.log(mix)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      val expect = local.filter(!_._3).flatMap { case (id, text, _) =>
        val a = toks(text)
        val triples = a.lazyZip(a.drop(1)).lazyZip(a.drop(2)).toSeq
        if (triples.isEmpty) None
        else {
          val slp = triples.map(logp9).sum
          Some(id -> ((triples.size.toLong,
            BigDecimal(slp.toDouble / triples.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        }
      }.toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("semDeDupIncrement == union semDeDup restricted to the batch (4 trials)") {
    import graft.operators.Similarity
    for (trial <- 1 to 4) {
      val dims = 3
      val nCells = 1 + rng.nextInt(3)
      val cents = (0L until nCells.toLong).map(c =>
        c -> Array.fill(dims)(rng.nextDouble() * 2 - 1))
      def vec() = Seq.fill(dims)(rng.nextDouble() * 2 - 1)
      val split = 20L + rng.nextInt(15)
      val rows = (1L to (30 + rng.nextInt(30)).toLong).map(i => (i, vec()))
      val df = rows.toDF("vec_id", "embedding")
      val thr = 0.3 + rng.nextDouble() * 0.6
      val inc = Similarity.semDeDupIncrement(
          df.filter(col("vec_id") < split), df.filter(col("vec_id") >= split),
          "vec_id", "embedding", cents, thr)
        .as[(Long, Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
      val union = Similarity.semDeDup(df, "vec_id", "embedding", cents, thr)
        .filter(col("vec_id") >= split)
        .as[(Long, Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
      assert(inc == union, s"trial $trial split=$split thr=$thr")
    }
  }

  test("keyed order-3 one-pass == per-slice unkeyed engines (3 trials)") {
    for (trial <- 1 to 3) {
      val langs = Vector("L1", "L2", "L3")
      val rows = (1L to (24 + rng.nextInt(24)).toLong).map { i =>
        (i, randomDoc(8), langs(rng.nextInt(langs.size)), rng.nextBoolean())
      }
      // every key needs at least one non-empty reference doc for a
      // valid model (the totals INNER join drops unmodeled keys — that
      // path is spec-covered in RefLm3Spec; here we test equivalence)
      val seeded = rows ++ langs.zipWithIndex.map { case (l, j) =>
        (1000L + j, "a b c a b", l, true)
      }
      val docs = seeded.toDF("id", "text", "lang", "is_ref")
      val km = Ranking.refLmTrain(docs, "text", col("is_ref"), 3, Some("lang"))
      val got = Ranking.refLm3Score(
          docs.filter(!col("is_ref")), "id", "text", km, keyCol = Some("lang"))
        .as[(Long, String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expect = langs.flatMap { l =>
        val slice = docs.filter(col("lang") === l)
        val m = Ranking.refLmTrain(slice, "text", col("is_ref"), 3)
        Ranking.refLm3Score(slice.filter(!col("is_ref")), "id", "text", m)
          .as[(Long, Long, Double)].collect()
          .map(r => r._1 -> ((l, r._2, r._3)))
      }.toMap
      assert(got == expect, s"trial $trial")
    }
  }
}
