package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** The order-2, order-3 and Kneser-Ney order-3 scorers, keyed and
  * unkeyed, inline-trained and stored, against a hand reference that
  * scores every n-gram occurrence of a doc with the engine's
  * arithmetic (RefLmSpec, RefLm3Spec and RefLmKn3Spec spell it out):
  * the probability as one IEEE double expression, ln rounded to 9
  * decimals, exact decimal doc sums, one double division rounded to 6.
  * The pool holds the shapes that per-occurrence scoring must get
  * right: a doc repeating one n-gram, docs shorter than the order,
  * NULL and empty text, and (keyed) a key with no model.
  */
class LmScorerEdgeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val refs = Seq(
    ("a b a b a", "L1"), ("b c", "L1"), ("c a b c a", "L1"),
    ("b a b a b", "L2"), ("c a c", "L2"))

  /** (id, text, lang) — "L3" has no reference, so no keyed model. */
  private val pool: Seq[(Long, String, String)] = Seq(
    (10L, "a b a b a b a b", "L1"), // (a,b) and (a,b,a) repeat
    (11L, "a b x a b", "L1"),       // a repeat around an OOV token
    (12L, "a", "L1"),               // shorter than 2 and 3
    (13L, "c a", "L2"),             // shorter than 3
    (14L, null, "L2"),
    (15L, "", "L1"),
    (16L, "b a b a b c", "L2"),
    (17L, "x y z x y z", "L1"),
    (18L, "a b c a b c", "L3"))     // keyed: no model for L3

  private def refDf: DataFrame = refs.zipWithIndex
    .map { case ((t, l), i) => (i.toLong + 1, t, l) }.toDF("id", "text", "lang")

  private def poolDf(idCol: String): DataFrame = pool.toDF(idCol, "text", "lang")

  /** One slice's counts, as the model tables hold them. */
  private final case class Counts(docs: Seq[Seq[String]]) {
    private def grams(n: Int) = docs.flatMap(_.sliding(n).filter(_.size == n))
    val c1: Map[String, Long] = docs.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)
    val cb: Map[Seq[String], Long] = grams(2).groupMapReduce(identity)(_ => 1L)(_ + _)
    val ct: Map[Seq[String], Long] = grams(3).groupMapReduce(identity)(_ => 1L)(_ + _)
    val (n, v, b) = (c1.values.sum, c1.size.toLong, cb.size.toLong)
    def ctx(w: String): Long = cb.collect { case (g, c) if g.head == w => c }.sum
    def ctx3(w1: String, w2: String): Long = ct.collect { case (g, c) if g.take(2) == Seq(w1, w2) => c }.sum

    def jm2(w1: String, w2: String): Double = {
      val c = ctx(w1)
      0.7 * (if (c > 0) cb.getOrElse(Seq(w1, w2), 0L).toDouble / c.toDouble else 0.0) +
        0.3 * ((c1.getOrElse(w2, 0L) + 1L).toDouble / (n + v).toDouble)
    }

    def jm3(g: Seq[String]): Double = {
      val c = ctx3(g(0), g(1))
      0.5 * (if (c > 0) ct.getOrElse(g, 0L).toDouble / c.toDouble else 0.0) +
        0.5 * jm2(g(1), g(2))
    }

    def kn3(g: Seq[String]): Double = {
      val (d, tri) = (0.75, ct.keys.toSeq)
      def level(c: Long, x: Long, t: Long, lower: Double) =
        if (x > 0) (math.max(c.toDouble - d, 0.0) + d * t.toDouble * lower) / x.toDouble else lower
      val cc = tri.count(_.tail == g.tail).toLong
      val c2 = tri.count(_(1) == g(1)).toLong
      val t2 = tri.filter(_(1) == g(1)).map(_(2)).distinct.size.toLong
      val cu = cb.keys.count(_(1) == g(2)).toLong
      val t3 = tri.count(_.take(2) == g.take(2)).toLong
      val pc = (cu.toDouble + 1.0) / (b + v).toDouble
      level(ct.getOrElse(g, 0L), ctx3(g(0), g(1)), t3, level(cc, c2, t2, pc))
    }
  }

  private def toks(t: String): Seq[String] =
    Option(t).toSeq.flatMap(_.toLowerCase.split(' ').filter(_.nonEmpty))

  /** The hand-scored pool: id -> (lang, n-gram count, logprob). */
  private def expected(order: Int, keyed: Boolean,
      p: (Counts, Seq[String]) => Double): Map[Long, (String, Long, Double)] = {
    def counts(slice: Seq[(String, String)]) = Counts(slice.map(r => toks(r._1)))
    val all = counts(refs)
    val byLang = refs.groupBy(_._2).map { case (l, rs) => l -> counts(rs) }
    pool.flatMap { case (id, text, lang) =>
      val occ = toks(text).sliding(order).filter(_.size == order).toSeq
      val model = if (keyed) byLang.get(lang) else Some(all)
      model.filter(_ => occ.nonEmpty).map { m =>
        val lps = occ.map(g => BigDecimal(math.log(p(m, g))).setScale(9, BigDecimal.RoundingMode.HALF_UP))
        id -> ((lang, occ.size.toLong,
          BigDecimal(lps.sum.toDouble / lps.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toMap
  }

  private type Scorer = (DataFrame, String, Ranking.RefLmModel, Option[String]) => DataFrame

  private val scorers: Seq[(String, Int, Scorer, (Counts, Seq[String]) => Double)] = Seq(
    ("order 2", 2, (df, id, m, k) => Ranking.refLmScore(df, id, "text", m, keyCol = k),
      (c, g) => c.jm2(g(0), g(1))),
    ("order 3", 3, (df, id, m, k) => Ranking.refLm3Score(df, id, "text", m, keyCol = k),
      (c, g) => c.jm3(g)),
    ("KN3", 3, (df, id, m, k) => Ranking.refLmKnScore(df, id, "text", m, 3, keyCol = k),
      (c, g) => c.kn3(g)))

  private def scoredMap(df: DataFrame, idCol: String, keyed: Boolean): Map[Long, (String, Long, Double)] = {
    val langs = pool.map(r => r._1 -> r._3).toMap
    df.collect().map { r =>
      val id = r.getAs[Long](idCol)
      if (keyed) assert(r.getAs[String]("lang") == langs(id))
      id -> ((langs(id), r.getLong(r.length - 2), r.getDouble(r.length - 1)))
    }.toMap
  }

  for ((name, order, score, p) <- scorers; keyed <- Seq(false, true)) {
    test(s"$name ${if (keyed) "keyed" else "unkeyed"} scores the edge-case pool as the hand reference") {
      val key = Option.when(keyed)("lang")
      val inline = Ranking.refLmTrain(refDf, "text", lit(true), 3, key)
      val dir = Files.createTempDirectory("lm-edge").resolve("model").toString
      Ranking.writeRefLm(inline, dir)
      val stored = Ranking.readRefLm(spark, dir)
      val expect = expected(order, keyed, p)
      assert(expect.contains(10L) && expect(10L)._2 == 8L - order + 1)
      assert(!expect.contains(12L) && !expect.contains(14L) && !expect.contains(15L))
      assert(expect.contains(18L) != keyed)
      for ((m, src) <- Seq(inline -> "inline", stored -> "stored"); idCol <- Seq("doc_id", "w1", "__tf", "logp9")) {
        val got = scoredMap(score(poolDf(idCol), idCol, m, key), idCol, keyed)
        assert(got == expect, s"$src model, id column $idCol")
      }
    }
  }

  test("a stored unkeyed model's scalars are literals: no BroadcastNestedLoopJoin") {
    val inline = Ranking.refLmTrain(refDf, "text", lit(true), 3)
    val dir = Files.createTempDirectory("lm-edge-bnlj").resolve("model").toString
    Ranking.writeRefLm(inline, dir)
    def plan(m: Ranking.RefLmModel) = {
      val scored = Ranking.refLmKnScore(poolDf("doc_id"), "doc_id", "text", m, 3)
      scored.collect()
      scored.queryExecution.executedPlan.toString
    }
    assert(plan(inline).contains("BroadcastNestedLoopJoin"))
    assert(!plan(Ranking.readRefLm(spark, dir)).contains("BroadcastNestedLoopJoin"))
  }

  test("stored totals carry each key's bigram-type count, 0 for a key with no bigram") {
    // "L4" trains a unigram but no bigram
    val refs4 = refDf.union(Seq((9L, "d", "L4")).toDF("id", "text", "lang"))
    for (key <- Seq(None, Some("lang"))) {
      val m = Ranking.refLmTrain(refs4, "text", lit(true), 3, key)
      val p = Files.createTempDirectory("lm-edge-nbig").resolve("model").toString
      Ranking.writeRefLm(m, p)
      val ks = key.map(_ => col("__k")).toSeq
      val expect = m.bigrams.groupBy(ks: _*).count().collect()
        .map(r => r.toSeq.init -> r.getLong(ks.size)).toMap
      val got = Ranking.readRefLm(spark, p).totals.collect()
        .map(r => r.toSeq.take(ks.size) -> r.getAs[Long]("n_bigram_types")).toMap
      assert(got == expect ++ key.map(_ => Seq("L4") -> 0L), key)
      assert(key.isDefined || got.values.toSeq == Seq(Counts(refs.map(_._1.split(" ").toSeq)).b))
    }
  }
}
