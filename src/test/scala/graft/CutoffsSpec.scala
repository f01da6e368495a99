package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** `Ranking.refLmCutoffs` picks the tertile cutoffs on the driver by
  * two-pass selection. Two oracles check it: the window formulation it
  * replaced (bin-desc prefix over the bin table, within-bin cumulative
  * window, `max(logprob)` where `cumn ≥ rank`, kept here verbatim) and
  * a plain sort per key. `Ranking.refLmPerplexityBuckets` reads the
  * cutoffs as literals; its report is checked against the window
  * cutoffs joined onto the histogram.
  */
class CutoffsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def cols(names: Seq[String]) = names.map(col)

  private def histOf(scored: DataFrame, ks: Seq[String]): DataFrame =
    scored.groupBy(cols(ks :+ "logprob"): _*)
      .agg(count(lit(1)).as("nv"), sum("n_trigrams").as("snb"))

  /** The window formulation of the cutoffs over a histogram. */
  private def windowCutoffs(hist: DataFrame, ks: Seq[String]): DataFrame = {
    def joinOn(l: DataFrame, r: DataFrame) = if (ks.isEmpty) l.crossJoin(r) else l.join(r, ks)
    val binned = hist.withColumn("__bin", floor(col("logprob") * lit(100.0)))
    val binPrior = binned.groupBy(cols(ks :+ "__bin"): _*).agg(sum("nv").as("__bn"))
      .withColumn("__prior", sum("__bn").over(
        Window.partitionBy(cols(ks): _*).orderBy(col("__bin").desc)) - col("__bn"))
      .select(cols(ks ++ Seq("__bin", "__prior")): _*)
    val cum = binned.join(broadcast(binPrior), ks :+ "__bin")
      .withColumn("cumn", col("__prior") + sum("nv").over(
        Window.partitionBy(cols(ks :+ "__bin"): _*).orderBy(col("logprob").desc)))
    val tot = hist.groupBy(cols(ks): _*).agg(sum("nv").as("n"))
    joinOn(cum, broadcast(tot)).groupBy(cols(ks): _*)
      .agg(
        max(when(col("cumn") >= expr("(n + 2) div 3"), col("logprob"))).as("v_head"),
        max(when(col("cumn") >= expr("(2 * n + 2) div 3"), col("logprob"))).as("v_mid"))
  }

  /** The bucket report with the window cutoffs joined onto the
    * histogram, as the report was written before it read the cutoffs
    * as literals: the inner join drops a NULL key and a key with no
    * cutoff row. */
  private def joinedBuckets(scored: DataFrame, ks: Seq[String]): DataFrame = {
    val hist = histOf(scored, ks)
    val cuts = windowCutoffs(hist, ks)
    (if (ks.isEmpty) hist.crossJoin(cuts) else hist.join(cuts, ks))
      .select(cols(ks) ++ Seq(Ranking.perplexityBucket(col("logprob"), col("v_head"), col("v_mid"))
        .as("bucket"), col("logprob"), col("nv"), col("snb")): _*)
      .groupBy(cols(ks :+ "bucket"): _*)
      .agg(sum("nv").as("n_docs"), min("logprob").as("min_logprob"),
        max("logprob").as("max_logprob"), sum("snb").as("n_trigrams"))
      .orderBy(cols(ks :+ "bucket"): _*)
  }

  /** The cutoffs by sorting each key's scores, NULL scores last. A key
    * whose scores are all NULL has no row, as in the window formulation,
    * whose bin join drops NULL scores. */
  private def sortedCutoffs(rows: Seq[(Option[String], Option[Double])],
      keyed: Boolean): Set[(Option[String], Option[Double], Option[Double])] =
    if (!keyed && rows.isEmpty) Set((None, None, None))
    else rows.groupBy(r => if (keyed) r._1 else None).collect {
      case (k, rs) if !keyed || (k.isDefined && rs.exists(_._2.isDefined)) =>
        val desc = rs.map(_._2).sorted(Ordering.Option(Ordering.Double.TotalOrdering).reverse)
          .sortBy(_.isEmpty)
        val n = desc.size
        (k, desc((n + 2) / 3 - 1), desc((2 * n + 2) / 3 - 1))
    }.toSet

  private def asTriples(df: DataFrame, keyed: Boolean) =
    df.collect().map { r =>
      val o = if (keyed) 1 else 0
      (if (keyed) Option(r.getString(0)) else None,
        if (r.isNullAt(o)) None else Some(r.getDouble(o)),
        if (r.isNullAt(o + 1)) None else Some(r.getDouble(o + 1)))
    }.toSet

  /** Checks one scored set against both oracles, keyed by `k` or not. */
  private def agree(rows: Seq[(Option[String], Option[Double])], keyed: Boolean): Unit = {
    val scored = rows.zipWithIndex.map { case ((k, lp), i) => (i.toLong, k, 3L, lp) }
      .toDF("id", "k", "n_trigrams", "logprob")
    val ks = if (keyed) Seq("k") else Nil
    val got = Ranking.refLmCutoffs(if (keyed) scored else scored.drop("k"),
      if (keyed) Some("k") else None)
    val window = windowCutoffs(histOf(if (keyed) scored else scored.drop("k"), ks), ks)
    assert(got.schema == window.schema)
    val expect = asTriples(window, keyed)
    assert(expect == sortedCutoffs(rows, keyed), s"the oracles differ on $rows")
    assert(asTriples(got, keyed) == expect, s"keyed=$keyed rows=$rows")
    val report = Ranking.refLmPerplexityBuckets(if (keyed) scored else scored.drop("k"),
      if (keyed) Some("k") else None)
    val joined = joinedBuckets(if (keyed) scored else scored.drop("k"), ks)
    assert(report.schema == joined.schema)
    assert(report.collect().toSeq == joined.collect().toSeq, s"report keyed=$keyed rows=$rows")
  }

  private def scores(lps: Double*): Seq[(Option[String], Option[Double])] =
    lps.map(lp => (Some("a"), Some(lp)))

  test("ties straddling a cutoff, all scores equal, and n of 0 to 3") {
    val cases = Seq(
      scores(-1.0, -1.0, -1.0, -1.0, -2.0, -2.0),          // both ranks inside one tie
      scores(-1.5, -1.5, -1.5, -1.5, -1.5),
      Nil, scores(-1.0), scores(-1.0, -2.0), scores(-1.0, -2.0, -3.0),
      // edge neighbours one 6-decimal step to either side of a centi edge
      scores(-0.01, -0.010001, -0.009999, -0.02, -0.020001, -0.019999, -0.02))
    for (rows <- cases; keyed <- Seq(false, true)) agree(rows, keyed)
  }

  test("skewed keys, a NULL key and NULL scores") {
    val skewed = (1 to 200).map(i => (Some("a"), Some(-(i % 17) / 100.0 - 1e-6 * (i % 3)))) ++
      Seq((Some("b"), Some(-3.0)), (Some("c"), Some(-1.0)), (Some("c"), None))
    agree(skewed, keyed = true)
    agree(skewed ++ Seq((None, Some(-0.5)), (None, Some(-0.7))), keyed = true)
    // a rank that falls among the NULL scores has no cutoff
    agree(Seq((Some("a"), Some(-1.0)), (Some("a"), None), (Some("a"), None)), keyed = true)
    agree(Seq((Some("a"), Some(-1.0)), (Some("a"), None), (Some("a"), None)), keyed = false)
    // a key with only NULL scores has no row; unkeyed there is one NULL row
    agree(Seq((Some("a"), None), (Some("b"), Some(-1.0))), keyed = true)
    agree(Seq((Some("a"), None)), keyed = false)
  }

  test("generated histograms: the driver cutoffs equal both oracles") {
    val score = Gen.frequency(
      1 -> Gen.const(Option.empty[Double]),
      12 -> Gen.zip(Gen.choose(0, 300), Gen.choose(-1, 1)).map { case (e, eps) =>
        Some(BigDecimal(-e / 100.0 + eps * 1e-6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      })
    val key = Gen.frequency(1 -> Gen.const(Option.empty[String]), 8 -> Gen.const(Some("a")),
      3 -> Gen.const(Some("b")), 1 -> Gen.const(Some("c")))
    val row = Gen.zip(key, score)
    val prop = Prop.forAllNoShrink(Gen.choose(0, 40).flatMap(Gen.listOfN(_, row)), Gen.oneOf(false, true)) {
      (rows, keyed) => agree(rows, keyed); true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("the cutoff frame is a local relation with the persisted schema") {
    val scored = Seq((1L, "a", 3L, -1.0), (2L, "b", 3L, -2.0)).toDF("id", "k", "n_trigrams", "logprob")
    val got = Ranking.refLmCutoffs(scored, Some("k"))
    assert(got.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(got.schema == windowCutoffs(histOf(scored, Seq("k")), Seq("k")).schema)
    assert(got.collect().toSet == Set(Row("a", -1.0, -1.0), Row("b", -2.0, -2.0)))
  }
}
