package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Round-14 extension: reference-trained interpolated bigram LM
  * (CCNet-style perplexity filtering) — train on a trusted slice,
  * score the pool with λ-interpolated add-1 smoothing, bucket by
  * value cutoffs at the exact tertile ranks, deploy from the stored
  * count tables (q181/q182/q183).
  */
class RefLmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // reference corpus: "a b a b a" (+ one "b c" doc) — known counts:
  //   unigrams: a->3, b->3, c->1 (N=7, V=3)
  //   bigrams : (a,b)->2, (b,a)->2, (b,c)->1; contexts: a->2, b->3
  private def refPoolDocs = Seq(
    (1L, "a b a b a", true),
    (2L, "b c", true),
    (3L, "a b x", false), // pool: one trained pair, one OOV pair
    (4L, "x y", false),   // pool: fully OOV
    (5L, "a", false)      // pool: <2 tokens — not scored
  ).toDF("id", "text", "is_ref")

  private def expectedLogp(b: Long, c: Long, u: Long, nTok: Long, v: Long): BigDecimal = {
    val mix = 0.7 * (if (c > 0) b.toDouble / c else 0.0) +
      0.3 * ((u + 1).toDouble / (nTok + v))
    BigDecimal(math.log(mix)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
  }

  test("trained counts are the exact reference statistics") {
    val m = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"))
    assert(m.unigrams.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 1L))
    assert(m.bigrams.as[(String, String, Long)].collect().toSet ==
      Set(("a", "b", 2L), ("b", "a", 2L), ("b", "c", 1L)))
    assert(m.contexts.as[(String, Long)].collect().toMap ==
      Map("a" -> 2L, "b" -> 3L))
    assert(m.totals.as[(Long, Long, Long)].collect().toSeq == Seq((7L, 3L, 3L)))
  }

  test("scores are the hand-computed λ-mixture, finite on OOV") {
    val m = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"))
    val got = Ranking.refLmScore(
        refPoolDocs.filter(!col("is_ref")), "id", "text", m)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // mirror the engine arithmetic exactly: exact decimal logp9 sum,
    // ONE double division by n_bigrams, then the 6-digit round
    def mean6(lps: Seq[BigDecimal]): Double =
      BigDecimal(lps.sum.toDouble / lps.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 3: pairs (a,b) [b=2,c=2,u(b)=3] and (b,x) [b=0,c=3,u(x)=0]
    val lp3 = mean6(Seq(expectedLogp(2, 2, 3, 7, 3), expectedLogp(0, 3, 0, 7, 3)))
    // doc 4: pair (x,y): context unseen, unigram add-1 floor 1/(N+V)
    val lp4 = mean6(Seq(expectedLogp(0, 0, 0, 7, 3)))
    assert(got.keySet == Set(3L, 4L)) // doc 5 has no bigram
    assert(got(3L) == ((2L, lp3)))
    assert(got(4L) == ((1L, lp4)))
    // the OOV-only doc scores strictly below the in-vocabulary one
    assert(got(4L)._2 < got(3L)._2)
  }

  test("value-cutoff buckets: ties land in one bucket, order statistics exact") {
    // 6 scored docs with scores (desc): -1, -2, -2, -2, -3, -4
    // n=6 -> r1=ceil(6/3)=2 (v_head = score of rank 2 = -2),
    //        r2=ceil(12/3)=4 (v_mid = rank-4 score = -2 as well)
    // => head = {-1, -2 x3} (ties ride the cutoff value), middle empty,
    //    tail = {-3, -4}
    val scored = Seq(
      (1L, 2L, -1.0), (2L, 2L, -2.0), (3L, 2L, -2.0),
      (4L, 2L, -2.0), (5L, 2L, -3.0), (6L, 2L, -4.0)
    ).toDF("id", "n_bigrams", "logprob")
    val got = Ranking.refLmPerplexityBuckets(scored)
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(
      ("head", 4L, -2.0, -1.0, 8L),
      ("tail", 2L, -4.0, -3.0, 4L)))
    // the rule at distinct cutoffs: a score equal to one lands above it
    val rule = Seq(
      (-1.0, -1.0, -2.0), (-1.5, -1.0, -2.0), (-2.0, -1.0, -2.0), (-2.5, -1.0, -2.0)
    ).toDF("logprob", "v_head", "v_mid")
      .select(Ranking.perplexityBucket(col("logprob"), col("v_head"), col("v_mid")))
      .as[String].collect().toSeq
    assert(rule == Seq("head", "middle", "middle", "tail"))
  }

  test("stored round-trip: deploy path reproduces inline scoring bit-for-bit") {
    val m = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"))
    val dir = Files.createTempDirectory("reflm-spec").toString
    Ranking.writeRefLm(m, s"$dir/model")
    val m2 = Ranking.readRefLm(spark, s"$dir/model")
    val pool = refPoolDocs.filter(!col("is_ref"))
    val inline = Ranking.refLmScore(pool, "id", "text", m)
      .as[(Long, Long, Double)].collect().toSet
    val stored = Ranking.refLmScore(pool, "id", "text", m2)
      .as[(Long, Long, Double)].collect().toSet
    assert(inline == stored)
  }

  test("re-measure swap: overwriting the stored model re-scores consumers") {
    val dir = Files.createTempDirectory("reflm-swap").toString
    val pool = Seq((10L, "a b c")).toDF("id", "text")
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text", col("is_ref")),
      s"$dir/model")
    val before = Ranking.refLmScore(pool, "id", "text",
        Ranking.readRefLm(spark, s"$dir/model"))
      .as[(Long, Long, Double)].collect().head
    // retrain on a DIFFERENT reference (only doc 2: "b c") and overwrite
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text", col("id") === 2L),
      s"$dir/model")
    val after = Ranking.refLmScore(pool, "id", "text",
        Ranking.readRefLm(spark, s"$dir/model"))
      .as[(Long, Long, Double)].collect().head
    assert(before._3 != after._3) // the consumer re-tuned with no code change
  }

  test("keyed: each doc scores under ITS key's model; keyless langs unscored") {
    // two languages with disjoint reference statistics over shared tokens:
    //   L1 reference: "a b a b a"  (bigrams ab/ba seen)
    //   L2 reference: "b a"        (only ba seen)
    // plus pool docs, including one in a language with NO reference
    val docs = Seq(
      (1L, "a b a b a", "L1", true),
      (2L, "b a", "L2", true),
      (3L, "a b", "L1", false),
      (4L, "a b", "L2", false),
      (5L, "a b", "L3", false)
    ).toDF("id", "text", "lang", "is_ref")
    val m = Ranking.refLmTrain(docs, "text", col("is_ref"), keyCol = Some("lang"))

    // one-pass training produced BOTH models
    assert(m.totals.as[(String, Long, Long, Long)].collect().toSet ==
      Set(("L1", 5L, 2L, 2L), ("L2", 2L, 2L, 1L)))

    val got = Ranking.refLmScore(
        docs.filter(!col("is_ref")), "id", "text", m, keyCol = Some("lang"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    // L3 has no reference model -> doc 5 is unscored
    assert(got.keySet == Set(3L, 4L))
    // same text, different models: "a b" is a seen bigram under L1
    // (score high) but unseen under L2 (unigram floor only)
    assert(got(3L)._2 > got(4L)._2)
    // and each equals the UNKEYED scorer run against that slice alone
    def single(lang: String, poolId: Long): Double =
      Ranking.refLmScore(
          docs.filter(col("id") === poolId), "id", "text",
          Ranking.refLmTrain(docs.filter(col("lang") === lang && col("is_ref")),
            "text", lit(true)))
        .as[(Long, Long, Double)].collect().head._3
    assert(got(3L)._2 == single("L1", 3L))
    assert(got(4L)._2 == single("L2", 4L))
  }

  test("keyed buckets: per-key cutoffs, keys never mix") {
    // L1: 3 distinct scores -> one per bucket; L2: 2 docs -> by the
    // rank rule r1=ceil(2/3)=1, r2=ceil(6/3)=2: head + middle
    val scored = Seq(
      (1L, "L1", 2L, -1.0), (2L, "L1", 2L, -2.0), (3L, "L1", 2L, -3.0),
      (4L, "L2", 2L, -10.0), (5L, "L2", 2L, -20.0)
    ).toDF("id", "lang", "n_bigrams", "logprob")
    val got = Ranking.refLmPerplexityBuckets(scored, Some("lang"))
      .as[(String, String, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(
      ("L1", "head", 1L, -1.0, -1.0, 2L),
      ("L1", "middle", 1L, -2.0, -2.0, 2L),
      ("L1", "tail", 1L, -3.0, -3.0, 2L),
      ("L2", "head", 1L, -10.0, -10.0, 2L),
      ("L2", "middle", 1L, -20.0, -20.0, 2L)))
  }

  test("incremental merge is bit-identical to a from-scratch retrain on the union") {
    val dir = Files.createTempDirectory("reflm-merge").toString
    val p = s"$dir/model"
    // base = docs 1 only; delta = doc 2 (overlapping vocabulary)
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text",
        col("is_ref") && col("id") === 1L), p)
    Ranking.mergeIntoStoredRefLm(spark, p,
      refPoolDocs.filter(col("id") === 2L), "text")
    val merged = Ranking.readRefLm(spark, p)
    val full = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"))
    assert(merged.unigrams.as[(String, Long)].collect().toSet ==
      full.unigrams.as[(String, Long)].collect().toSet)
    assert(merged.bigrams.as[(String, String, Long)].collect().toSet ==
      full.bigrams.as[(String, String, Long)].collect().toSet)
    assert(merged.contexts.as[(String, Long)].collect().toSet ==
      full.contexts.as[(String, Long)].collect().toSet)
    assert(merged.totals.as[(Long, Long, Long)].collect().toSeq ==
      full.totals.as[(Long, Long, Long)].collect().toSeq)
    // and scoring under either is identical
    val pool = refPoolDocs.filter(!col("is_ref"))
    assert(Ranking.refLmScore(pool, "id", "text", merged)
        .as[(Long, Long, Double)].collect().toSet ==
      Ranking.refLmScore(pool, "id", "text", full)
        .as[(Long, Long, Double)].collect().toSet)
    // the staging/old siblings are gone after the swap
    val base = new java.io.File(dir)
    assert(base.list().toSet == Set("model"))
  }

  test("merge under a batch id is replay-idempotent: re-delivery is a no-op") {
    val dir = Files.createTempDirectory("reflm-replay").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text",
        col("is_ref") && col("id") === 1L), p)
    def modelCounts() = (
      Ranking.readRefLm(spark, p).unigrams.as[(String, Long)].collect().toSet,
      Ranking.readRefLm(spark, p).bigrams.as[(String, String, Long)].collect().toSet,
      Ranking.readRefLm(spark, p).totals.as[(Long, Long, Long)].collect().toSeq)
    val delta = refPoolDocs.filter(col("id") === 2L)
    assert(Ranking.mergeIntoStoredRefLm(spark, p, delta, "text",
      batchId = Some(7L)))
    val once = modelCounts()
    // the crash-between-merge-and-checkpoint replay: same batch again
    assert(!Ranking.mergeIntoStoredRefLm(spark, p, delta, "text",
      batchId = Some(7L)))
    assert(modelCounts() == once, "replayed batch must not double-count")
    // a NEW batch id still applies (the log guards ids, not contents)
    assert(Ranking.mergeIntoStoredRefLm(spark, p,
      refPoolDocs.filter(col("id") === 1L), "text",
      batchId = Some(8L)))
    assert(modelCounts() != once)
  }

  test("merge self-heals the between-renames crash window from __old") {
    val dir = Files.createTempDirectory("reflm-heal").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text",
        col("is_ref") && col("id") === 1L), p)
    // simulate a crash after rename(live -> old), before
    // rename(staged -> live): the complete model sits at __old
    assert(new java.io.File(p).renameTo(new java.io.File(s"${p}__old")))
    Ranking.mergeIntoStoredRefLm(spark, p,
      refPoolDocs.filter(col("id") === 2L), "text")
    val merged = Ranking.readRefLm(spark, p)
    val full = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"))
    assert(merged.unigrams.as[(String, Long)].collect().toSet ==
      full.unigrams.as[(String, Long)].collect().toSet)
    assert(new java.io.File(dir).list().toSet == Set("model"))
  }

  test("merge-returning frames equal the swapped-in stored model (no read-back)") {
    val dir = Files.createTempDirectory("reflm-ret").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(refPoolDocs, "text",
        col("is_ref") && col("id") === 1L), p)
    val ret = Ranking.mergeIntoStoredRefLmReturning(spark, p,
      refPoolDocs.filter(col("id") === 2L), "text").get
    try {
      val stored = Ranking.readRefLm(spark, p)
      assert(ret.model.unigrams.as[(String, Long)].collect().toSet ==
        stored.unigrams.as[(String, Long)].collect().toSet)
      assert(ret.model.bigrams.as[(String, String, Long)].collect().toSet ==
        stored.bigrams.as[(String, String, Long)].collect().toSet)
      assert(ret.model.totals.as[(Long, Long, Long)].collect().toSeq ==
        stored.totals.as[(Long, Long, Long)].collect().toSeq)
      // and the scoring path off the returned frames matches q182's
      // one-shot arithmetic (the frames ARE the model)
      val pool = refPoolDocs.filter(!col("is_ref"))
      val full = Ranking.refLmTrain(refPoolDocs, "text", col("is_ref"))
      assert(Ranking.refLmScore(pool, "id", "text", ret.model)
          .as[(Long, Long, Double)].collect().toSet ==
        Ranking.refLmScore(pool, "id", "text", full)
          .as[(Long, Long, Double)].collect().toSet)
    } finally ret.unpersist()
  }

  test("streaming reference ingest grows the stored model batch by batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("reflm-ingest").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(Seq((1L, "a b a b a")).toDF("id", "text"),
        "text", lit(true)), p)
    val stream = MemoryStream[Doc]
    val q = graft.streaming.StreamingPerplexity.ingestReference(
      stream.toDF(), "text", p, s"$dir/ck")
    try {
      stream.addData(Doc(2L, "b c"))
      q.processAllAvailable()
    } finally q.stop()
    val grown = Ranking.readRefLm(spark, p)
    val full = Ranking.refLmTrain(
      Seq((1L, "a b a b a"), (2L, "b c")).toDF("id", "text"),
      "text", lit(true))
    assert(grown.unigrams.as[(String, Long)].collect().toSet ==
      full.unigrams.as[(String, Long)].collect().toSet)
    assert(grown.totals.as[(Long, Long, Long)].collect().toSeq ==
      full.totals.as[(Long, Long, Long)].collect().toSeq)
  }

  test("readRefLm fails fast on an empty-reference artifact") {
    // one reader, both kept checks, every stored shape: an unkeyed model
    // of any order needs one non-null totals row with a positive token
    // count, a keyed model a non-empty totals table
    val dir = Files.createTempDirectory("reflm-empty").toString
    val empty = Seq(
      "order2" -> Ranking.refLmTrain(refPoolDocs, "text", lit(false)),
      "order3" -> Ranking.refLmTrain(refPoolDocs, "text", lit(false), 3),
      "order5" -> Ranking.refLmTrain(refPoolDocs, "text", lit(false), 5),
      "keyed" -> Ranking.refLmTrain(refPoolDocs.withColumn("lang", lit("L1")),
        "text", lit(false), 3, Some("lang")))
    empty.foreach { case (name, m) =>
      Ranking.writeRefLm(m, s"$dir/$name")
      val e = intercept[IllegalArgumentException] {
        Ranking.readRefLm(spark, s"$dir/$name")
      }
      assert(e.getMessage.contains("totals"), name)
    }
  }
}
