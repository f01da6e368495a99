package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking
import graft.streaming.StreamingPerplexity

final case class LangDoc(doc_id: Long, text: String, lang: String)

/** Streaming ingest-time perplexity gating: micro-batches scored under
  * the STORED reference LM and bucketed at the STORED cutoffs — the
  * stream gates at measured numbers, and re-measuring re-tunes it with
  * no code change.
  */
class StreamingPerplexitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // reference: prose-like bigram structure over {a,b}; "x"/"y" are OOV
  private def refDocs = Seq(
    (1L, "a b a b a b a"),
    (2L, "a b a")
  ).toDF("id", "text")

  test("micro-batches gate at stored artifacts; decisions match the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl").toString
    val (modelPath, cutPath) = (s"$dir/model", s"$dir/cutoffs")
    val model = Ranking.refLmTrain(refDocs, "text", lit(true))
    Ranking.writeRefLm(model, modelPath)
    // cutoffs measured on a calibration pool the batch pipeline owns
    val calib = Seq(
      (10L, "a b a b"), (11L, "a b x"), (12L, "x y x")
    ).toDF("id", "text")
    Ranking.writeRefLmCutoffs(
      Ranking.refLmCutoffs(Ranking.refLmScore(calib, "id", "text", model)),
      cutPath)
    val (vHead, vMid) = Ranking.readRefLmCutoffs(spark, cutPath)
      .as[(Double, Double)].head()

    val stream = MemoryStream[Doc]
    val decDir = s"$dir/decisions"
    val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
      (b, m) => Ranking.refLmScore(b, "doc_id", "text", m),
      modelPath, cutPath, decDir, s"$dir/ck")
    try {
      stream.addData(Doc(100L, "a b a b a"), Doc(101L, "x y"),
        Doc(104L, "a")) // single token -> no bigram -> unscored
      q.processAllAvailable()
      stream.addData(Doc(102L, "a b x y"))
      q.processAllAvailable()
    } finally q.stop()

    val all = spark.read.parquet(decDir)
      .select("doc_id", "logprob", "bucket", "batch_id")
      .as[(Long, Option[Double], String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(all.keySet == Set(100L, 101L, 102L, 104L))
    assert(all(104L)._1.isEmpty && all(104L)._2 == "unscored")
    val dec = (all - 104L).map { case (k, (lp, b, bid)) => k -> ((lp.get, b, bid)) }
    assert(dec(100L)._3 == 0L && dec(102L)._3 == 1L)

    // every decision must agree with the batch scorer at the stored cutoffs
    val expect = Ranking.refLmScore(
        Seq((100L, "a b a b a"), (101L, "x y"), (102L, "a b x y"))
          .toDF("doc_id", "text"),
        "doc_id", "text", Ranking.readRefLm(spark, modelPath))
      .as[(Long, Long, Double)].collect().map { case (id, _, lp) =>
        id -> ((lp, if (lp >= vHead) "head" else if (lp >= vMid) "middle" else "tail"))
      }.toMap
    dec.foreach { case (id, (lp, bucket, _)) =>
      assert((lp, bucket) == expect(id), s"doc $id")
    }
    // the reference-like doc outranks the OOV doc
    assert(dec(100L)._1 > dec(101L)._1)
  }

  test("keyed gate: per-language models and cutoffs; unmodeled languages surface, never vanish") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl-keyed").toString
    val (modelPath, cutPath) = (s"$dir/model", s"$dir/cutoffs")
    // L1's reference knows bigram "a b"; L2's ONLY bigram is "b a";
    // L3 has a model but its calibration doc is too short to score,
    // so the cutoffs artifact carries NO L3 row
    val refs = Seq(
      (1L, "a b a b a", "L1"), (2L, "b a", "L2"), (3L, "c d c", "L3")
    ).toDF("id", "text", "lang")
    val m = Ranking.refLmTrain(refs, "text", lit(true), keyCol = Some("lang"))
    Ranking.writeRefLm(m, modelPath)
    val calib = Seq(
      (10L, "a b a", "L1"), (11L, "x y", "L1"),
      (12L, "b a b", "L2"), (13L, "x y", "L2"),
      (14L, "c", "L3")
    ).toDF("id", "text", "lang")
    Ranking.writeRefLmCutoffs(
      Ranking.refLmCutoffs(
        Ranking.refLmScore(calib, "id", "text", m, keyCol = Some("lang")), Some("lang")),
      cutPath)

    val stream = MemoryStream[LangDoc]
    val decDir = s"$dir/decisions"
    val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
      (b, m) => Ranking.refLmScore(b, "doc_id", "text", m, keyCol = Some("lang")),
      modelPath, cutPath, decDir, s"$dir/ck", keyCol = Some("lang"))
    try {
      stream.addData(
        LangDoc(100L, "a b a b", "L1"),   // reference-like under L1
        LangDoc(101L, "a b a b", "L2"),   // same text, L2's model: unseen pair
        LangDoc(102L, "a b", "L9"),       // no L9 model -> unmodeled
        LangDoc(103L, "a", "L1"),         // modeled key, no bigram -> unscored
        LangDoc(105L, "c d", "L3"))       // scores, but L3 has no cutoffs row
      q.processAllAvailable()
    } finally q.stop()

    val dec = spark.read.parquet(decDir)
      .select("doc_id", "lang", "logprob", "bucket")
      .as[(Long, String, Option[Double], String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(dec.keySet == Set(100L, 101L, 102L, 103L, 105L))
    assert(dec(102L) == (("L9", None, "unmodeled")))
    // modeled language + bigram-less doc: too-short-to-score, NOT a
    // route-to-training signal — the keyed gate distinguishes them
    assert(dec(103L) == (("L1", None, "unscored")))
    // modeled + SCORED, but the key has no measured cutoffs:
    // `unmeasured` with the real score — route to cutoff measurement,
    // never back to training a model that already exists
    assert(dec(105L)._1 == "L3" && dec(105L)._3 == "unmeasured"
      && dec(105L)._2.isDefined)
    // same text, different language models: L1 scores it higher
    assert(dec(100L)._2.get > dec(101L)._2.get)
    // labels agree with the batch keyed scorer at the stored cutoffs
    val cuts = Ranking.readRefLmCutoffs(spark, cutPath, Some("lang"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Seq(100L -> "L1", 101L -> "L2").foreach { case (id, lang) =>
      val (vh, vm) = cuts(lang)
      val lp = dec(id)._2.get
      val expect = if (lp >= vh) "head" else if (lp >= vm) "middle" else "tail"
      assert(dec(id)._3 == expect, s"doc $id")
    }
  }

  test("a malformed cutoff artifact fails the gate fast, naming its path") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl-badcuts").toString
    val refs = Seq((1L, "a b a b a", "L1"), (2L, "b a b", "L2"))
      .toDF("id", "text", "lang")
    val (keyedModel, plainModel) = (s"$dir/keyed_model", s"$dir/model")
    Ranking.writeRefLm(
      Ranking.refLmTrain(refs, "text", lit(true), keyCol = Some("lang")), keyedModel)
    Ranking.writeRefLm(Ranking.refLmTrain(refDocs, "text", lit(true)), plainModel)
    val batch = Seq((100L, "a b a b", "L1"), (101L, "b a b a", "L2"))
      .toDF("doc_id", "text", "lang")
    val ok = Some(-1.0)
    // artifacts the measurement never writes: each must stop the gate
    // before a decision is appended, not relabel or duplicate docs
    val keyedBad = Seq(
      "empty" -> Seq.empty[(String, Option[Double], Option[Double])],
      "repeated_key" -> Seq(("L1", ok, ok), ("L1", ok, ok), ("L2", ok, ok)),
      "null_key" -> Seq((null, ok, ok), ("L1", ok, ok), ("L2", ok, ok)),
      "null_v_head" -> Seq(("L1", None, ok), ("L2", ok, ok)),
      "null_v_mid" -> Seq(("L1", ok, None), ("L2", ok, ok)))
    val plainBad = Seq(
      "two_rows" -> Seq((ok, ok), (ok, ok)),
      "null_v_mid_plain" -> Seq((ok, None)))
    val cases =
      keyedBad.map { case (name, rows) =>
        (name, rows.toDF("lang", "v_head", "v_mid"), keyedModel, Some("lang")) } ++
      plainBad.map { case (name, rows) =>
        (name, rows.toDF("v_head", "v_mid"), plainModel, None) }
    cases.foreach { case (name, cuts, modelPath, keyCol) =>
      val (cutPath, decDir) = (s"$dir/cutoffs_$name", s"$dir/decisions_$name")
      cuts.write.parquet(cutPath)
      val e = intercept[IllegalArgumentException] {
        StreamingPerplexity.gateBatch(batch, "doc_id",
          (b, m) => Ranking.refLmScore(b, "doc_id", "text", m, keyCol = keyCol),
          modelPath, cutPath, decDir, 0L, keyCol)
      }
      assert(e.getMessage.contains(cutPath), name)
      assert(!new java.io.File(decDir).exists, name)
    }
    // the curation stage reads the same artifact through the same check
    intercept[IllegalArgumentException](
      graft.operators.DocPipeline.PerplexityStage.fromStoredArtifacts(
        spark, keyedModel, s"$dir/cutoffs_null_v_mid", "lang"))
  }

  test("re-measure swap: overwriting the stored cutoffs re-tunes the next batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl-swap").toString
    val (modelPath, cutPath) = (s"$dir/model", s"$dir/cutoffs")
    Ranking.writeRefLm(
      Ranking.refLmTrain(refDocs, "text", lit(true)), modelPath)
    // generous cutoffs: everything is head
    Ranking.writeRefLmCutoffs(
      Seq((-100.0, -100.0)).toDF("v_head", "v_mid"), cutPath)

    val stream = MemoryStream[Doc]
    val decDir = s"$dir/decisions"
    val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
      (b, m) => Ranking.refLmScore(b, "doc_id", "text", m),
      modelPath, cutPath, decDir, s"$dir/ck")
    try {
      stream.addData(Doc(1L, "x y"))
      q.processAllAvailable()
      // the batch pipeline re-measures: now nothing clears head/middle
      Ranking.writeRefLmCutoffs(
        Seq((100.0, 100.0)).toDF("v_head", "v_mid"), cutPath)
      stream.addData(Doc(2L, "x y"))
      q.processAllAvailable()
    } finally q.stop()

    val dec = spark.read.parquet(decDir)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(dec == Map(1L -> "head", 2L -> "tail"))
  }

  test("reference ingest is replay-idempotent: a re-delivered batch cannot double-count") {
    val dir = Files.createTempDirectory("stream-ppl-replay").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(Ranking.refLmTrain(refDocs, "text", lit(true)), p)
    val batch = Seq((10L, "b c")).toDF("doc_id", "text")
    // batch 0 merges; the crash-before-checkpoint-commit replay
    // re-delivers the SAME batch id — the applied log (swapped
    // atomically with the counts) makes it a no-op
    assert(StreamingPerplexity.ingestReferenceBatch(
      batch, "text", p, batchId = 0L))
    val once = Ranking.readRefLm(spark, p)
      .unigrams.as[(String, Long)].collect().toSet
    assert(!StreamingPerplexity.ingestReferenceBatch(
      batch, "text", p, batchId = 0L))
    assert(Ranking.readRefLm(spark, p)
      .unigrams.as[(String, Long)].collect().toSet == once)
    // counts are bit-equal to one clean delivery over the union
    val full = Ranking.refLmTrain(
      refDocs.unionByName(batch.toDF("id", "text")), "text", lit(true))
    assert(once == full.unigrams.as[(String, Long)].collect().toSet)
    // the next batch id still applies
    assert(StreamingPerplexity.ingestReferenceBatch(
      Seq((11L, "c d")).toDF("doc_id", "text"), "text", p,
      batchId = 1L))
  }

  test("order-3 gate: micro-batches score under the stored trigram model; trigram-less docs are unscored") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl3").toString
    val modelPath = s"$dir/model"
    val model = Ranking.refLmTrain(refDocs, "text", lit(true), 3)
    Ranking.writeRefLm(model, modelPath)
    val calib = Seq(
      (10L, "a b a b"), (11L, "a b x"), (12L, "x y x")
    ).toDF("id", "text")
    // the same gate under both order-3 smoothings, each at cutoffs
    // measured under its own scorer
    val scorers: Seq[(String, (DataFrame, String, Ranking.RefLmModel) => DataFrame)] = Seq(
      "jm3" -> ((df, id, m) => Ranking.refLm3Score(df, id, "text", m)),
      "kn3" -> ((df, id, m) => Ranking.refLmKnScore(df, id, "text", m, 3)))
    scorers.foreach { case (name, score) =>
      val cutPath = s"$dir/cutoffs_$name"
      Ranking.writeRefLmCutoffs(
        Ranking.refLmCutoffs(score(calib, "id", model)), cutPath)
      val (vHead, vMid) = Ranking.readRefLmCutoffs(spark, cutPath)
        .as[(Double, Double)].head()

      val stream = MemoryStream[Doc]
      val decDir = s"$dir/decisions_$name"
      val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
        (b, m) => score(b, "doc_id", m),
        modelPath, cutPath, decDir, s"$dir/ck_$name")
      try {
        stream.addData(Doc(100L, "a b a b a"), Doc(101L, "x y x"),
          Doc(104L, "a b")) // a bigram but NO trigram -> unscored at order 3
        q.processAllAvailable()
        stream.addData(Doc(102L, "a b a x"))
        q.processAllAvailable()
      } finally q.stop()

      val log = spark.read.parquet(decDir)
      assert(log.columns.toSeq ==
        Seq("doc_id", "n_trigrams", "logprob", "bucket", "batch_id"), name)
      val all = log.select("doc_id", "logprob", "bucket", "batch_id")
        .as[(Long, Option[Double], String, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(all.keySet == Set(100L, 101L, 102L, 104L), name)
      assert(all(104L)._1.isEmpty && all(104L)._2 == "unscored", name)
      val dec = (all - 104L).map { case (k, (lp, b, bid)) => k -> ((lp.get, b, bid)) }
      assert(dec(100L)._3 == 0L && dec(102L)._3 == 1L, name)

      // every decision agrees with the batch order-3 scorer at the
      // stored cutoffs
      val expect = score(
          Seq((100L, "a b a b a"), (101L, "x y x"), (102L, "a b a x"))
            .toDF("doc_id", "text"),
          "doc_id", Ranking.readRefLm(spark, modelPath))
        .as[(Long, Long, Double)].collect().map { case (id, _, lp) =>
          id -> ((lp, if (lp >= vHead) "head" else if (lp >= vMid) "middle" else "tail"))
        }.toMap
      dec.foreach { case (id, (lp, bucket, _)) =>
        assert((lp, bucket) == expect(id), s"$name doc $id")
      }
      // the reference-like doc outranks the OOV doc at order 3 too
      assert(dec(100L)._1 > dec(101L)._1, name)
    }
  }

  test("keyed order-3 gate: per-language trigram models; unmodeled vs unscored split holds") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl3-keyed").toString
    val (modelPath, cutPath) = (s"$dir/model", s"$dir/cutoffs")
    val refs = Seq(
      (1L, "a b a b a", "L1"), (2L, "b a b", "L2")
    ).toDF("id", "text", "lang")
    val m = Ranking.refLmTrain(refs, "text", lit(true), 3, Some("lang"))
    Ranking.writeRefLm(m, modelPath)
    val calib = Seq(
      (10L, "a b a b", "L1"), (11L, "x y z", "L1"),
      (12L, "b a b a", "L2"), (13L, "x y z", "L2")
    ).toDF("id", "text", "lang")
    Ranking.writeRefLmCutoffs(
      Ranking.refLmCutoffs(
        Ranking.refLm3Score(calib, "id", "text", m, keyCol = Some("lang")), Some("lang")),
      cutPath)

    val stream = MemoryStream[LangDoc]
    val decDir = s"$dir/decisions"
    val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
      (b, m) => Ranking.refLm3Score(b, "doc_id", "text", m, keyCol = Some("lang")),
      modelPath, cutPath, decDir, s"$dir/ck", keyCol = Some("lang"))
    try {
      stream.addData(
        LangDoc(100L, "a b a b a", "L1"),  // reference-like under L1
        LangDoc(101L, "a b a b a", "L2"),  // same text, L2's trigram stats
        LangDoc(102L, "a b c", "L9"),      // no L9 model -> unmodeled
        LangDoc(103L, "a b", "L1"))        // modeled key, no trigram -> unscored
      q.processAllAvailable()
    } finally q.stop()

    val dec = spark.read.parquet(decDir)
      .select("doc_id", "lang", "logprob", "bucket")
      .as[(Long, String, Option[Double], String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(dec.keySet == Set(100L, 101L, 102L, 103L))
    assert(dec(102L) == (("L9", None, "unmodeled")))
    assert(dec(103L) == (("L1", None, "unscored")))
    // labels agree with the batch keyed order-3 scorer at stored cutoffs
    val cuts = Ranking.readRefLmCutoffs(spark, cutPath, Some("lang"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Seq(100L -> "L1", 101L -> "L2").foreach { case (id, lang) =>
      val (vh, vm) = cuts(lang)
      val lp = dec(id)._2.get
      val expect = if (lp >= vh) "head" else if (lp >= vm) "middle" else "tail"
      assert(dec(id)._3 == expect, s"doc $id")
    }
    // same surface text, different per-language trigram stats
    assert(dec(100L)._2.get != dec(101L)._2.get)
  }

  test("keyed Kneser-Ney gate: KN scores at KN-measured cutoffs; three-way routing split holds") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl-kn3-keyed").toString
    val (modelPath, cutPath) = (s"$dir/model", s"$dir/cutoffs")
    // L3 has a trained model but its calibration doc is too short to
    // score at order 3, so the KN cutoffs artifact carries NO L3 row
    val refs = Seq(
      (1L, "a b a b a", "L1"), (2L, "b a b", "L2"), (3L, "c d c d", "L3")
    ).toDF("id", "text", "lang")
    val m = Ranking.refLmTrain(refs, "text", lit(true), 3, Some("lang"))
    Ranking.writeRefLm(m, modelPath)
    val calib = Seq(
      (10L, "a b a b", "L1"), (11L, "x y z", "L1"),
      (12L, "b a b a", "L2"), (13L, "x y z", "L2"),
      (14L, "c d", "L3")
    ).toDF("id", "text", "lang")
    // cutoffs measured under the KN scorer — the gate's thresholds
    // must come from the same smoothing it scores with
    Ranking.writeRefLmCutoffs(
      Ranking.refLmCutoffs(
        Ranking.refLmKnScore(calib, "id", "text", m, 3, keyCol = Some("lang")), Some("lang")),
      cutPath)

    val stream = MemoryStream[LangDoc]
    val decDir = s"$dir/decisions"
    val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
      (b, m) => Ranking.refLmKnScore(b, "doc_id", "text", m, 3, keyCol = Some("lang")),
      modelPath, cutPath, decDir, s"$dir/ck", keyCol = Some("lang"))
    try {
      stream.addData(
        LangDoc(100L, "a b a b a", "L1"),  // reference-like under L1
        LangDoc(101L, "a b a b a", "L2"),  // same text, L2's KN stats
        LangDoc(102L, "a b c", "L9"),      // no L9 model -> unmodeled
        LangDoc(103L, "a b", "L1"),        // modeled key, no trigram -> unscored
        LangDoc(105L, "c d c", "L3"))      // scores, but no L3 cutoffs row
      q.processAllAvailable()
    } finally q.stop()

    val dec = spark.read.parquet(decDir)
      .select("doc_id", "lang", "logprob", "bucket")
      .as[(Long, String, Option[Double], String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(dec.keySet == Set(100L, 101L, 102L, 103L, 105L))
    assert(spark.read.parquet(decDir).columns.toSeq ==
      Seq("doc_id", "lang", "n_trigrams", "logprob", "bucket", "batch_id"))
    assert(dec(102L) == (("L9", None, "unmodeled")))
    assert(dec(103L) == (("L1", None, "unscored")))
    // scored under a modeled key with no measured KN cutoffs:
    // `unmeasured` with the real score
    assert(dec(105L)._1 == "L3" && dec(105L)._3 == "unmeasured"
      && dec(105L)._2.isDefined)
    // decisions carry the KN score, not the JM one
    val knExpect = Ranking.refLmKnScore(
        Seq((100L, "a b a b a", "L1"), (101L, "a b a b a", "L2"))
          .toDF("doc_id", "text", "lang"),
        "doc_id", "text", Ranking.readRefLm(spark, modelPath), 3, keyCol = Some("lang"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(dec(100L)._2.get == knExpect(100L))
    assert(dec(101L)._2.get == knExpect(101L))
    // labels agree with the stored KN cutoffs
    val cuts = Ranking.readRefLmCutoffs(spark, cutPath, Some("lang"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Seq(100L -> "L1", 101L -> "L2").foreach { case (id, lang) =>
      val (vh, vm) = cuts(lang)
      val lp = dec(id)._2.get
      val expect = if (lp >= vh) "head" else if (lp >= vm) "middle" else "tail"
      assert(dec(id)._3 == expect, s"doc $id")
    }
  }

  test("order-3 reference ingest is replay-idempotent across all six tables") {
    val dir = Files.createTempDirectory("stream-ppl3-replay").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(refDocs, "text", lit(true), 3), p)
    val batch = Seq((10L, "b c b")).toDF("doc_id", "text")
    assert(StreamingPerplexity.ingestReferenceBatch(
      batch, "text", p, batchId = 0L))
    def snap() = {
      val m = Ranking.readRefLm(spark, p)
      (m.unigrams.as[(String, Long)].collect().toSet,
        m.trigrams.as[(String, String, String, Long)].collect().toSet)
    }
    val once = snap()
    // the re-delivered batch id is a no-op at order 3 too
    assert(!StreamingPerplexity.ingestReferenceBatch(
      batch, "text", p, batchId = 0L))
    assert(snap() == once)
    // counts are bit-equal to one clean retrain over the union
    val full = Ranking.refLmTrain(
      refDocs.unionByName(batch.toDF("id", "text")), "text", lit(true), 3)
    assert(once._1 == full.unigrams.as[(String, Long)].collect().toSet)
    assert(once._2 ==
      full.trigrams.as[(String, String, String, Long)].collect().toSet)
    // the next batch id still applies
    assert(StreamingPerplexity.ingestReferenceBatch(
      Seq((11L, "c d c")).toDF("doc_id", "text"), "text", p,
      batchId = 1L))
  }

  test("keyed order-5 KN gate: pruned-config scores at matching cutoffs; routing split holds") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream-ppl-kn5-keyed").toString
    val (modelPath, cutPath) = (s"$dir/model", s"$dir/cutoffs")
    // L3's calibration doc is too short to score at order 5, so the
    // cutoff artifact carries no L3 row (unmeasured route)
    val refs = Seq(
      (1L, "a b c d e a b c d e", "L1"),
      (2L, "e d c b a e d c b a", "L2"),
      (3L, "p q r s t p q r s t", "L3")
    ).toDF("id", "text", "lang")
    // the SERVING pruning config (minCount 2) is the model's, stored with it
    val m = Ranking.refLmTrain(refs, "text", lit(true), 5, Some("lang"), minCount = 2)
    Ranking.writeRefLm(m, modelPath)
    val calib = Seq(
      (10L, "a b c d e a", "L1"), (11L, "v w x y z", "L1"),
      (12L, "e d c b a e", "L2"), (13L, "v w x y z", "L2"),
      (14L, "p q r", "L3")
    ).toDF("id", "text", "lang")
    // cutoffs measured at that pruning config
    Ranking.writeRefLmCutoffs(
      Ranking.refLmCutoffs(
        Ranking.refLmKnScore(calib, "id", "text", m, 5, keyCol = Some("lang")), Some("lang")),
      cutPath)

    val stream = MemoryStream[LangDoc]
    val decDir = s"$dir/decisions"
    val q = StreamingPerplexity.start(stream.toDF(), "doc_id",
      (b, m) => Ranking.refLmKnScore(b, "doc_id", "text", m, 5, keyCol = Some("lang")),
      modelPath, cutPath, decDir, s"$dir/ck", keyCol = Some("lang"))
    try {
      stream.addData(
        LangDoc(100L, "a b c d e a b", "L1"),  // reference-like under L1
        LangDoc(101L, "a b c d e a b", "L2"),  // same text, L2's stats
        LangDoc(102L, "a b c d e f", "L9"),    // no L9 model -> unmodeled
        LangDoc(103L, "a b c d", "L1"),        // < 5 tokens -> unscored
        LangDoc(105L, "p q r s t p", "L3"))    // scores, no L3 cutoffs
      q.processAllAvailable()
    } finally q.stop()

    val dec = spark.read.parquet(decDir)
      .select("doc_id", "lang", "logprob", "bucket")
      .as[(Long, String, Option[Double], String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(dec.keySet == Set(100L, 101L, 102L, 103L, 105L))
    assert(dec(102L) == (("L9", None, "unmodeled")))
    assert(dec(103L) == (("L1", None, "unscored")))
    assert(dec(105L)._1 == "L3" && dec(105L)._3 == "unmeasured"
      && dec(105L)._2.isDefined)
    // decisions carry the PRUNED-config KN5 score
    val knExpect = Ranking.refLmKnScore(
        Seq((100L, "a b c d e a b", "L1"), (101L, "a b c d e a b", "L2"))
          .toDF("doc_id", "text", "lang"),
        "doc_id", "text", Ranking.readRefLm(spark, modelPath), 5, keyCol = Some("lang"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(dec(100L)._2.get == knExpect(100L))
    assert(dec(101L)._2.get == knExpect(101L))
    val cuts5 = Ranking.readRefLmCutoffs(spark, cutPath, Some("lang"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Seq(100L -> "L1", 101L -> "L2").foreach { case (id, lang) =>
      val (vh, vm) = cuts5(lang)
      val lp = dec(id)._2.get
      val expect = if (lp >= vh) "head" else if (lp >= vm) "middle" else "tail"
      assert(dec(id)._3 == expect, s"doc $id")
    }
  }
}
