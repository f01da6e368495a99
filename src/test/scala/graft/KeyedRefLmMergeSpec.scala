package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking
import graft.streaming.StreamingPerplexity

/** Incremental count-merge for the KEYED reference-LM fleet: a delta
  * mixing languages merges into the stored per-language tables in one
  * pass, bit-identical to a from-scratch keyed retrain on the union —
  * per-language corpora grow at different rates, and retraining a
  * hundred languages because one grew is the anti-pattern this closes.
  */
class KeyedRefLmMergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def baseDocs = Seq(
    (1L, "a b a b a", "L1"),
    (2L, "b c", "L1"),
    (3L, "a b a b a b", "L2")
  ).toDF("id", "text", "lang")

  // the delta mixes languages AND introduces a brand-new key (L3):
  // the merge must grow L1, leave L2's counts untouched by L1's
  // delta, and create L3's model from nothing
  private def deltaDocs = Seq(
    (10L, "b c b", "L1"),
    (11L, "c a c a", "L3")
  ).toDF("id", "text", "lang")

  private def uniSet(m: Ranking.RefLmModel) =
    m.unigrams.as[(String, String, Long)].collect().toSet
  private def bigSet(m: Ranking.RefLmModel) =
    m.bigrams.as[(String, String, String, Long)].collect().toSet
  private def totSet(m: Ranking.RefLmModel) =
    m.totals.as[(String, Long, Long, Long)].collect().toSet

  test("keyed merge == keyed retrain on the union; replay-guarded; new keys appear") {
    val dir = Files.createTempDirectory("keyed-reflm-merge").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(baseDocs, "text", lit(true), keyCol = Some("lang")), p)
    assert(Ranking.mergeIntoStoredRefLm(spark, p, deltaDocs,
      "text", batchId = Some(7L), keyCol = Some("lang")))
    val merged = Ranking.readRefLm(spark, p)
    val full = Ranking.refLmTrain(
      baseDocs.unionByName(deltaDocs), "text", lit(true), keyCol = Some("lang"))
    assert(uniSet(merged) == uniSet(full))
    assert(bigSet(merged) == bigSet(full))
    assert(totSet(merged) == totSet(full))
    // L3 was born in the merge; L2 is untouched by the delta
    assert(totSet(merged).exists(_._1 == "L3"))
    assert(totSet(merged).filter(_._1 == "L2") ==
      totSet(Ranking.refLmTrain(baseDocs, "text",
        lit(true), keyCol = Some("lang"))).filter(_._1 == "L2"))
    // scoring under merged vs retrained is identical for every key
    val pool = Seq((20L, "a b c", "L1"), (21L, "a b c", "L2"),
      (22L, "c a", "L3")).toDF("id", "text", "lang")
    assert(Ranking.refLmScore(pool, "id", "text", merged, keyCol = Some("lang"))
        .as[(Long, String, Long, Double)].collect().toSet ==
      Ranking.refLmScore(pool, "id", "text", full, keyCol = Some("lang"))
        .as[(Long, String, Long, Double)].collect().toSet)
    // a replayed batch id is a no-op
    assert(!Ranking.mergeIntoStoredRefLm(spark, p, deltaDocs,
      "text", batchId = Some(7L), keyCol = Some("lang")))
    assert(uniSet(Ranking.readRefLm(spark, p)) == uniSet(full))
    // staging/old siblings are gone after the swap
    assert(new java.io.File(dir).list().toSet == Set("model"))
  }

  test("keyed order-3 merge == keyed order-3 retrain on the union; replay-guarded") {
    val dir = Files.createTempDirectory("keyed-reflm3-merge").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(baseDocs, "text", lit(true), 3, Some("lang")), p)
    assert(Ranking.mergeIntoStoredRefLm(spark, p, deltaDocs,
      "text", batchId = Some(3L), keyCol = Some("lang")))
    val merged = Ranking.readRefLm(spark, p)
    val full = Ranking.refLmTrain(
      baseDocs.unionByName(deltaDocs), "text", lit(true), 3, Some("lang"))
    assert(merged.trigrams.as[(String, String, String, String, Long)]
        .collect().toSet ==
      full.trigrams.as[(String, String, String, String, Long)].collect().toSet)
    assert(merged.triContexts.as[(String, String, String, Long)]
        .collect().toSet ==
      full.triContexts.as[(String, String, String, Long)].collect().toSet)
    assert(uniSet(merged) == uniSet(full))
    assert(totSet(merged) == totSet(full))
    val pool = Seq((20L, "a b a c", "L1"), (21L, "a b a c", "L2"),
      (22L, "c a c", "L3")).toDF("id", "text", "lang")
    assert(Ranking.refLm3Score(pool, "id", "text", merged, keyCol = Some("lang"))
        .as[(Long, String, Long, Double)].collect().toSet ==
      Ranking.refLm3Score(pool, "id", "text", full, keyCol = Some("lang"))
        .as[(Long, String, Long, Double)].collect().toSet)
    assert(!Ranking.mergeIntoStoredRefLm(spark, p, deltaDocs,
      "text", batchId = Some(3L), keyCol = Some("lang")))
  }

  test("streaming keyed ingest merges mixed-language micro-batches replay-idempotently") {
    val dir = Files.createTempDirectory("keyed-reflm-stream").toString
    val p = s"$dir/model"
    Ranking.writeRefLm(
      Ranking.refLmTrain(baseDocs, "text", lit(true), keyCol = Some("lang")), p)
    val batch = Seq((10L, "b c b", "L1"), (11L, "c a", "L2"))
      .toDF("doc_id", "text", "lang")
    assert(StreamingPerplexity.ingestReferenceBatch(
      batch, "text", p, batchId = 0L, keyCol = Some("lang")))
    val once = uniSet(Ranking.readRefLm(spark, p))
    assert(!StreamingPerplexity.ingestReferenceBatch(
      batch, "text", p, batchId = 0L, keyCol = Some("lang")))
    assert(uniSet(Ranking.readRefLm(spark, p)) == once)
    // counts are bit-equal to one clean delivery over the union
    assert(once == uniSet(Ranking.refLmTrain(
      baseDocs.unionByName(batch.toDF("id", "text", "lang")),
      "text", lit(true), keyCol = Some("lang"))))
  }
}
