package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.operators.Ranking

/** Ingest-time perplexity gating over a document STREAM — the
  * streaming twin of the batch reference-LM bucket path, in the shape
  * a production ingest runs: every micro-batch is scored under the
  * STORED reference LM ([[Ranking.readRefLm]]) and labeled
  * head/middle/tail ([[Ranking.perplexityBucket]]) against the STORED
  * cutoff values ([[Ranking.readRefLmCutoffs]]), never against
  * tertiles of the batch itself — a micro-batch is a biased sample, so
  * its own order statistics would drift gate semantics batch to batch.
  * Both artifacts are measurements owned by the batch pipeline:
  * retrain the LM or re-measure the cutoffs and the stream re-tunes at
  * its next micro-batch with no code change.
  *
  * One gate serves every order and smoothing, keyed or not: the caller
  * passes the scorer the cutoffs were measured under as a function of
  * (batch, model), e.g. `(b, m) => Ranking.refLmKnScore(b, "doc_id",
  * "text", m, 3, keyCol = Some("lang"))`. With `keyCol` every doc gates at
  * ITS key's model and cutoff row (one model per language).
  *
  * Why `foreachBatch` and not a streaming aggregation: scoring needs
  * the model joins plus a per-doc aggregate per batch —
  * `foreachBatch` gives each micro-batch the full batch planner (the
  * [[StreamingCuration]] rationale), and the model tables are static
  * parquet the batch plan joins as ordinary relations (AQE broadcasts
  * the vocabulary-sized sides when it measures small).
  *
  * Delivery semantics: the decisions output is an append log,
  * at-least-once under replay — a crashed batch re-emits its rows
  * with the same (batch_id, id); downstream consumers dedup on that
  * key. Re-reading the artifacts per batch (one plan build + a
  * validating aggregate over the cutoff rows) is what makes the live
  * re-tune real.
  */
object StreamingPerplexity {

  /** Score and label one micro-batch; append (id, [keyCol], <count
    * column>, logprob, bucket, batch_id) to `decisionsDir`. The count
    * column is the scorer's own (`n_bigrams`, `n_trigrams` or
    * `n_5grams`). `score` must be keyed by `keyCol` exactly when the
    * gate is. Documents are never silently dropped:
    *   - `unscored`, NULL score: fewer tokens than the model order
    *     (under a modeled key, when keyed)
    *   - keyed only, `unmodeled`, NULL score: the key has no stored
    *     model — a routing decision (send the language to training)
    *   - keyed only, `unmeasured`, real score: the key has a model but
    *     no cutoffs row — route to cutoff measurement, not training
    * Exposed for direct use and testing — [[start]]'s `foreachBatch`
    * calls exactly this.
    */
  def gateBatch(
      batch: DataFrame,
      idCol: String,
      score: (DataFrame, Ranking.RefLmModel) => DataFrame,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long,
      keyCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val cuts = broadcast(Ranking.readRefLmCutoffs(spark, cutoffsPath, keyCol))
    val ids = (idCol +: keyCol.toSeq).map(col)
    // persisted for the batch write: the labeled branch AND the
    // missing-doc anti-join both read `scored`, and without the pin
    // the scoring pipeline would execute twice per micro-batch
    val scored = score(batch, model).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = Ranking.countCol(scored)
      // a SCORED row's key has a model by construction (the scorer's
      // totals join is inner), so a missing cutoffs row means the key
      // is `unmeasured`, never `unmodeled`; unkeyed, the one validated
      // cutoffs row cross-joins and `v_head` is never NULL
      val labeled = keyCol.fold(scored.crossJoin(cuts))(
          k => scored.join(cuts, Seq(k), "left"))
        .select(ids ++ Seq(col(n), col("logprob"),
          when(col("v_head").isNull, lit("unmeasured"))
            .otherwise(Ranking.perplexityBucket(
              col("logprob"), col("v_head"), col("v_mid"))).as("bucket")): _*)
      val dropped = batch.join(scored.select(col(idCol)), Seq(idCol), "left_anti")
      // keyed, the docs the scorer dropped split by WHY: a short doc
      // under a key that HAS a stored model is `unscored`, a key absent
      // from the stored totals is `unmodeled`. Conflating them would
      // hide short docs of modeled languages behind the
      // train-a-new-model signal
      val (missing, why) = keyCol.fold((dropped, lit("unscored"))) { k =>
        val modeled = model.totals.select(col("__k").as(k), lit(true).as("__modeled"))
        (dropped.join(broadcast(modeled), Seq(k), "left"),
          when(col("__modeled"), lit("unscored")).otherwise(lit("unmodeled")))
      }
      labeled.unionByName(missing.select(ids ++ Seq(
          lit(null).cast("long").as(n),
          lit(null).cast("double").as("logprob"),
          why.as("bucket")): _*))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** Start the streaming gate: `docs` is a streaming frame carrying
    * `idCol`, the text `score` reads and, keyed, `keyCol`; every
    * micro-batch flows through [[gateBatch]]. `checkpointDir` makes
    * replay semantics real across restarts.
    */
  def start(
      docs: DataFrame,
      idCol: String,
      score: (DataFrame, Ranking.RefLmModel) => DataFrame,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String,
      keyCol: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(batch, idCol, score, modelPath, cutoffsPath,
          decisionsDir, batchId, keyCol)
      }
      .start()

  /** Continuously GROW the stored reference LM (any order, keyed or
    * not) from a stream of newly trusted documents: every micro-batch
    * merges its counts into the model at `modelPath`
    * ([[Ranking.mergeIntoStoredRefLm]] — additive counts, staged swap,
    * bit-identical to a from-scratch retrain on the union). Keyed, one
    * merge per micro-batch grows every language's model; the batch may
    * mix languages freely. The scoring fleet re-reads the model per
    * batch/query, so it serves the grown model at its next read; the
    * CUTOFF artifact is deliberately untouched — cutoffs are corpus
    * measurements the batch pipeline owns and re-measures on its own
    * cadence.
    *
    * Delivery semantics: replay-IDEMPOTENT — every micro-batch merges
    * under its batch id, and the merge's applied-batch log (staged and
    * swapped atomically WITH the count tables) makes a re-delivered
    * batch a no-op: a crash between the merge and the checkpoint
    * commit replays the batch, the log already contains its id, and
    * the counts stay bit-identical (StreamingPerplexitySpec's replay
    * cases assert it). The curation decision-log discipline applied to
    * an additive model.
    */
  def ingestReference(
      docs: DataFrame,
      textCol: String,
      modelPath: String,
      checkpointDir: String,
      keyCol: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestReferenceBatch(batch, textCol, modelPath, batchId, keyCol); ()
      }
      .start()

  /** Merge one micro-batch of newly trusted docs into the stored LM
    * under its replay guard — [[ingestReference]]'s `foreachBatch`
    * body, exposed for direct use and testing. Returns true iff the
    * batch was merged (false = already applied, a replay no-op).
    */
  def ingestReferenceBatch(
      batch: DataFrame,
      textCol: String,
      modelPath: String,
      batchId: Long,
      keyCol: Option[String] = None): Boolean =
    Ranking.mergeIntoStoredRefLm(batch.sparkSession, modelPath,
      batch, textCol, batchId = Some(batchId), keyCol = keyCol)
}
