package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ranking

/** Ingest-time perplexity gating over a document STREAM — the
  * streaming twin of the batch q182/q183 reference-LM bucket path, in
  * the shape a production ingest runs: every micro-batch is scored
  * under the STORED reference LM ([[Ranking.readRefLm]]) and labeled
  * head/middle/tail against the STORED cutoff values
  * ([[Ranking.readRefLmCutoffs]]), never against tertiles of the
  * batch itself — a micro-batch is a biased sample, so its own order
  * statistics would drift gate semantics batch to batch. Both
  * artifacts are measurements owned by the batch pipeline: retrain
  * the LM or re-measure the cutoffs and the stream re-tunes at its
  * next micro-batch with no code change.
  *
  * Why `foreachBatch` and not a streaming aggregation: scoring needs
  * a per-doc bigram groupBy plus three model joins per batch —
  * `foreachBatch` gives each micro-batch the full batch planner (the
  * [[StreamingCuration]] rationale), and the model tables are static
  * parquet the batch plan joins as ordinary relations (AQE broadcasts
  * the vocabulary-sized sides when it measures small).
  *
  * Delivery semantics: the decisions output is an append log,
  * at-least-once under replay — a crashed batch re-emits its rows
  * with the same (batch_id, id); downstream consumers dedup on that
  * key. Re-reading the artifacts per batch (one plan build + a 1-row
  * collect) is what makes the live re-tune real.
  */
object StreamingPerplexity {

  /** Score and label one micro-batch; append
    * (id, n_bigrams, logprob, bucket, batch_id) to `decisionsDir`.
    * Documents the scorer cannot score (< 2 tokens — no bigram) are
    * emitted with bucket `unscored` and NULL score rather than
    * silently dropped. Exposed for direct use and testing —
    * [[start]]'s `foreachBatch` calls exactly this.
    */
  def gateBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val (vHead, vMid) = Ranking.readRefLmCutoffs(spark, cutoffsPath)
    // persisted for the batch write: the labeled branch AND the
    // missing-doc anti-join both read `scored`, and without the pin
    // the scoring pipeline (per-doc bigram groupBy + three model
    // joins) would execute twice per micro-batch
    val scored = Ranking.refLmScore(batch, idCol, textCol, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labeled = scored
        .withColumn("bucket",
          when(col("logprob") >= vHead, lit("head"))
            .when(col("logprob") >= vMid, lit("middle"))
            .otherwise(lit("tail")))
      // docs the scorer cannot score (< 2 tokens, so no bigram) surface
      // as `unscored` rows — the keyed gate's never-vanish contract
      val missing = batch
        .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol),
          lit(null).cast("long").as("n_bigrams"),
          lit(null).cast("double").as("logprob"),
          lit("unscored").as("bucket"))
      labeled.unionByName(missing)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** The PER-LANGUAGE twin of [[gateBatch]]: every micro-batch doc is
    * scored under ITS `keyCol` value's model from the stored KEYED
    * artifacts and labeled at that key's stored cutoffs. Documents
    * whose key has no trained model (or no measured cutoffs) are
    * emitted with bucket `unmodeled` and NULL score rather than
    * silently dropped — at ingest time an unmodeled language is a
    * routing decision the downstream consumer must see, not a row
    * that vanishes. A doc whose key IS modeled but that has no bigram
    * (< 2 tokens) is `unscored`, the unkeyed gate's label — the two
    * conditions demand different remediation. A scored doc whose key
    * HAS a model but no measured cutoffs row is `unmeasured` (with its
    * real score): the remediation is to measure cutoffs for that key,
    * not to train a model it already has. Appends
    * (id, keyCol, n_bigrams, logprob, bucket, batch_id).
    */
  def gateBatchByKey(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val cuts = Ranking.readRefLmCutoffRows(spark, cutoffsPath)
    // persisted for the batch write — see [[gateBatch]]: two branches
    // read `scored`, the pin keeps scoring to one execution
    val scored = Ranking.refLmScore(batch, idCol, textCol, model, keyCol = Some(keyCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a row here SCORED, so its key has a model by construction
      // (the scorer's totals join is inner) — a missing cutoffs row
      // means the key is modeled but not yet measured, which is
      // `unmeasured`, never `unmodeled`
      val labeled = scored.join(broadcast(cuts), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol), col("n_bigrams"), col("logprob"),
          when(col("v_head").isNull, lit("unmeasured"))
            .when(col("logprob") >= col("v_head"), lit("head"))
            .when(col("logprob") >= col("v_mid"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
      // docs the keyed scorer dropped, split by WHY: a doc under a key
      // that HAS a stored model but itself has no bigram (< 2 tokens)
      // is `unscored` (the unkeyed gate's label — too short to score),
      // while a key absent from the stored totals is `unmodeled` (a
      // routing decision: send this language to model training).
      // Conflating them would hide short docs of modeled languages
      // behind the train-a-new-model signal
      val modeledKeys = model.totals.select(col("__k").as(keyCol))
        .withColumn("__modeled", lit(true))
      val missing = batch
        .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
        .join(broadcast(modeledKeys), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol),
          lit(null).cast("long").as("n_bigrams"),
          lit(null).cast("double").as("logprob"),
          when(col("__modeled"), lit("unscored"))
            .otherwise(lit("unmodeled")).as("bucket"))
      labeled.unionByName(missing)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** [[start]] for the per-language gate — every micro-batch flows
    * through [[gateBatchByKey]].
    */
  def startByKey(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatchByKey(batch, idCol, textCol, keyCol, modelPath,
          cutoffsPath, decisionsDir, batchId)
      }
      .start()

  /** The ORDER-3 twin of [[gateBatch]]: score the micro-batch under
    * the stored trigram-backoff model ([[Ranking.readRefLm]]) and
    * label at the stored cutoff values — the same artifact format as
    * the bigram gate ((v_head, v_mid), [[Ranking.readRefLmCutoffs]]),
    * measured by the batch pipeline over an order-3 scored pool.
    * Documents with no trigram (< 3 tokens) surface as `unscored`
    * with NULL score. Appends (id, n_trigrams, logprob, bucket,
    * batch_id).
    */
  def gateBatch3(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val (vHead, vMid) = Ranking.readRefLmCutoffs(spark, cutoffsPath)
    // persisted for the batch write — see [[gateBatch]]: the labeled
    // branch and the missing-doc anti-join both read `scored`
    val scored = Ranking.refLm3Score(batch, idCol, textCol, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labeled = scored
        .withColumn("bucket",
          when(col("logprob") >= vHead, lit("head"))
            .when(col("logprob") >= vMid, lit("middle"))
            .otherwise(lit("tail")))
      val missing = batch
        .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol),
          lit(null).cast("long").as("n_trigrams"),
          lit(null).cast("double").as("logprob"),
          lit("unscored").as("bucket"))
      labeled.unionByName(missing)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** [[start]] for the order-3 gate — every micro-batch flows through
    * [[gateBatch3]].
    */
  def start3(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch3(batch, idCol, textCol, modelPath, cutoffsPath,
          decisionsDir, batchId)
      }
      .start()

  /** The keyed ORDER-3 gate — [[gateBatchByKey]] under the stored
    * per-language trigram-backoff models ([[Ranking.readRefLm]])
    * at each key's stored cutoffs. Label split as the bigram keyed
    * gate: `unmodeled` = no model for the key (route to training),
    * `unscored` = modeled key but no trigram (< 3 tokens),
    * `unmeasured` = scored under a modeled key that has no cutoffs
    * row yet (route to cutoff measurement — likelier at order 3,
    * where measuring needs ≥ 3-token calibration docs). Appends
    * (id, keyCol, n_trigrams, logprob, bucket, batch_id).
    */
  def gateBatch3ByKey(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val cuts = Ranking.readRefLmCutoffRows(spark, cutoffsPath)
    // persisted for the batch write — see [[gateBatch]]: two branches
    // read `scored`, the pin keeps scoring to one execution
    val scored = Ranking.refLm3Score(batch, idCol, textCol, model, keyCol = Some(keyCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // scored rows have a model by construction — see [[gateBatchByKey]]
      val labeled = scored.join(broadcast(cuts), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol), col("n_trigrams"), col("logprob"),
          when(col("v_head").isNull, lit("unmeasured"))
            .when(col("logprob") >= col("v_head"), lit("head"))
            .when(col("logprob") >= col("v_mid"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
      val modeledKeys = model.totals.select(col("__k").as(keyCol))
        .withColumn("__modeled", lit(true))
      val missing = batch
        .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
        .join(broadcast(modeledKeys), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol),
          lit(null).cast("long").as("n_trigrams"),
          lit(null).cast("double").as("logprob"),
          when(col("__modeled"), lit("unscored"))
            .otherwise(lit("unmodeled")).as("bucket"))
      labeled.unionByName(missing)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** [[startByKey]] for the order-3 gate — every micro-batch flows
    * through [[gateBatch3ByKey]].
    */
  def start3ByKey(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch3ByKey(batch, idCol, textCol, keyCol, modelPath,
          cutoffsPath, decisionsDir, batchId)
      }
      .start()

  /** The keyed KNESER-NEY gate — [[gateBatch3ByKey]] scored with
    * keyed [[Ranking.refLmKn3Score]] instead of the Jelinek-Mercer
    * chain: every micro-batch doc scores under its language's
    * interpolated-KN model derived from the SAME six stored keyed
    * count tables (no new artifact — the KN tables are per-key
    * groupBys over the stored counts, rebuilt per batch like the JM
    * joins are), labeled at the key's stored KN-MEASURED cutoffs
    * (keyed [[Ranking.refLmCutoffs]] over a KN-scored pool — gating a
    * KN score at JM cutoffs would mislabel systematically, since the
    * two smoothings shift the score distribution differently). Routing
    * split identical to the JM keyed gates: `unmodeled` = no model for
    * the key, `unscored` = modeled key but < 3 tokens, `unmeasured` =
    * scored under a modeled key with no cutoffs row. Appends
    * (id, keyCol, n_trigrams, logprob, bucket, batch_id).
    */
  def gateBatchKn3ByKey(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val cuts = Ranking.readRefLmCutoffRows(spark, cutoffsPath)
    // persisted for the batch write — see [[gateBatch]]: two branches
    // read `scored`, the pin keeps scoring to one execution
    val scored = Ranking.refLmKn3Score(batch, idCol, textCol, model, keyCol = Some(keyCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // scored rows have a model by construction — see [[gateBatchByKey]]
      val labeled = scored.join(broadcast(cuts), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol), col("n_trigrams"), col("logprob"),
          when(col("v_head").isNull, lit("unmeasured"))
            .when(col("logprob") >= col("v_head"), lit("head"))
            .when(col("logprob") >= col("v_mid"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
      val modeledKeys = model.totals.select(col("__k").as(keyCol))
        .withColumn("__modeled", lit(true))
      val missing = batch
        .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
        .join(broadcast(modeledKeys), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol),
          lit(null).cast("long").as("n_trigrams"),
          lit(null).cast("double").as("logprob"),
          when(col("__modeled"), lit("unscored"))
            .otherwise(lit("unmodeled")).as("bucket"))
      labeled.unionByName(missing)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** [[gateBatchKn3ByKey]] at CCNet's production depth: micro-batches
    * gate at stored per-key cutoffs measured under the keyed 5-GRAM
    * interpolated-KN scorer, with the same three-way routing split
    * (`unmodeled` / `unscored` — here fewer than 5 tokens — /
    * `unmeasured`). `minCount5`/`minCount4` are the serving-time
    * pruning view and MUST match the config the stored cutoffs were
    * measured under — scores shift with pruning, so a mismatched gate
    * mislabels systematically (the q201 JM-vs-KN argument one level
    * in).
    */
  def gateBatchKn5ByKey(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      batchId: Long,
      minCount5: Long = 1,
      minCount4: Long = 1): Unit = {
    val spark = batch.sparkSession
    val model = Ranking.readRefLm(spark, modelPath)
    val cuts = Ranking.readRefLmCutoffRows(spark, cutoffsPath)
    val scored = Ranking.refLmKn5Score(batch, idCol, textCol, model,
        minCount5 = minCount5, minCount4 = minCount4, keyCol = Some(keyCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labeled = scored.join(broadcast(cuts), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol), col("n_5grams"), col("logprob"),
          when(col("v_head").isNull, lit("unmeasured"))
            .when(col("logprob") >= col("v_head"), lit("head"))
            .when(col("logprob") >= col("v_mid"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
      val modeledKeys = model.totals.select(col("__k").as(keyCol))
        .withColumn("__modeled", lit(true))
      val missing = batch
        .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
        .join(broadcast(modeledKeys), Seq(keyCol), "left")
        .select(col(idCol), col(keyCol),
          lit(null).cast("long").as("n_5grams"),
          lit(null).cast("double").as("logprob"),
          when(col("__modeled"), lit("unscored"))
            .otherwise(lit("unmodeled")).as("bucket"))
      labeled.unionByName(missing)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(decisionsDir)
    } finally scored.unpersist(false)
  }

  /** [[startByKey]] for the order-5 Kneser-Ney gate — every
    * micro-batch flows through [[gateBatchKn5ByKey]].
    */
  def startKn5ByKey(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String,
      minCount5: Long = 1,
      minCount4: Long = 1): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatchKn5ByKey(batch, idCol, textCol, keyCol, modelPath,
          cutoffsPath, decisionsDir, batchId, minCount5, minCount4)
      }
      .start()

  /** [[startByKey]] for the Kneser-Ney gate — every micro-batch flows
    * through [[gateBatchKn3ByKey]].
    */
  def startKn3ByKey(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatchKn3ByKey(batch, idCol, textCol, keyCol, modelPath,
          cutoffsPath, decisionsDir, batchId)
      }
      .start()

  /** Continuously GROW the stored reference LM from a stream of newly
    * trusted documents: every micro-batch merges its counts into the
    * model at `modelPath` ([[Ranking.mergeIntoStoredRefLm]] — additive
    * counts, staged swap, bit-identical to a from-scratch retrain on
    * the union). The scoring fleet re-reads the model per batch/query,
    * so it serves the grown model at its next read; the CUTOFF
    * artifact is deliberately untouched — cutoffs are corpus
    * measurements the batch pipeline owns and re-measures on its own
    * cadence.
    *
    * Delivery semantics: replay-IDEMPOTENT — every micro-batch merges
    * under its batch id, and the merge's applied-batch log (staged and
    * swapped atomically WITH the count tables) makes a re-delivered
    * batch a no-op: a crash between the merge and the checkpoint
    * commit replays the batch, the log already contains its id, and
    * the counts stay bit-identical (StreamingPerplexitySpec's replay
    * case asserts it). The curation decision-log discipline applied to
    * an additive model.
    */
  def ingestReference(
      docs: DataFrame,
      textCol: String,
      modelPath: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestReferenceBatch(batch, textCol, modelPath, batchId); ()
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
      batchId: Long): Boolean =
    Ranking.mergeIntoStoredRefLm(batch.sparkSession, modelPath,
      batch, textCol, batchId = Some(batchId))

  /** [[ingestReference]] at order 3: every micro-batch merges its
    * unigram, bigram AND trigram counts into the stored
    * order-3 [[Ranking.writeRefLm]] artifact under the same replay guard —
    * [[Ranking.mergeIntoStoredRefLm]] keeps the applied-batch log
    * staged and swapped atomically with all six count tables, so a
    * re-delivered micro-batch is a no-op at order 3 too.
    */
  def ingestReference3(
      docs: DataFrame,
      textCol: String,
      modelPath: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestReference3Batch(batch, textCol, modelPath, batchId); ()
      }
      .start()

  /** [[ingestReference3]]'s `foreachBatch` body, exposed for direct
    * use and testing. Returns true iff the batch was merged (false =
    * already applied, a replay no-op).
    */
  def ingestReference3Batch(
      batch: DataFrame,
      textCol: String,
      modelPath: String,
      batchId: Long): Boolean =
    Ranking.mergeIntoStoredRefLm(batch.sparkSession, modelPath,
      batch, textCol, batchId = Some(batchId))

  /** [[ingestReference]] for the KEYED fleet: a stream of newly
    * trusted documents carrying their language key grows EVERY
    * language's stored model in one merge per micro-batch
    * (keyed [[Ranking.mergeIntoStoredRefLm]] — the batch may mix
    * languages freely; per-key counts merge additively in one pass).
    * Same replay guard: the applied-batch log swaps atomically with
    * the keyed count tables.
    */
  def ingestReferenceByKey(
      docs: DataFrame,
      textCol: String,
      keyCol: String,
      modelPath: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestReferenceByKeyBatch(batch, textCol, keyCol, modelPath, batchId); ()
      }
      .start()

  /** [[ingestReferenceByKey]]'s `foreachBatch` body, exposed for
    * direct use and testing.
    */
  def ingestReferenceByKeyBatch(
      batch: DataFrame,
      textCol: String,
      keyCol: String,
      modelPath: String,
      batchId: Long): Boolean =
    Ranking.mergeIntoStoredRefLm(batch.sparkSession, modelPath,
      batch, textCol, batchId = Some(batchId), keyCol = Some(keyCol))

  /** Start the streaming gate: `docs` is a streaming frame carrying
    * `idCol` + `textCol`; every micro-batch flows through
    * [[gateBatch]]. `checkpointDir` makes replay semantics real
    * across restarts.
    */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      cutoffsPath: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(batch, idCol, textCol, modelPath, cutoffsPath,
          decisionsDir, batchId)
      }
      .start()
}
