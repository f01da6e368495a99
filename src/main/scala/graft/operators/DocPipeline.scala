package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning: the composition layer a training-data
  * pipeline runs over raw documents. Stages (all lazy, one logical
  * plan):
  *
  *   1. normalize: trim + collapse whitespace + lowercase fingerprint
  *   2. quality filter: token-count and stopword-ratio bounds
  *   3. exact dedup on the normalized fingerprint (min-id wins)
  *   4. near-dup removal: MinHash-LSH candidates -> exact Jaccard
  *      >= threshold -> drop the higher id of each surviving pair
  *
  * Near-dup removal keeps the LOWER id of every duplicate pair — a
  * deterministic greedy policy (no clustering pass), matching what
  * most production dedup jobs do between snapshots.
  */
object DocPipeline {

  /** `model`: an optional linear quality classifier applied AFTER the
    * heuristic gates — the model-based filter stage of a production
    * pipeline (CCNet/DCLM-style). Applied as
    * [[QualityClassifier.scoreExpr]], a pure per-row expression, so
    * the gate rides inside the corpus scan the pipeline already pays:
    * no extra shuffle, no join, whatever the corpus size.
    *
    * `hashedGate`: the trained-hashed-model twin, whose threshold is a
    * MEASURED number — selected on held-out data and typically read
    * from a stored sweep artifact at config-build time
    * ([[HashedModelGate.fromStoredSweep]]), so re-measuring the sweep
    * re-gates batch and streaming curation with no code change.
    */
  final case class Config(
      minTokens: Long = 5,
      maxTokens: Long = 100000,
      minStopRatio: Double = 0.0,
      jaccardThreshold: Double = 0.5,
      model: Option[QualityClassifier.LinearModel] = None,
      hashedGate: Option[HashedModelGate] = None)

  /** A trained hashed quality model plus the gate threshold selected
    * on held-out data ([[QualityClassifier.gateThresholdSweepMicro]]).
    * Applied per-row ([[QualityClassifier.scoreHashedExprMicro]]), so
    * like the linear gate it rides inside the corpus scan — no extra
    * shuffle, batch and streaming alike.
    */
  final case class HashedModelGate(
      model: QualityClassifier.TrainedHashedModel,
      seed: String,
      thresholdMicro: Long)

  /** The OPTIONAL semantic-dedup stage of [[curate]] (SemDeDup — Abbas
    * et al. 2023, arXiv:2303.09540, which positions semantic dedup
    * inside the curation flow after lexical dedup): the cluster
    * representatives' embeddings dedup within the cells of a STORED
    * k-means index (`cents` — the q144/q149/q170 artifact, reused, not
    * retrained) under [[Similarity.semDeDup]]'s deterministic
    * keep-lowest-id rule, and non-representatives drop between
    * near-dup dedup and decontamination.
    *
    * `embeddings` maps `vecIdCol` (the document id's value space) to
    * `vecCol`; a representative with NO embedding row is KEPT — the
    * stage can only drop what it can see, and silently dropping
    * unembedded docs would turn a lagging embedding pipeline into
    * corpus loss. The quadratic term is bounded by the largest index
    * cell, exactly as in standalone SemDeDup (q193); set
    * `maxCellPairs` to ENFORCE that bound inside the pipeline —
    * [[Similarity.semDeDupCellGuard]] then runs over the rep slice
    * before any pairwise work and fails fast with the named hot-cell
    * error (remediation: [[Similarity.ivfSplitHotCells]], the q173
    * path). Leave it None only for a known-balanced index; a user who
    * forgets the manual guard otherwise lets a skewed stored index
    * silently melt the rep slice's within-cell task.
    */
  final case class SemanticStage(
      embeddings: DataFrame,
      vecIdCol: String,
      vecCol: String,
      cents: Seq[(Long, Array[Double])],
      threshold: Double,
      maxCellPairs: Option[Long] = None)

  object SemanticStage {
    /** The stage over the STORED centroid table — the
      * [[HashedModelGate.fromStoredArtifacts]] discipline applied to
      * the embedding side: centroids read from the index artifact
      * ([[Similarity.ivfReadCentroids]], the table
      * [[Similarity.ivfCommitSplit]] atomically swaps), so a committed
      * hot-cell split or index rebuild re-tunes the curation pipeline
      * at its next config build with no code change — the config holds
      * a path, not a frozen centroid Seq.
      */
    def fromStoredIndex(
        spark: org.apache.spark.sql.SparkSession,
        indexDir: String,
        embeddings: DataFrame,
        vecIdCol: String,
        vecCol: String,
        threshold: Double,
        maxCellPairs: Option[Long] = None): SemanticStage =
      SemanticStage(embeddings, vecIdCol, vecCol,
        Similarity.ivfReadCentroids(spark, indexDir), threshold,
        maxCellPairs)
  }

  /** The OPTIONAL perplexity-gate stage of [[curate]] — CCNet's LM
    * filter (Wenzek et al. 2020, arXiv:1911.00359) at its pipeline
    * position: after deduplication, the surviving representatives
    * score under THEIR `keyCol` value's stored per-language
    * Kneser-Ney chain and drop when their bucket at the STORED
    * per-key cutoffs is configured out (`dropBuckets`, default the
    * tail — CCNet's discard set). The scoring runs over the
    * representative slice only (semi-filtered, like the semantic
    * stage), and both model and cutoffs are stored artifacts — the
    * gate is a measurement, re-tuned by re-measuring, never by code.
    *
    * Documents the stage cannot MEASURE are KEPT: unmodeled keys
    * (language without a stored model), unmeasured keys (model but no
    * cutoff row — a half-deployed fleet), and unscorable docs (fewer
    * tokens than the model order). The lagging-artifact principle of
    * [[SemanticStage]]: a gap in the model fleet must not become
    * corpus loss; the streaming gate surfaces the same three classes
    * as explicit routes instead.
    */
  final case class PerplexityStage(
      model: Ranking.RefLmModel,
      cutoffs: DataFrame,
      keyCol: String,
      dropBuckets: Set[String] = Set("tail"))

  object PerplexityStage {
    /** The stage fully from stored artifacts: the six keyed count
      * tables ([[Ranking.readRefLm]]) and the per-key
      * KN-measured cutoff table ([[Ranking.readRefLmCutoffs]] —
      * measured under the KN scorer, the q201 discipline: gating KN
      * scores at JM-measured cutoffs would mislabel systematically).
      */
    def fromStoredArtifacts(
        spark: org.apache.spark.sql.SparkSession,
        modelPath: String,
        cutoffsPath: String,
        keyCol: String,
        dropBuckets: Set[String] = Set("tail")): PerplexityStage =
      PerplexityStage(
        Ranking.readRefLm(spark, modelPath),
        Ranking.readRefLmCutoffs(spark, cutoffsPath, Some(keyCol)),
        keyCol, dropBuckets)
  }

  object HashedModelGate {
    /** The gate at the threshold a STORED sweep artifact selects
      * ([[QualityClassifier.readSelectedGateMicro]]) — the config-time
      * read that makes the deployed gate a measurement: overwrite the
      * sweep (a re-run on fresh held-out data) and the next pipeline
      * build gates at the new number, code untouched.
      */
    def fromStoredSweep(
        spark: org.apache.spark.sql.SparkSession,
        sweepPath: String,
        model: QualityClassifier.TrainedHashedModel,
        seed: String): HashedModelGate =
      HashedModelGate(model, seed,
        QualityClassifier.readSelectedGateMicro(spark, sweepPath))

    /** The fully-stored deploy: model weights AND threshold read from
      * their artifacts ([[QualityClassifier.readHashedModel]] /
      * [[QualityClassifier.readSelectedGateMicro]]) — the pipeline
      * config retrains and hand-tunes nothing.
      */
    def fromStoredArtifacts(
        spark: org.apache.spark.sql.SparkSession,
        modelPath: String,
        sweepPath: String,
        seed: String): HashedModelGate =
      HashedModelGate(
        QualityClassifier.readHashedModel(spark, modelPath), seed,
        QualityClassifier.readSelectedGateMicro(spark, sweepPath))
  }

  /** The model gate of `cfg` as a per-row predicate (`true` when no
    * model is configured); linear and hashed gates AND together.
    */
  private def modelOk(cfg: Config, textCol: String): Column = {
    val lin = cfg.model match {
      case Some(m) =>
        QualityClassifier.scoreExpr(col(textCol), m) >= m.threshold
      case None => lit(true)
    }
    cfg.hashedGate match {
      case Some(g) =>
        lin && QualityClassifier.scoreHashedExprMicro(
          col(textCol), g.model, g.seed) >= g.thresholdMicro
      case None => lin
    }
  }

  /** PII-style redaction: emails and long digit runs are masked. The
    * pattern set is deployment-specific; these two are the
    * demonstration set (RE2-portable patterns).
    */
  def redact(text: Column): Column = {
    val noEmail = regexp_replace(text,
      "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "[0-9]{7,}", "<NUM>")
  }

  /** Kept documents after the full cleaning chain. Returns the input
    * rows (original columns) of surviving documents.
    */
  def clean(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config()): DataFrame =
    cleanCached(docs, idCol, textCol, cfg).df

  /** [[clean]] plus the persisted dedup intermediates. Long-lived
    * sessions that clean corpus after corpus should call
    * `.unpersist()` on the result after their terminal action, or the
    * cached shingle/signature blocks accumulate across invocations.
    */
  def cleanCached(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config()): Dedup.CachedDF = {
    val nTokens = TextAnalysis.tokenCount(col(textCol))
    val stopR = TextAnalysis.stopwordRatio(col(textCol))
    val quality = docs
      .filter(nTokens >= cfg.minTokens && nTokens <= cfg.maxTokens &&
        stopR >= cfg.minStopRatio && modelOk(cfg, textCol))
    val exact = Dedup.exact(
      quality.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("__fp"), idCol).drop("__fp")
    val nearDup = Dedup.jaccardNearDupPairsCached(
      exact, idCol, textCol, threshold = cfg.jaccardThreshold)
    val nearDupLosers = nearDup.df.select(col("d2").as(idCol)).distinct()
    val kept = exact.join(nearDupLosers, Seq(idCol), "left_anti")
    Dedup.CachedDF(kept, nearDup.handles)
  }

  /** The COMPOSED curation pipeline: quality gate → exact dedup →
    * near-dup clusters → best-quality representative per cluster →
    * n-gram decontamination against an eval set → leakage-safe
    * train/valid/test split → deterministic shard manifest, as ONE
    * job with shared intermediates.
    *
    * Why one operator instead of chaining the stage queries: the
    * shingle+MinHash pipeline is the dominant cost of curation at
    * corpus scale, and the naive composition pays it once PER CONSUMER
    * (clusters, representatives, decontamination, split each re-derive
    * it — running q121 and q126 separately computes every signature
    * twice). Here [[Dedup.nearDupArtifacts]] computes shingles and
    * signatures ONCE, persists them, and every downstream stage —
    * cluster edges, the decontamination join (which reuses the SAME
    * persisted shingle table), the split, the manifest — reads the
    * cached frames. Raw corpus text is scanned once into the persisted
    * cleaned frame; nothing downstream touches the source again.
    *
    * Output: one row per (split, shard): document count, token total,
    * and the smallest surviving doc id — the manifest a trainer reads.
    */
  def curate(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      nShards: Int = 4,
      contaminationThreshold: Double = 0.5,
      strictShingles: Boolean = false,
      semantic: Option[SemanticStage] = None,
      perplexity: Option[PerplexityStage] = None): DataFrame =
    curateCached(docs, evalDocs, idCol, textCol, cfg, splits, nShards,
      contaminationThreshold, strictShingles, semantic, perplexity).df

  /** [[curate]] plus its persisted intermediates for caller release.
    *
    * `strictShingles` picks the shingle convention of the
    * decontamination join (stage 6):
    *
    *   - `false` (default): [[Dedup.shingleRows]]'s non-strict rule —
    *     a document shorter than the shingle width contributes ONE
    *     whole-text shingle. This matches the near-dup pipeline's
    *     convention, so the persisted shingle table is reused as-is,
    *     and a short eval doc can still flag an equally-short corpus
    *     doc that (quality gate permitting) survived to the join.
    *   - `true`: sub-width documents contribute NOTHING — the strict
    *     semantics [[Dedup.shingleRows]]'s scaladoc recommends when
    *     shingles must be comparable across documents: a whole-text
    *     "shingle" of 2 tokens is not commensurable with true 3-gram
    *     shingles, so under the default a short eval doc can only ever
    *     match an exactly-equal short corpus doc, and its
    *     `contaminationThreshold` fraction silently means "the one
    *     whole-text shingle matched", not "this fraction of n-grams
    *     leaked". Strict mode refuses that pun and drops sub-width
    *     docs from BOTH sides of the join.
    *
    * Cost: the eval side always recomputes under the chosen rule (it
    * is small). The corpus side reuses the near-dup pipeline's
    * persisted non-strict table whenever it is PROVABLY identical to
    * the strict one — every doc at the join has `>= cfg.minTokens`
    * tokens, so `minTokens >= shingle width` makes the two conventions
    * agree on every surviving corpus doc — and recomputes strictly
    * only when `minTokens` lets sub-width docs through the gate.
    */
  def curateCached(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      nShards: Int = 4,
      contaminationThreshold: Double = 0.5,
      strictShingles: Boolean = false,
      semantic: Option[SemanticStage] = None,
      perplexity: Option[PerplexityStage] = None): Dedup.CachedDF = {
    import org.apache.spark.storage.StorageLevel
    val nTokens = TextAnalysis.tokenCount(col(textCol))
    // 1-2. quality gate + exact dedup, persisted: the ONE scan of raw
    // corpus text — every later stage reads this cached frame
    val cleaned = Dedup.exact(
      docs.filter(nTokens >= cfg.minTokens && nTokens <= cfg.maxTokens &&
          modelOk(cfg, textCol))
        .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
        .withColumn("n_tokens", nTokens),
      Seq("__fp"), idCol)
      .drop("__fp")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // 3. near-dup pairs: shingles + MinHash computed ONCE here
    val nd = Dedup.nearDupArtifacts(cleaned, idCol, textCol,
      threshold = cfg.jaccardThreshold)
    curateTail(cleaned, nd, evalDocs, idCol, textCol, cfg, splits,
      nShards, contaminationThreshold, strictShingles, semantic, perplexity)
  }

  /** Stages 4-8 of curation — everything downstream of the cleaned
    * frame and the near-dup artifacts, shared verbatim by
    * [[curateCached]] (which derives both from raw docs) and
    * [[curateFromArtifactsCached]] (which derives both from stored
    * per-document artifacts). `cleaned` must be persisted and retain
    * `textCol` and `n_tokens`.
    */
  private def curateTail(
      cleaned: DataFrame,
      nd: Dedup.NearDupArtifacts,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config,
      splits: Seq[(String, Double)],
      nShards: Int,
      contaminationThreshold: Double,
      strictShingles: Boolean,
      semantic: Option[SemanticStage] = None,
      perplexity: Option[PerplexityStage] = None): Dedup.CachedDF = {
    // 4. connected components over the verified pairs
    val cl = Dedup.dupClustersCached(
      cleaned.select(col(idCol)), nd.pairs.select("d1", "d2"), idCol)
    val clusters = cl.df
    // 5. one representative per cluster (singletons keep themselves):
    // most tokens wins, ties to the smallest id — q121's policy
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col(idCol))
    val reps = clusters
      .join(cleaned.select(col(idCol), col("n_tokens")), idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("cluster_id"), col("n_tokens"))
    // 6. decontamination REUSING the near-dup shingle table: a corpus
    // doc is dropped when it contains >= threshold of any eval doc's
    // distinct shingles (q129's containment, on the shared shingles).
    // Shingle-width default in shingleRows and nearDupArtifacts is 3 —
    // the reuse-compatibility test below is against that width.
    val shingleWidth = 3
    val corpusSh =
      if (!strictShingles || cfg.minTokens >= shingleWidth) nd.shingles
      else Dedup.shingleRows(cleaned, idCol, textCol, shingleWidth,
        strict = true)
    val eSh = Dedup.shingleRows(evalDocs, idCol, textCol, shingleWidth,
        strict = strictShingles)
      .select(col(idCol).as("__eid"), col("__sh"))
    val eSz = eSh.groupBy(col("__eid")).agg(count(lit(1)).as("__ne"))
    val contaminated = corpusSh
      .join(eSh, "__sh")
      .groupBy(col(idCol), col("__eid"))
      .agg(count(lit(1)).as("__shared"))
      .join(eSz, "__eid")
      .filter(col("__shared").cast("double") / col("__ne") >= contaminationThreshold)
      .select(col(idCol))
      .distinct()
    // 5b. OPTIONAL semantic dedup among the representatives (the
    // SemDeDup paper's pipeline position: after lexical dedup, before
    // decontamination): the reps' embeddings dedup within the stored
    // index cells under the keep-lowest-id rule; reps with no
    // embedding row are kept (drop only what the stage can see). The
    // within-cell join runs over the REPRESENTATIVE slice only — both
    // sides semi-filtered before any pairwise work.
    val semReps = semantic.fold(reps) { st =>
      val repVecs = st.embeddings.join(
        reps.select(col(idCol).as(st.vecIdCol)), Seq(st.vecIdCol), "left_semi")
      // the quadratic bound ENFORCED in-pipeline when configured: the
      // guard runs over the rep slice (the exact frame the pairwise
      // join consumes) before any pairwise work
      st.maxCellPairs.foreach(cap => Similarity.semDeDupCellGuard(
        repVecs, st.vecIdCol, st.vecCol, st.cents, cap))
      val semDropped = Similarity.semDeDup(
          repVecs, st.vecIdCol, st.vecCol, st.cents, st.threshold)
        .filter(!col("keep"))
        .select(col(st.vecIdCol).as(idCol))
      reps.join(semDropped, Seq(idCol), "left_anti")
    }
    // 5c. OPTIONAL perplexity gate (CCNet's LM filter position: after
    // dedup, before decontamination): surviving representatives score
    // under their key's stored KN chain over the REP SLICE only and
    // drop when bucketed into `dropBuckets` at the stored per-key
    // cutoffs. The anti-join keeps everything the stage cannot
    // measure: unmodeled keys (INNER totals join drops them from the
    // scored frame), unmeasured keys (INNER cutoff join), unscorable
    // docs (< order tokens never reach the scored frame).
    val ppReps = perplexity.fold(semReps) { st =>
      val repDocs = cleaned.join(
        semReps.select(col(idCol)), Seq(idCol), "left_semi")
      val dropped = Ranking.refLmKnScore(repDocs, idCol, textCol, st.model, 3,
          keyCol = Some(st.keyCol))
        .join(broadcast(st.cutoffs), Seq(st.keyCol))
        .withColumn("__bucket",
          Ranking.perplexityBucket(col("logprob"), col("v_head"), col("v_mid")))
        .filter(col("__bucket").isin(st.dropBuckets.toSeq: _*))
        .select(col(idCol))
      semReps.join(dropped, Seq(idCol), "left_anti")
    }
    val surviving = ppReps.join(contaminated, Seq(idCol), "left_anti")
    // 7-8. leakage-safe split (hash of CLUSTER id, so near-dups land
    // together) + deterministic shard, then the (split, shard) manifest
    val assigned = Sampling.assignSplit(surviving, "cluster_id", splits)
    Dedup.CachedDF(
      Sharding.shardAssign(assigned, idCol, nShards)
        .groupBy(col("split"), col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col(idCol)).as("first_doc"))
        .orderBy("split", "shard"),
      Seq(cleaned) ++ nd.handles ++ cl.handles, cl.cleanups)
  }

  /** The stored per-DOCUMENT artifacts a dedup/curation family
    * shares: the UNGATED annotated corpus (original columns plus
    * `n_tokens` and the `__fp` exact-dup fingerprint), its shingle
    * rows, its MinHash signatures, and its 64-bit SimHash
    * fingerprints. All are per-document properties — independent of
    * which OTHER documents survive any downstream gate — so pipeline
    * variants that differ only in per-document filters ([[curate]]
    * with vs without a model gate, [[clean]] with tighter token
    * bounds, the ensemble and near-dup pair families with no gate at
    * all) read the same stored tables and pay only their own joins;
    * the corpus-scale work (tokenize → shingle → k hash-min
    * aggregations → 64 bit-average aggregations) happens once, at
    * [[writeCurationArtifacts]] time.
    *
    * NOTHING is gated at write time — every consumer owns its whole
    * gate (over the stored `n_tokens`/text columns), which is what
    * makes one artifact set valid for gated and ungated consumers
    * alike. Only the shingle width and MinHash k are baked in.
    */
  final case class CurationArtifacts(
      annotated: DataFrame,
      shingles: DataFrame,
      sigs: DataFrame,
      simhash64: DataFrame)

  /** Build and STORE the family artifacts under `baseDir` (parquet
    * tables `annotated/`, `shingles/`, `sigs/`, `simhash64/`),
    * chaining each stage through its stored predecessor so nothing
    * recomputes, then return the read-back handles. This is the
    * production framing: the artifacts are corpus-linear, so they
    * live as stored tables (the [[curateState]] precedent), not
    * driver memos.
    *
    * The write MUST stay UNGATED — pass the full corpus, never a
    * pre-filtered slice. A gate applied here silently invalidates the
    * artifact set for every looser consumer (a document dropped at
    * write time can never come back); consumers own their whole gate
    * over the stored `n_tokens`/text columns instead (the
    * [[CurationArtifacts]] invariant).
    */
  def writeCurationArtifacts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      baseDir: String,
      shingleSize: Int = 3,
      k: Int = 9): CurationArtifacts = {
    val spark = docs.sparkSession
    docs
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .write.mode("overwrite").parquet(s"$baseDir/annotated")
    val ann = spark.read.parquet(s"$baseDir/annotated")
    Dedup.shingleRows(ann, idCol, textCol, shingleSize)
      .write.mode("overwrite").parquet(s"$baseDir/shingles")
    val sh = spark.read.parquet(s"$baseDir/shingles")
    Dedup.minhashFromShingles(sh, idCol, k)
      .write.mode("overwrite").parquet(s"$baseDir/sigs")
    Dedup.simhash64(ann, idCol, textCol)
      .write.mode("overwrite").parquet(s"$baseDir/simhash64")
    readCurationArtifacts(spark, baseDir)
  }

  /** Handles onto artifacts previously written by
    * [[writeCurationArtifacts]].
    */
  def readCurationArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      baseDir: String): CurationArtifacts =
    CurationArtifacts(
      spark.read.parquet(s"$baseDir/annotated"),
      spark.read.parquet(s"$baseDir/shingles"),
      spark.read.parquet(s"$baseDir/sigs"),
      spark.read.parquet(s"$baseDir/simhash64"))

  /** [[clean]] over stored family artifacts: the consumer's quality
    * gate (token bounds via the stored `n_tokens`, stopword ratio,
    * model) re-applied to the annotated corpus — consumers may
    * TIGHTEN the bounds the artifacts were written with, never loosen
    * them (a doc dropped at write time cannot come back) — then exact
    * dedup on the stored fingerprint, the near-dup pair drop on the
    * semi-filtered shingle/signature slice, and the survivors'
    * original columns. Result identical to [[clean]] on the same
    * corpus and config (asserted in CurateSpec).
    */
  def cleanFromArtifacts(
      art: CurationArtifacts,
      idCol: String,
      textCol: String,
      cfg: Config = Config()): DataFrame =
    cleanFromArtifactsCached(art, idCol, textCol, cfg).df

  /** [[cleanFromArtifacts]] plus the persisted candidate-pair handles
    * ([[cleanCached]]'s contract applied to the artifact path): the
    * LSH pair frame persists inside [[Dedup.nearDupArtifactsFromSigs]],
    * so a long-lived session cleaning corpus after corpus must
    * `.unpersist()` after its terminal action or the cached blocks
    * accumulate unreleasable.
    */
  def cleanFromArtifactsCached(
      art: CurationArtifacts,
      idCol: String,
      textCol: String,
      cfg: Config = Config()): Dedup.CachedDF = {
    val stopR = TextAnalysis.stopwordRatio(col(textCol))
    val quality = art.annotated.filter(
      col("n_tokens") >= cfg.minTokens && col("n_tokens") <= cfg.maxTokens &&
        stopR >= cfg.minStopRatio && modelOk(cfg, textCol))
    val exact = Dedup.exact(quality, Seq("__fp"), idCol)
    val ids = exact.select(col(idCol))
    val sh = art.shingles.join(ids, Seq(idCol), "left_semi")
    val sigs = art.sigs.join(ids, Seq(idCol), "left_semi")
    val nd = Dedup.nearDupArtifactsFromSigs(sh, sigs, idCol,
      threshold = cfg.jaccardThreshold)
    val losers = nd.pairs.select(col("d2").as(idCol)).distinct()
    val kept = exact.join(losers, Seq(idCol), "left_anti")
      .drop("__fp", "n_tokens")
    Dedup.CachedDF(kept, nd.handles)
  }

  /** [[curate]] over stored family artifacts: applies the consumer's
    * model gate to the annotated corpus, exact-dedups on the stored
    * fingerprint, semi-filters the stored shingle/signature tables to
    * the survivors, and runs banding + verification + stages 4-8 on
    * exactly that slice — result identical to [[curate]] on the same
    * gated corpus (asserted in CurateSpec), but the dominant
    * per-document work is read, not recomputed.
    */
  def curateFromArtifacts(
      art: CurationArtifacts,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      nShards: Int = 4,
      contaminationThreshold: Double = 0.5,
      strictShingles: Boolean = false,
      semantic: Option[SemanticStage] = None,
      perplexity: Option[PerplexityStage] = None): DataFrame =
    curateFromArtifactsCached(art, evalDocs, idCol, textCol, cfg, splits,
      nShards, contaminationThreshold, strictShingles, semantic, perplexity).df

  /** [[curateFromArtifacts]] plus its persisted intermediates for
    * caller release.
    */
  def curateFromArtifactsCached(
      art: CurationArtifacts,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      nShards: Int = 4,
      contaminationThreshold: Double = 0.5,
      strictShingles: Boolean = false,
      semantic: Option[SemanticStage] = None,
      perplexity: Option[PerplexityStage] = None): Dedup.CachedDF = {
    import org.apache.spark.storage.StorageLevel
    // 1-2 replayed on the stored annotation: the consumer's FULL gate
    // (token bounds over the stored n_tokens + the model) + exact
    // dedup — artifacts are written ungated
    val cleaned = Dedup.exact(
        art.annotated.filter(
          col("n_tokens") >= cfg.minTokens && col("n_tokens") <= cfg.maxTokens &&
            modelOk(cfg, textCol)),
        Seq("__fp"), idCol)
      .drop("__fp")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = cleaned.select(col(idCol))
    // 3. the survivors' slice of the stored per-doc tables; banding,
    // caps and the verify join run on exactly this slice
    val sh = art.shingles.join(ids, Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = art.sigs.join(ids, Seq(idCol), "left_semi")
    val nd = Dedup.nearDupArtifactsFromSigs(sh, sigs, idCol,
      threshold = cfg.jaccardThreshold)
    curateTail(cleaned, nd, evalDocs, idCol, textCol, cfg, splits,
      nShards, contaminationThreshold, strictShingles, semantic, perplexity)
  }

  /** The per-document ingest STATE a curation run persists so future
    * batches can be curated WITHOUT re-scanning the base corpus text:
    * `(idCol, fp, simhash)` — the exact-dup fingerprint
    * ([[TextAnalysis.fingerprint]]) and the SimHash (64-bit
    * [[Dedup.simhash64]] by default — the corpus-scale width; the
    * 16-bit variant saturates on a template-heavy corpus, where
    * hamming <= 3 matches nearly every cross pair, and its 4-bit
    * bands have only 16 buckets per band, so the blocked join goes
    * quasi-quadratic once the corpus outgrows them). One scan of the
    * corpus, one id-keyed join
    * of the two per-doc reductions; a production pipeline writes this
    * frame to a parquet state table and appends each curated batch's
    * rows to it. Docs with no tokens keep a null simhash (they can
    * still exact-dup-match by fingerprint).
    */
  def curateState(docs: DataFrame, idCol: String, textCol: String,
      sigChars: Int = 64): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .join(simhashOfWidth(docs, idCol, textCol, sigChars), Seq(idCol), "left")

  /** The SimHash of the requested width — 64 ([[Dedup.simhash64]],
    * the default: its 16-bit bands keep the blocked join linear; see
    * PLANS.md "SimHash width at corpus scale") or 16 (the compact
    * legacy width, kept for state tables written before the default
    * changed).
    */
  private def simhashOfWidth(docs: DataFrame, idCol: String,
      textCol: String, sigChars: Int): DataFrame = sigChars match {
    case 16 => Dedup.simhash16(docs, idCol, textCol)
    case 64 => Dedup.simhash64(docs, idCol, textCol)
    case w => throw new IllegalArgumentException(
      s"sigChars must be 16 or 64, got $w")
  }

  /** Incremental curation: label every document of a NEW batch against
    * the persisted [[curateState]] of the already-ingested corpus —
    * the batch-over-batches shape of production curation, where the
    * base corpus is curated once and each arriving batch is judged
    * against its state without re-reading base text.
    *
    * Output: `(idCol, n_tokens, decision)`, one row per batch doc,
    * where `decision` is the FIRST failing stage in priority order
    * (so the per-label counts chain like [[attritionReport]]'s):
    *
    *   1. `quality` — token count outside `[minTokens, maxTokens]`
    *   1b. `model_filtered` — the optional [[Config.model]] classifier
    *      scores below its threshold ([[QualityClassifier.scoreExpr]],
    *      per-row, no extra shuffle); absent model, never fires
    *   2. `exact_dup_base` — fingerprint already in the state
    *   3. `exact_dup_batch` — a smaller-id quality-passing batch doc
    *      has the same fingerprint (min-id-wins, and the keeper must
    *      itself pass quality: a gate-failed doc shields nothing)
    *   4. `near_dup_base` — SimHash within `maxHamming` of any state
    *      row ([[Dedup.simhashIncrementalPairsFromSigs]] — the
    *      4-band pigeonhole join, lossless for `maxHamming <= 3`)
    *   5. `near_dup_batch` — SimHash within `maxHamming` of a
    *      smaller-id batch doc that survived stages 1-3. The smaller
    *      doc shields even when IT is dropped as `near_dup_base`:
    *      conservative over-dropping, but deterministic and
    *      order-independent — the alternative (chain through dropped
    *      docs) would make a doc's fate depend on resolution order
    *      inside the batch.
    *   6. `contaminated` — n-gram containment vs `evalDocs` reaches
    *      `contaminationThreshold` (q129's measure, non-strict
    *      shingles — [[curateCached]]'s default convention)
    *   7. `kept` — append to the corpus and add its state row.
    *
    * Scale shape: every comparison against the (unbounded) state is a
    * blocked equi-join — fingerprints by hash, SimHash by the 4-band
    * pigeonhole — and the decision assembly is id-keyed left joins of
    * small flag frames onto the batch; nothing is quadratic in either
    * the state or the batch, and base text is never touched.
    *
    * Replay-idempotent: append the kept docs' [[curateState]] rows to
    * the state and re-run the same batch — every previously-kept doc
    * now labels `exact_dup_base`, so a crashed-and-restarted ingest
    * that already committed its appends admits nothing twice
    * (asserted in CurateSpec).
    */
  def curateIncrement(
      state: DataFrame,
      batch: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      maxHamming: Int = 3,
      contaminationThreshold: Double = 0.5,
      sigChars: Int = 64): DataFrame =
    curateIncrementCached(state, batch, evalDocs, idCol, textCol, cfg,
      maxHamming, contaminationThreshold, sigChars).df

  /** [[curateIncrement]] plus its persisted batch frame for caller
    * release. The annotated batch `(id, text, n_tokens, fp)` is read
    * by SEVEN consumers (quality gate, both exact-dup joins, the
    * stage-1-3 survivor set, both SimHash sides, the shingle join, and
    * the final assembly); without the persist each one re-derives it
    * from the raw input — at sf0.001 that plan has ~780 physical
    * nodes and its first execution spends ~35 s in codegen alone.
    */
  def curateIncrementCached(
      state: DataFrame,
      batch: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      maxHamming: Int = 3,
      contaminationThreshold: Double = 0.5,
      sigChars: Int = 64): Dedup.CachedDF = {
    import org.apache.spark.storage.StorageLevel
    // the state is read twice (fingerprint semi-join + signature
    // join); persisting it here costs one pass over (id, fp, simhash)
    // rows and halves the caller's state-derivation work when the
    // state is computed rather than read from a parquet state table
    val st = state.persist(StorageLevel.MEMORY_AND_DISK)
    // Width guard: a state table written under a DIFFERENT SimHash
    // width (e.g. 16-char rows from before the 64-bit default) would
    // not error — the band decode of a too-short signature yields
    // NULL words, every Hamming distance goes NULL, and near-dup
    // detection against the whole pre-existing corpus silently
    // disables. One limit(1) probe turns that into a loud failure.
    st.select(col("simhash")).filter(
        col("simhash").isNotNull && length(col("simhash")) =!= sigChars)
      .limit(1).collect().headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"state simhash width ${r.getString(0).length} != sigChars $sigChars: " +
            "pass sigChars matching the width the state table was written with")
      }
    val nTokens = TextAnalysis.tokenCount(col(textCol))
    val b = batch
      .select(col(idCol), col(textCol))
      .withColumn("n_tokens", nTokens)
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qualityOk =
      col("n_tokens") >= cfg.minTokens && col("n_tokens") <= cfg.maxTokens
    // optional model gate (label `model_filtered`): a per-row
    // expression over the persisted batch frame — failing docs shield
    // nothing downstream, same as heuristic-quality failures
    val mOk = modelOk(cfg, textCol)
    val okq = b.filter(qualityOk && mOk)

    // 2. exact vs base: hash equi-join on the fingerprint
    val exBase = b.join(st.select(col("fp").as("__fp")), Seq("__fp"), "left_semi")
      .select(col(idCol))
    // 3. exact within batch: min quality-passing id per fingerprint
    // keeps; everyone else with that fingerprint drops
    val keeper = okq.groupBy(col("__fp")).agg(min(col(idCol)).as("__kid"))
    val exBatch = okq.join(keeper, "__fp")
      .filter(col(idCol) =!= col("__kid"))
      .select(col(idCol))
    // stages 1-3 survivors (the docs that can shield stage-5 dups)
    val surv13 = okq.select(col(idCol))
      .join(exBase.select(col(idCol).as("__x1")), col(idCol) === col("__x1"), "left_anti")
      .join(exBatch.select(col(idCol).as("__x2")), col(idCol) === col("__x2"), "left_anti")

    // 4-5. SimHash blocking: batch signatures computed once (from the
    // persisted batch frame), state signatures read from the state
    val bSigs = simhashOfWidth(b, idCol, textCol, sigChars)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nearBase = Dedup.simhashIncrementalPairsFromSigs(
        st.select(col(idCol), col("simhash")), bSigs, idCol, maxHamming,
        sigChars)
      .select(col("new_id").as(idCol)).distinct()
    val survSigs = bSigs.join(surv13, Seq(idCol), "left_semi")
    val nearBatch = Dedup.simhashIncrementalPairsFromSigs(
        survSigs, survSigs, idCol, maxHamming, sigChars)
      .filter(col("old_id") < col("new_id"))
      .select(col("new_id").as(idCol)).distinct()

    // 6. eval contamination (q129's containment on batch vs eval).
    // The eval set is small by definition (it is a benchmark), so its
    // shingles BROADCAST: without the hint the optimizer's estimate
    // for an exploded filtered scan overshoots the auto threshold and
    // the ENTIRE batch shingle set shuffles through a sort-merge join
    // (measured: ~87k rows written per run at sf0.1 for a 10-doc eval)
    val bSh = Dedup.shingleRows(b, idCol, textCol)
    val eSh = broadcast(Dedup.shingleRows(evalDocs, idCol, textCol)
      .select(col(idCol).as("__eid"), col("__sh")))
    val eSz = broadcast(eSh.groupBy(col("__eid")).agg(count(lit(1)).as("__ne")))
    val contaminated = bSh
      .join(eSh, "__sh")
      .groupBy(col(idCol), col("__eid"))
      .agg(count(lit(1)).as("__shared"))
      .join(eSz, "__eid")
      .filter(col("__shared").cast("double") / col("__ne") >= contaminationThreshold)
      .select(col(idCol))
      .distinct()

    def flag(ids: DataFrame, name: String): DataFrame =
      ids.select(col(idCol)).withColumn(name, lit(true))
    val decisions = b.join(flag(exBase, "__exb"), Seq(idCol), "left")
      .join(flag(exBatch, "__exn"), Seq(idCol), "left")
      .join(flag(nearBase, "__nb"), Seq(idCol), "left")
      .join(flag(nearBatch, "__nn"), Seq(idCol), "left")
      .join(flag(contaminated, "__ct"), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        when(!qualityOk, "quality")
          .when(!mOk, "model_filtered")
          .when(coalesce(col("__exb"), lit(false)), "exact_dup_base")
          .when(coalesce(col("__exn"), lit(false)), "exact_dup_batch")
          .when(coalesce(col("__nb"), lit(false)), "near_dup_base")
          .when(coalesce(col("__nn"), lit(false)), "near_dup_batch")
          .when(coalesce(col("__ct"), lit(false)), "contaminated")
          .otherwise("kept").as("decision"))
      .orderBy(idCol)
    Dedup.CachedDF(decisions, Seq(st, b, bSigs))
  }

  /** Per-stage attrition accounting for a sequential filter cascade —
    * the report every curation run publishes: how many documents each
    * stage saw, dropped, and passed on, with per-stage and cumulative
    * rates. Stages apply IN ORDER: a document is charged to the FIRST
    * stage whose predicate it fails (later stages never see it), so the
    * per-stage numbers chain exactly (`n_out` of stage i = `n_in` of
    * stage i+1).
    *
    * One scan: each row maps to its first-failing stage index, one
    * partial-aggregated groupBy over ≤ stages+1 groups, and the funnel
    * arithmetic (a running sum) runs on that stage-count table — rows
    * never shuffle, whatever the corpus size.
    *
    * Output: `(stage_idx, stage, n_in, n_dropped, n_out, drop_rate,
    * cum_kept_rate)`, one row per stage.
    */
  def attritionReport(
      docs: DataFrame,
      stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "at least one stage")
    val spark = docs.sparkSession
    import spark.implicits._
    val firstFail = stages.zipWithIndex.foldRight(lit(null).cast("long")) {
      case (((_, cond), i), acc) => when(!cond, lit(i.toLong)).otherwise(acc)
    }
    val byFail = docs.select(firstFail.as("__ff"))
      .groupBy("__ff").agg(count(lit(1)).as("__n"))
    val total = byFail.agg(coalesce(sum(col("__n")), lit(0L)).as("__total"))
    val spine = stages.zipWithIndex
      .map { case ((name, _), i) => (i.toLong, name) }
      .toDF("stage_idx", "stage")
    val w = Window.orderBy("stage_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    broadcast(spine)
      .join(byFail, col("stage_idx") === col("__ff"), "left")
      .crossJoin(broadcast(total))
      .select(col("stage_idx"), col("stage"),
        coalesce(col("__n"), lit(0L)).as("n_dropped"), col("__total"))
      .withColumn("n_in",
        col("__total") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .select(
        col("stage_idx"), col("stage"), col("n_in"), col("n_dropped"),
        col("n_out"),
        when(col("n_in") > 0,
          round(col("n_dropped").cast("double") / col("n_in"), 6))
          .as("drop_rate"),
        when(col("__total") > 0,
          round(col("n_out").cast("double") / col("__total"), 6))
          .as("cum_kept_rate"))
  }
}
