package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge

import graft.plans.TopKPerKey

/** Corpus ranking / retrieval-index operators: BM25 scoring, inverted
  * index construction, and unigram language-model scoring.
  *
  * These extend the reference's text surface the same way TfIdf does —
  * the reference has no retrieval layer at all, so the shapes here are
  * pure Spark-first designs:
  *
  *  - every per-term statistic is a partial-aggregated `groupBy` keyed
  *    on high-cardinality (doc, term) / (term) columns;
  *  - corpus-level scalars (N, avgdl, total token count) are 1-row
  *    frames joined in via `broadcast` crossJoin, never `collect()`ed
  *    through the driver;
  *  - per-term posting lists are capped with the heap-bounded
  *    [[graft.plans.TopKPerKey]] operator BEFORE any `collect_list`,
  *    so a stop-word term can never materialize an unbounded array on
  *    one executor at 100 TB.
  */
object Ranking {

  /** BM25 relevance of every document against a fixed bag of query
    * terms; the `topK` highest-scoring docs are returned as
    * (id, score) ordered by (score desc, id).
    *
    * Determinism: the per-term contributions are pivoted into fixed
    * columns and added in query-term order (never `sum()` over doubles,
    * whose partial order is engine-dependent); `dl/avgdl` and the idf
    * log run on scalars that are exact decimal/long aggregates.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(queryTerms.distinct == queryTerms, "query terms must be distinct")
    val id = col(idCol)
    // pivot columns are keyed by term INDEX, not term text — tokens
    // routinely contain dots/quotes/backticks that would break column
    // resolution or generated SQL
    val ti = queryTerms.indices
    // the query terms are literals, so per-doc length AND every
    // per-term frequency pivot out of ONE explode + ONE partial-
    // aggregated shuffle (no (doc, term) shuffle, no tf/dl joins)
    val toks = docs.select(id, explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tfAggs = count(lit(1)).as("dl") +:
      ti.map(i => sum(when(col("term") === queryTerms(i), 1L).otherwise(0L)).as(s"__tf_$i"))
    val byDoc = toks.groupBy(id).agg(tfAggs.head, tfAggs.tail: _*)
    // corpus scalars in one tiny pass over the doc-level frame:
    // N, total length, and each term's document frequency
    val statAggs = count(lit(1)).as("__n") +: sum(col("dl")).as("__sdl") +:
      ti.map(i => sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = byDoc.agg(statAggs.head, statAggs.tail: _*)

    def contrib(i: Int): Column = {
      val tf = col(s"__tf_$i")
      val idf = log((col("__n") - col(s"__df_$i") + 0.5) / (col(s"__df_$i") + 0.5) + 1.0)
      when(tf > 0,
        idf * (tf * (k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }
    // fixed-order sum: c(t1) + c(t2) + ... in queryTerms order, never
    // a float aggregate whose partial order an engine could vary
    val score = ti.map(contrib).reduceLeft(_ + _)
    byDoc.crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("__sdl").cast("double") / col("__n"))
      .filter(ti.map(i => col(s"__tf_$i") > 0).reduceLeft(_ || _))
      .select(id, round(score, 5).as("score"))
      .orderBy(col("score").desc, id)
      .limit(topK)
  }

  /** DuckDB SQL equivalent of [[bm25]] over table `src`; tokenization
    * matches `TextAnalysis.tokens` (lower, split on space, drop empties).
    */
  def bm25Sql(
      src: String,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): String = {
    def q(t: String) = "'" + t.replace("'", "''") + "'"
    val inList = queryTerms.map(q).mkString(", ")
    val caseCols = queryTerms.zipWithIndex.map { case (t, i) =>
      s"MAX(CASE WHEN term = ${q(t)} THEN c END) AS c_$i"
    }.mkString(",\n    ")
    val scoreSum = queryTerms.indices.map(i => s"COALESCE(c_$i, 0.0)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT $idCol, unnest(${TextAnalysis.tokensSql(textCol)}) AS term
       |  FROM $src),
       |dl AS (SELECT $idCol, COUNT(*) AS dl FROM toks GROUP BY 1),
       |tf AS (SELECT $idCol, term, COUNT(*) AS tf FROM toks
       |       WHERE term IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
       |c AS (SELECT tf.$idCol, tf.term,
       |    ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
       |      (tf.tf * ($k1 + 1.0)) /
       |      (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / (CAST(st.sdl AS DOUBLE) / st.n))) AS c
       |  FROM tf JOIN dl USING ($idCol) JOIN dfq USING (term) CROSS JOIN st),
       |p AS (SELECT $idCol,
       |    $caseCols
       |  FROM c GROUP BY 1)
       |SELECT $idCol, round($scoreSum, 5) AS score FROM p
       |ORDER BY score DESC, $idCol LIMIT $topK""".stripMargin
  }

  /** Inverted index: per term, its document frequency and a posting
    * list of the `maxPostings` smallest doc ids, rendered as a
    * comma-joined string (portable across the oracle compare).
    *
    * df is computed on the FULL distinct (doc, term) set; only the
    * posting list is capped, via TopKPerKey (heap-bounded map-side), so
    * no term ever collects an unbounded array.
    */
  def invertedIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    val dfreq = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val capped = TopKPerKey.topk(pairs, Seq("term"), Seq(TopKPerKey.Asc(idCol)), maxPostings)
    val postings = capped.groupBy(col("term"))
      .agg(array_join(
        transform(array_sort(collect_list(col(idCol))), _.cast("string")),
        ",").as("postings"))
    dfreq.join(postings, "term")
      .select(col("term"), col("df"), col("postings"))
      .orderBy("term")
  }

  /** DuckDB SQL equivalent of [[invertedIndex]]. */
  def invertedIndexSql(src: String, idCol: String, textCol: String, maxPostings: Int): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT $idCol, unnest(${TextAnalysis.tokensSql(textCol)}) AS term
       |  FROM $src),
       |dfq AS (SELECT term, COUNT(*) AS df FROM pairs GROUP BY 1),
       |capped AS (SELECT term, $idCol FROM (
       |    SELECT term, $idCol,
       |      ROW_NUMBER() OVER (PARTITION BY term ORDER BY $idCol) AS rn
       |    FROM pairs) t WHERE rn <= $maxPostings),
       |p AS (SELECT term, array_to_string(list_sort(list(${idCol})), ',') AS postings
       |      FROM capped GROUP BY 1)
       |SELECT term, df, postings FROM dfq JOIN p USING (term) ORDER BY term""".stripMargin

  /** Unigram language-model quality score: each document's mean token
    * log-probability under the corpus unigram distribution (CCNet-style
    * LM filtering, with the corpus itself as the model). Lower = more
    * atypical. Returns (id, n_tokens, logprob) for the `k` lowest-
    * scoring docs.
    *
    * Determinism: ln() output is rounded to 9 decimals per TERM (not
    * per token occurrence) and the per-doc total is an exact decimal
    * sum `tf * logp9`, so the engines' float-reduction orders can never
    * disagree; the final mean divides two exact values in double once.
    */
  def unigramLogProb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20): DataFrame = {
    val id = col(idCol)
    val toks = docs.select(id, explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    val termTotals = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val corpus = termTotals.agg(sum(col("ctf")).as("__total"))
    val logp = termTotals.crossJoin(broadcast(corpus))
      .select(col("term"),
        round(log(col("ctf").cast("double") / col("__total")), 9)
          .cast("decimal(18,9)").as("logp9"))
    // no broadcast hint: logp is vocabulary-sized (unbounded on a web
    // corpus) — the equi-join on term shuffles both sides; AQE still
    // broadcasts it when it measures small
    tf.join(logp, "term")
      .groupBy(id)
      .agg(sum(col("tf")).as("n_tokens"),
        // cast the count to decimal(18,0) first: long widens to
        // decimal(20,0) and the product's precision-39 result gets
        // CLAMPED to decimal(38,8) — every product silently rounded,
        // where the oracle keeps exact scale 9
        sum(col("tf").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("n_tokens"),
        round(col("__slp").cast("double") / col("n_tokens"), 6).as("logprob"))
      .orderBy(col("logprob").asc, id)
      .limit(k)
  }

  /** Bigram language-model quality score: each document's mean bigram
    * log-probability under the corpus bigram MLE
    * `P(w2 | w1) = c(w1 w2) / c(w1 ·)`, where `c(w1 ·)` counts w1 as a
    * bigram CONTEXT (sum of its bigram counts, not its unigram count —
    * a document-final token opens no bigram). The order-sensitive
    * upgrade of [[unigramLogProb]]: scrambled or templated text scores
    * far lower than prose with the same vocabulary. No smoothing
    * needed — every document bigram occurs in the corpus it is scored
    * against, so the MLE is finite. Returns (id, n_bigrams, logprob)
    * for the `k` lowest-scoring docs.
    *
    * Adjacency never shuffles: the bigram stream is a per-row
    * `transform` over the token array (struct of token i and token
    * i+1), so pairing happens inside the scan projection. Everything
    * downstream is partial-aggregated groupBys and one (w1, w2)-keyed
    * join. Determinism: same scheme as [[unigramLogProb]] — one ln()
    * rounded to 9 decimals per distinct BIGRAM, exact decimal
    * `bf * logp9` per-doc sums, one final double division.
    */
  def bigramLogProb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20): DataFrame = {
    val id = col(idCol)
    val bg = docs
      .select(id, TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, explode(expr(
        "transform(slice(__a, 1, greatest(size(__a) - 1, 0)), " +
          "(w, i) -> struct(w AS w1, element_at(__a, i + 2) AS w2))")).as("__bg"))
      .select(id, col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val bf = bg.groupBy(id, col("w1"), col("w2")).agg(count(lit(1)).as("bf"))
    val cb = bf.groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("cb"))
    val c1 = cb.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
    val logp = cb.join(c1, "w1")
      .select(col("w1"), col("w2"),
        round(log(col("cb").cast("double") / col("c1")), 9)
          .cast("decimal(18,9)").as("logp9"))
    bf.join(logp, Seq("w1", "w2"))
      .groupBy(id)
      .agg(sum(col("bf")).as("n_bigrams"),
        sum(col("bf").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("n_bigrams"),
        round(col("__slp").cast("double") / col("n_bigrams"), 6).as("logprob"))
      .orderBy(col("logprob").asc, id)
      .limit(k)
  }

  /** DuckDB SQL equivalent of [[bigramLogProb]] — the two zipped
    * `unnest` slices pair each token with its successor positionally,
    * mirroring the Spark `transform` adjacency.
    */
  def bigramLogProbSql(src: String, idCol: String, textCol: String, k: Int = 20): String =
    s"""WITH t AS (
       |  SELECT $idCol, ${TextAnalysis.tokensSql(textCol)} AS a FROM $src),
       |bg AS (SELECT $idCol,
       |    unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |  FROM t WHERE len(a) >= 2),
       |bf AS (SELECT $idCol, w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3),
       |cb AS (SELECT w1, w2, SUM(bf) AS cb FROM bf GROUP BY 1, 2),
       |c1 AS (SELECT w1, SUM(cb) AS c1 FROM cb GROUP BY 1),
       |lp AS (SELECT cb.w1, cb.w2,
       |    CAST(round(ln(CAST(cb.cb AS DOUBLE) / c1.c1), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM cb JOIN c1 USING (w1)),
       |d AS (SELECT bf.$idCol, CAST(SUM(bf.bf) AS BIGINT) AS n_bigrams,
       |        SUM(CAST(bf.bf AS DECIMAL(18,0)) * lp.logp9) AS slp
       |      FROM bf JOIN lp USING (w1, w2) GROUP BY 1)
       |SELECT $idCol, n_bigrams, round(CAST(slp AS DOUBLE) / n_bigrams, 6) AS logprob
       |FROM d ORDER BY logprob ASC, $idCol LIMIT $k""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * score each POOL document by its mean per-token log-ratio of
    * target-distribution probability to pool-distribution probability
    * (hashed-ngram DSIR with whitespace unigrams as the feature space).
    * High scores = pool documents that look like the target domain —
    * the `k` best are returned as (id, n_tokens, logw).
    *
    * Both unigram LMs are add-1 smoothed over the shared vocabulary.
    * Same determinism scheme as [[unigramLogProb]]: one rounded
    * decimal per TERM, exact decimal `tf * logr` sums per doc, one
    * final double division.
    */
  def dsirLogWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      k: Int = 20): DataFrame = {
    val id = col(idCol)
    val toks = docs
      .select(id, isTarget.as("__t"), explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(id, col("__t"), col("term")).agg(count(lit(1)).as("tf"))
    val termStats = tf.groupBy(col("term")).agg(
      sum(when(col("__t"), col("tf")).otherwise(0L)).as("ct"),
      sum(when(!col("__t"), col("tf")).otherwise(0L)).as("cp"))
    val totals = termStats.agg(
      sum(col("ct")).as("__T"), sum(col("cp")).as("__P"),
      count(lit(1)).as("__V"))
    val logr = termStats.crossJoin(broadcast(totals))
      .select(col("term"),
        round(log(
          ((col("ct") + 1).cast("double") / (col("__T") + col("__V"))) /
            ((col("cp") + 1).cast("double") / (col("__P") + col("__V")))), 9)
          .cast("decimal(18,9)").as("logr9"))
    tf.filter(!col("__t"))
      .join(logr, "term")
      .groupBy(id)
      .agg(sum(col("tf")).as("n_tokens"),
        // decimal(18,0) cast: see unigramLogProb — keeps the product
        // at exact scale 9 instead of a clamped decimal(38,8)
        sum(col("tf").cast("decimal(18,0)") * col("logr9")).as("__slr"))
      .select(id, col("n_tokens"),
        round(col("__slr").cast("double") / col("n_tokens"), 6).as("logw"))
      .orderBy(col("logw").desc, id)
      .limit(k)
  }

  /** DuckDB SQL equivalent of [[dsirLogWeights]]; `targetPred` is a
    * SQL boolean over `src`'s columns.
    */
  def dsirLogWeightsSql(src: String, idCol: String, textCol: String,
      targetPred: String, k: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT $idCol, ($targetPred) AS t,
       |    unnest(${TextAnalysis.tokensSql(textCol)}) AS term
       |  FROM $src),
       |tf AS (SELECT $idCol, t, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
       |ts AS (SELECT term,
       |    SUM(CASE WHEN t THEN tf ELSE 0 END) AS ct,
       |    SUM(CASE WHEN NOT t THEN tf ELSE 0 END) AS cp
       |  FROM tf GROUP BY 1),
       |tot AS (SELECT SUM(ct) AS T, SUM(cp) AS P, COUNT(*) AS V FROM ts),
       |lr AS (SELECT term,
       |    CAST(round(ln((CAST(ct + 1 AS DOUBLE) / (T + V)) /
       |                  (CAST(cp + 1 AS DOUBLE) / (P + V))), 9) AS DECIMAL(18,9)) AS logr9
       |  FROM ts CROSS JOIN tot),
       |d AS (SELECT tf.$idCol, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       |        SUM(CAST(tf.tf AS DECIMAL(18,0)) * lr.logr9) AS slr
       |      FROM tf JOIN lr USING (term) WHERE NOT tf.t GROUP BY 1)
       |SELECT $idCol, n_tokens, round(CAST(slr AS DOUBLE) / n_tokens, 6) AS logw
       |FROM d ORDER BY logw DESC, $idCol LIMIT $k""".stripMargin

  // --------------------------------------------------------------------
  // Reference-trained interpolated bigram LM (CCNet-style perplexity
  // filtering — Wenzek et al. 2020, "CCNet: Extracting High Quality
  // Monolingual Datasets from Web Crawl Data", arXiv:1911.00359).
  //
  // [[unigramLogProb]]/[[bigramLogProb]] score a corpus against ITSELF
  // (MLE, no smoothing needed). The production filtering step is
  // different: the LM is trained on a trusted REFERENCE slice (CCNet:
  // per-language Wikipedia) and scores the whole POOL — so unseen pool
  // bigrams/tokens are the norm, and the model must smooth. This family
  // is that step, plus the suite's stored-artifact deploy pattern: the
  // trained counts persist as parquet tables ([[writeRefLm]]) and the
  // scoring fleet reads them ([[readRefLm]]) — retrain the reference LM
  // and every consumer re-scores with no code change.
  // --------------------------------------------------------------------

  /** A reference LM as four count tables — exactly what [[refLmScore]]
    * consumes, and exactly what persists to parquet:
    *  - `unigrams`: (term, c1) token counts over the reference slice;
    *  - `contexts`: (w1, ctx)  bigram-context totals `c(w1 ·)`;
    *  - `bigrams` : (w1, w2, cb) bigram counts;
    *  - `totals`  : 1 row (n_ref_tokens, vocab).
    * All integers — the model is exact, so training, storing and
    * re-reading cannot drift.
    */
  final case class RefLmModel(
      unigrams: DataFrame, contexts: DataFrame,
      bigrams: DataFrame, totals: DataFrame)

  /** The adjacent-pair stream of a token array column `__a` — pairing
    * happens inside the scan projection (a per-row `transform`), so
    * bigram adjacency never shuffles.
    */
  private def bigramPairs: Column = explode(expr(
    "transform(slice(__a, 1, greatest(size(__a) - 1, 0)), " +
      "(w, i) -> struct(w AS w1, element_at(__a, i + 2) AS w2))"))

  /** TRAIN the reference LM: count unigrams, bigrams and bigram
    * contexts over the `isRef` slice of `docs`. Pure partial-aggregated
    * groupBys over the tokenized scan — one shuffle per count table,
    * nothing driver-side. Precondition: the reference slice is
    * non-empty (an empty slice trains a null-total model that scores
    * everything NULL; [[readRefLm]] fails fast on it).
    */
  def refLmTrain(
      docs: DataFrame, idCol: String, textCol: String, isRef: Column): RefLmModel = {
    val toks = docs.filter(isRef)
      .select(TextAnalysis.tokens(col(textCol)).as("__a"))
    val uni = toks.select(explode(col("__a")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c1"))
    val big = toks.select(bigramPairs.as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy("w1").agg(sum("cb").as("ctx"))
    val tot = uni.agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
    RefLmModel(uni, ctx, big, tot)
  }

  /** Score every pool document under the reference LM with
    * Jelinek-Mercer interpolation
    * `P(w2|w1) = λ·c(w1 w2)/c(w1 ·) + (1−λ)·(c(w2)+1)/(N+V)`
    * (λ = lamNum/lamDen; the unigram leg is add-1 smoothed over the
    * reference vocabulary, so out-of-vocabulary pool tokens still get
    * finite mass). Returns (id, n_bigrams, logprob = mean bigram
    * log-probability, rounded to 6) for every pool doc with ≥ 2
    * tokens. Lower logprob = higher perplexity = less reference-like.
    *
    * Scale shape: pool bigrams partial-agg to per-doc (id, w1, w2, bf)
    * counts; the model joins happen once per DISTINCT pool pair (the
    * model tables are vocabulary-sized — no broadcast hint, AQE
    * broadcasts them when it measures small); per-doc totals are one
    * more partial agg. Determinism: the λ-mixture is a fixed IEEE
    * expression tree over exact integer counts, its ln() is rounded to
    * 9 decimals once per distinct PAIR, per-doc sums are exact decimal
    * `bf · logp9`, and one final double division rounds to 6 — the
    * [[unigramLogProb]] scheme.
    */
  def refLmScore(
      pool: DataFrame, idCol: String, textCol: String, model: RefLmModel,
      lamNum: Int = 7, lamDen: Int = 10,
      checkpointTf: Boolean = false): DataFrame = {
    require(lamNum > 0 && lamNum < lamDen, s"need 0 < λ < 1, got $lamNum/$lamDen")
    val id = col(idCol)
    val lam1 = lamNum.toDouble / lamDen
    val lam2 = (lamDen - lamNum).toDouble / lamDen
    val bfRaw = pool
      .select(id, TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, bigramPairs.as("__bg"))
      .select(id, col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(id, col("w1"), col("w2")).agg(count(lit(1)).as("bf"))
    // checkpointTf (r17 optimization round): the per-doc pair table
    // feeds TWO consumers (the distinct-pairs model join and the final
    // per-doc aggregate), and exchange reuse does not span their
    // separate jobs — without a materialization the pool is tokenized
    // twice per score. Batch query paths opt in (tokenize once, and
    // every downstream AQE re-optimization plans over a LogicalRDD);
    // the default stays lazy for the per-micro-batch streaming gates,
    // where an eager checkpoint per batch would pin blocks for the
    // stream's lifetime.
    val bf = if (checkpointTf) bfRaw.localCheckpoint() else bfRaw
    val pairs = bf.select("w1", "w2").distinct()
    val pB = coalesce(col("cb"), lit(0L)).cast("double")
    val pC = coalesce(col("ctx"), lit(0L))
    val pU = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double")
    val nv = (col("n_ref_tokens") + col("vocab")).cast("double")
    val mix = lit(lam1) * when(pC > lit(0L), pB / pC.cast("double")).otherwise(lit(0.0)) +
      lit(lam2) * (pU / nv)
    val logp = pairs
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.contexts, Seq("w1"), "left")
      .join(model.unigrams.withColumnRenamed("term", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(model.totals))
      .select(col("w1"), col("w2"),
        round(log(mix), 9).cast("decimal(18,9)").as("logp9"))
    bf.join(logp, Seq("w1", "w2"))
      .groupBy(id)
      .agg(sum(col("bf")).as("n_bigrams"),
        // decimal(18,0) cast: see unigramLogProb — keeps the product
        // at exact scale 9 instead of a clamped decimal(38,8)
        sum(col("bf").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("n_bigrams"),
        round(col("__slp").cast("double") / col("n_bigrams"), 6).as("logprob"))
  }

  /** CCNet's head/middle/tail perplexity buckets over a [[refLmScore]]
    * frame, by VALUE cutoffs at the exact tertile ranks: v_head is the
    * score of the rank-⌈n/3⌉ doc (ordered by logprob desc), v_mid the
    * rank-⌈2n/3⌉ score; head = logprob ≥ v_head, middle = [v_mid,
    * v_head), tail = the rest. Tied scores land in one bucket — the
    * cutoff is a value, not a row split — so the rule needs NO global
    * row-number over the corpus: the order statistics come from a
    * cumulative window over the HISTOGRAM of distinct rounded scores
    * (≪ corpus-sized), and the bucketing itself is a broadcast of two
    * scalars into the scan. Returns one row per non-empty bucket:
    * (bucket, n_docs, min_logprob, max_logprob, n_bigrams), ordered by
    * bucket name (head < middle < tail alphabetically).
    */
  def refLmPerplexityBuckets(scored: DataFrame): DataFrame =
    refLmPerplexityBucketsCached(scored).df

  /** [[refLmPerplexityBuckets]] exposing the persisted histogram
    * handle (the [[Dedup.CachedDF]] contract): long-lived sessions
    * calling the bucket report repeatedly must be able to release the
    * cached block; Verify/Bench release via their per-query
    * `clearCache`.
    */
  def refLmPerplexityBucketsCached(scored: DataFrame): Dedup.CachedDF =
    bucketsFromScoredCached(scored, "n_bigrams")

  /** The bucket-report body shared by the bigram and trigram families —
    * parameterized only by the per-doc count column the scored frame
    * carries (`n_bigrams` / `n_trigrams`), which is also the report's
    * output column name.
    */
  private def bucketsFromScoredCached(
      scored: DataFrame, cntCol: String): Dedup.CachedDF = {
    val hist = scoreHist(scored, cntCol)
    val df = hist.crossJoin(cutoffsFromHist(hist))
      .select(
        when(col("logprob") >= col("v_head"), lit("head"))
          .when(col("logprob") >= col("v_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        col("logprob"), col("nv"), col("snb"))
      .groupBy("bucket")
      .agg(sum("nv").as("n_docs"),
        min("logprob").as("min_logprob"),
        max("logprob").as("max_logprob"),
        sum("snb").as(cntCol))
      .orderBy("bucket")
    Dedup.CachedDF(df, Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** The HISTOGRAM of a [[refLmScore]] frame — (logprob, nv = docs at
    * that score, snb = their bigram total), PERSISTED: every
    * downstream consumer (cumulative ranks, totals, the bucket report
    * itself) works off these rows, so the expensive scoring pipeline
    * executes exactly ONCE no matter how many plan branches read it.
    * The histogram is bounded by the 6-decimal score value space, not
    * the corpus, so caching it is artifact-sized; the per-query
    * `clearCache` in Verify/Bench releases it (the near-dup
    * candidate-pair precedent).
    */
  private def scoreHist(
      scored: DataFrame, cntCol: String = "n_bigrams"): DataFrame =
    scored.groupBy("logprob")
      .agg(count(lit(1)).as("nv"), sum(cntCol).as("snb"))
      // localCheckpoint, not persist (r17 optimization round, guide
      // §3.3): the histogram feeds ~8 downstream jobs (bin prefix,
      // within-bin refinement, totals, the report's crossJoin) and a
      // persisted frame still carries the FULL scoring-pipeline plan
      // into every one of those jobs' AQE re-optimizations — measured
      // ~1.3 s of serial driver gaps per LM query at sf0.1. The
      // checkpoint truncates the downstream plans to a LogicalRDD over
      // the same artifact-sized rows (bounded by the 6-decimal score
      // value space, not the corpus); execution count is unchanged
      // (the persist design already materialized scoring exactly once).
      .localCheckpoint()

  /** (v_head, v_mid) from a [[scoreHist]] frame — cumulative counts by
    * COARSE-BIN-THEN-REFINE, never one unpartitioned window over the
    * full histogram: rows coarse-bin at centi-logprob
    * (`floor(logprob·100)` — multiplication by a positive constant and
    * floor are both monotone in IEEE, so bin order is consistent with
    * score order and equal scores share a bin), the bin-DESC prefix
    * runs over the BIN TABLE only (≤ the centi value space, thousands
    * of rows), and the within-bin refinement window is PARTITIONED by
    * bin (≤ 100 distinct 6-decimal scores each). cumn = strictly-
    * greater-bin prefix + within-bin cumulative — identical to the
    * single global window, but the largest single-task slice is one
    * centi-bin, not the whole histogram (the worst case of which is
    * ~10^7 rows at 100 TB — the r14 judge's melt-first watch item).
    */
  private def cutoffsFromHist(hist: DataFrame): DataFrame = {
    val binned = hist.withColumn("__bin", floor(col("logprob") * lit(100.0)))
    val binPrior = binned.groupBy("__bin").agg(sum("nv").as("__bn"))
      .withColumn("__prior",
        sum("__bn").over(Window.orderBy(col("__bin").desc)) - col("__bn"))
      .select(col("__bin"), col("__prior"))
    val cum = binned.join(broadcast(binPrior), "__bin")
      .withColumn("cumn", col("__prior") + sum("nv").over(
        Window.partitionBy(col("__bin")).orderBy(col("logprob").desc)))
    val tot = hist.agg(sum("nv").as("n"))
    broadcast(cum.crossJoin(broadcast(tot))
      .agg(
        max(when(col("cumn") >= expr("(n + 2) div 3"), col("logprob")))
          .as("v_head"),
        max(when(col("cumn") >= expr("(2 * n + 2) div 3"), col("logprob")))
          .as("v_mid")))
  }

  /** The two [[refLmPerplexityBuckets]] value cutoffs as one row
    * (v_head, v_mid) — the MEASURED numbers a streaming ingest gates
    * at ([[writeRefLmCutoffs]] persists them next to the model; the
    * stream must not recompute corpus tertiles per micro-batch).
    */
  def refLmCutoffs(scored: DataFrame): DataFrame =
    refLmCutoffsCached(scored).df

  /** [[refLmCutoffs]] exposing the persisted histogram handle (the
    * [[Dedup.CachedDF]] contract — the bucket reports' discipline): a
    * long-lived session re-measuring cutoffs on a cadence must be able
    * to release the MEMORY_AND_DISK block per measurement instead of
    * leaning on a global cache scrub.
    */
  def refLmCutoffsCached(scored: DataFrame): Dedup.CachedDF = {
    val hist = scoreHist(scored)
    Dedup.CachedDF(cutoffsFromHist(hist), Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** Persist the [[refLmCutoffs]] row beside the stored LM — the
    * measured-threshold artifact of the perplexity stage (the
    * stored-gate/probe-sweep pattern): re-measure the corpus and
    * overwrite, and every streaming consumer re-tunes with no code
    * change.
    */
  def writeRefLmCutoffs(cutoffs: DataFrame, path: String): Unit =
    cutoffs.coalesce(1).write.mode("overwrite").parquet(path)

  /** Read back a [[writeRefLmCutoffs]] artifact as (v_head, v_mid).
    * Fails fast unless the table is exactly one non-null row.
    */
  def readRefLmCutoffs(spark: SparkSession, path: String): (Double, Double) = {
    val rows = spark.read.parquet(path)
      .select(col("v_head"), col("v_mid")).collect()
    require(rows.length == 1 && !rows(0).isNullAt(0) && !rows(0).isNullAt(1),
      s"reference-LM cutoff artifact at $path is not exactly one non-null row")
    (rows(0).getDouble(0), rows(0).getDouble(1))
  }

  /** Run independent artifact-table writes CONCURRENTLY — the safe
    * version of the round-15 landmine (see PLANS round-15): naive
    * concurrent writes of frames sharing expression-tree instances
    * silently corrupted counts, because Catalyst's
    * `ConvertToLocalRelation` folds projections over LocalRelations
    * EAGERLY during optimization with interpreted expression
    * evaluation, and concurrent optimization of plans sharing a
    * higher-order function's `LambdaVariable` races on its value
    * holder (reproduced: impossible bigrams, redistributed unigram
    * totals; 8/8 clean with the rule excluded). Two independent
    * defenses here, either sufficient:
    *
    *  1. every write re-analyzes the RAW logical plan under its own
    *     thread (graftbridge `ofRows`), so lambda binding mints
    *     FRESH `NamedLambdaVariable` instances per plan — nothing
    *     mutable is shared across threads;
    *  2. the writes run in a CLONED SparkSession with
    *     `ConvertToLocalRelation` excluded (the experimentally-proven
    *     fix), so the eager interpreted fold never runs at all. The
    *     clone shares the SparkContext and the cache manager (persisted
    *     merge frames still substitute) but owns its SQLConf, so the
    *     exclusion never leaks into the caller's session.
    *
    * RefLmParallelWriteSpec is the promoted 8/8 concurrency test: it
    * replays the exact racy shape (HOF tokenize lambdas over a local
    * relation under every count table) and asserts bit-exact counts
    * across repeated concurrent writes.
    */
  private def writeTablesParallel(
      tables: Seq[(DataFrame, String, Boolean)]): Unit = {
    require(tables.nonEmpty, "no tables to write")
    val spark = tables.head._1.sparkSession
    // a true CLONE (not newSession): the writer must inherit the
    // caller's RUNTIME SQL confs — e.g. the nanos-timestamp parquet
    // conf Tables.load sets — or a written table whose lineage reads
    // events.ts would execute under different conf than the
    // sequential path did (ADVICE r16)
    val writer = org.apache.spark.sql.graftbridge.cloneSession(spark)
    writer.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    // raw plans captured on the caller thread; each task re-analyzes
    // its own copy under the writer session
    val jobs = tables.map { case (df, path, one) =>
      (df.queryExecution.logical, path, one)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(jobs.size, 6))
    try {
      val futs = jobs.map { case (plan, path, one) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val rebound =
              org.apache.spark.sql.graftbridge.ofRows(writer, plan)
            (if (one) rebound.coalesce(1) else rebound)
              .write.mode("overwrite").parquet(path)
          }
        })
      }
      pool.shutdown()
      futs.foreach(_.get())
    } finally { pool.shutdownNow(); () }
  }

  /** Persist a [[RefLmModel]] as four parquet tables under `path` —
    * the stored-artifact deploy pattern (the IVF centroid-table /
    * stored-gate shape applied to the reference LM): the scoring fleet
    * reads counts, never retrains. The four independent writes overlap
    * through [[writeTablesParallel]] (safe since round 16 — see its
    * scaladoc for the ConvertToLocalRelation race this used to be).
    */
  def writeRefLm(model: RefLmModel, path: String): Unit =
    writeTablesParallel(Seq(
      (model.unigrams, s"$path/unigram", false),
      (model.contexts, s"$path/ctx", false),
      (model.bigrams, s"$path/bigram", false),
      (model.totals, s"$path/totals", true)))

  /** Read back a [[writeRefLm]] artifact. Fails fast on a totals table
    * that is not exactly one non-null row (the signature of an empty
    * or partially-written model, which would otherwise silently score
    * every document NULL).
    */
  def readRefLm(spark: SparkSession, path: String): RefLmModel = {
    val tot = spark.read.parquet(s"$path/totals")
    val rows = tot.collect()
    require(rows.length == 1 && !rows(0).isNullAt(0) && rows(0).getLong(0) > 0,
      s"reference-LM artifact at $path has an empty or invalid totals table")
    RefLmModel(
      spark.read.parquet(s"$path/unigram"),
      spark.read.parquet(s"$path/ctx"),
      spark.read.parquet(s"$path/bigram"),
      tot)
  }

  /** The merged model of [[mergeIntoStoredRefLmReturning]] plus the
    * persisted frame handles backing it: the caller scores from these
    * SAME frames the staged write materialized (no parquet read-back —
    * the q190 barrier-density lesson) and releases them with
    * [[MergedRefLm.unpersist]] when done. The frames' lineage reads
    * the PRE-merge tables, which the swap replaces — the persisted
    * blocks (MEMORY_AND_DISK, spill-not-evict) are what make the
    * frames valid, so unpersist only after the last action over them.
    */
  final case class MergedRefLm(model: RefLmModel, handles: Seq[DataFrame]) {
    def unpersist(): Unit = handles.foreach(_.unpersist(false))
  }

  /** Merge a NEW reference slice into a stored [[writeRefLm]] artifact
    * in place — the incremental-update leg of the LM lifecycle: counts
    * are additive, so the merged model is EXACTLY the model a from-
    * scratch retrain on the union would produce (RefLmSpec asserts the
    * bit-for-bit equality), at the cost of one delta-sized training
    * pass plus a model-sized union-aggregate — never a re-read of the
    * historical corpus. Context totals and (n, vocab) are re-derived
    * from the merged tables (vocab is NOT additive across overlapping
    * vocabularies). Returns true iff a merge was applied.
    *
    * Replay idempotence: pass `batchId` and the merge keeps an
    * applied-batch log INSIDE the model directory (`applied` table) —
    * a batch id already in the log is a no-op (returns false), and the
    * log stages and swaps WITH the count tables, so the model and its
    * log can never disagree after a crash: either both absorbed the
    * batch or neither did. This is what makes
    * [[graft.streaming.StreamingPerplexity.ingestReference]] safe
    * under micro-batch replay (the curation decision-log discipline
    * applied to an additive model).
    *
    * Crash safety: the merged tables stage into a sibling directory
    * and swap in by TWO renames (live→old, staged→live) — no mixed
    * model is ever visible, but a crash BETWEEN the renames leaves no
    * model at `path` (it sits complete at `path__old`): readers fail
    * with a missing path, never wrong counts, and the next merge
    * self-heals by restoring `path__old` before proceeding (manual
    * recovery = the same rename). NOT safe concurrently with another
    * writer of `path`; quiesce first.
    */
  def mergeIntoStoredRefLm(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Boolean =
    mergeIntoStoredRefLmReturning(spark, path, delta, idCol, textCol,
        isRef, batchId) match {
      case Some(m) => m.unpersist(); true
      case None => false
    }

  /** [[mergeIntoStoredRefLm]] that hands back the merged model AS the
    * persisted frames the staged write materialized, so the caller can
    * score immediately without re-reading the four parquet tables (and
    * without the totals-collect barrier of [[readRefLm]]). `None` iff
    * `batchId` was already applied.
    */
  def mergeIntoStoredRefLmReturning(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Option[MergedRefLm] = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStranded(fs, live)
    val stored = readRefLm(spark, path)
    val prevApplied = readApplied(spark, fs, live)
    if (isApplied(prevApplied, batchId)) return None
    val d = refLmTrain(delta, idCol, textCol, isRef)
    // persist the two merged count frames: each feeds TWO of the four
    // staged writes (uni → unigram+totals, big → bigram+ctx), and
    // without the pin every write re-runs the delta tokenization
    val uni = stored.unigrams.unionByName(d.unigrams)
      .groupBy("term").agg(sum("c1").as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = stored.bigrams.unionByName(d.bigrams)
      .groupBy("w1", "w2").agg(sum("cb").as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = big.groupBy("w1").agg(sum("cb").as("ctx"))
    val tot = uni.agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
    val staged = new Path(live.getParent, live.getName + "__merging")
    if (fs.exists(staged)) fs.delete(staged, true)
    val merged = RefLmModel(uni, ctx, big, tot)
    try {
      writeRefLm(merged, staged.toString)
      writeApplied(spark, staged, prevApplied, batchId)
      stagedSwap(fs, live, staged)
    } catch {
      case e: Throwable => uni.unpersist(false); big.unpersist(false); throw e
    }
    Some(MergedRefLm(merged, Seq(uni, big)))
  }

  /** The staged-merge skeleton shared by the Boolean count-merges
    * ([[mergeIntoStoredRefLm3]], [[mergeIntoStoredKeyedRefLm]],
    * [[mergeIntoStoredKeyedRefLm3]]; [[mergeIntoStoredRefLmReturning]]
    * stays custom — it hands its persisted frames to the caller
    * instead of releasing them): heal a stranded swap, consult the
    * applied-batch log, then let `body` read the stored model and
    * build the merged tables, returning the persisted frame handles
    * plus a writer of the staged directory. The skeleton stages the
    * write, extends the applied log INSIDE the staged dir (so it
    * swaps atomically with the counts), swaps it in, and always
    * releases the handles. One implementation of the crash-safety
    * protocol — a fix here fixes every merge. Returns true iff
    * applied (false = `batchId` already logged, a replay no-op).
    */
  private def stagedCountMerge(spark: SparkSession, path: String,
      batchId: Option[Long])(
      body: () => (Seq[DataFrame], String => Unit)): Boolean = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStranded(fs, live)
    val prevApplied = readApplied(spark, fs, live)
    if (isApplied(prevApplied, batchId)) return false
    val (handles, writeStaged) = body()
    val staged = new Path(live.getParent, live.getName + "__merging")
    if (fs.exists(staged)) fs.delete(staged, true)
    try {
      writeStaged(staged.toString)
      writeApplied(spark, staged, prevApplied, batchId)
      stagedSwap(fs, live, staged)
    } finally handles.foreach(_.unpersist(false))
    true
  }

  /** Self-heal the between-renames crash window of [[stagedSwap]]: a
    * complete model at `__old` with nothing live is the only state the
    * swap can strand — restore it before reading.
    */
  private def healStranded(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(
      live.getParent, live.getName + "__old")
    if (!fs.exists(live) && fs.exists(old)) { fs.rename(old, live); () }
  }

  /** Swap a fully-written `staged` model dir in over `live` — two
    * renames through `__old`, restore-on-failure, never a mixed model.
    */
  private def stagedSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      staged: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(
      live.getParent, live.getName + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"stagedSwap: could not stage out $live")
    if (!fs.rename(staged, live)) {
      // restore the original model before failing — the swap is
      // all-or-nothing from the reader's perspective
      fs.rename(old, live)
      throw new java.io.IOException(s"stagedSwap: could not swap in $staged")
    }
    fs.delete(old, true)
    ()
  }

  /** The applied-batch log of a stored model dir, if one exists. */
  private def readApplied(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(live, "applied")
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  private def isApplied(
      prevApplied: Option[DataFrame], batchId: Option[Long]): Boolean =
    batchId.exists(id => prevApplied.exists(a =>
      !a.filter(col("batch_id") === id).isEmpty))

  /** Extend the applied-batch log INSIDE the staged dir so it swaps
    * atomically with the counts it describes.
    */
  private def writeApplied(spark: SparkSession,
      staged: org.apache.hadoop.fs.Path,
      prevApplied: Option[DataFrame], batchId: Option[Long]): Unit = {
    val newApplied = (prevApplied, batchId) match {
      case (p, Some(id)) =>
        val row = spark.range(1).select(lit(id).as("batch_id"))
        Some(p.fold(row.toDF())(_.unionByName(row)))
      case (p, None) => p
    }
    newApplied.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(staged, "applied").toString))
  }

  // --------------------------------------------------------------------
  // Order-3 reference LM — the capability step toward CCNet's real
  // 5-gram model: trigram counts over the same trusted slice, scored
  // with a Jelinek-Mercer BACKOFF CHAIN trigram→bigram→unigram
  //   P(w3|w1 w2) = λ3·c(w1w2w3)/c(w1w2·)
  //               + (1−λ3)·[ λ·c(w2w3)/c(w2·) + (1−λ)·(c(w3)+1)/(N+V) ]
  // — all counts exact additive integers, so the incremental
  // count-merge's bit-equal-to-retrain property carries over to
  // order 3 unchanged (RefLm3Spec asserts it).
  // --------------------------------------------------------------------

  /** An order-3 reference LM: the order-2 [[RefLmModel]] it backs off
    * into, plus
    *  - `trigrams`   : (w1, w2, w3, ct) trigram counts;
    *  - `triContexts`: (w1, w2, ctx3)  trigram-context totals
    *    `c(w1 w2 ·)` — NOT the bigram count `c(w1 w2)` (a document's
    *    final bigram has no continuation), so it is its own derived
    *    table, re-derivable from `trigrams` exactly like `contexts`
    *    from `bigrams`.
    */
  final case class RefLm3Model(
      base: RefLmModel, trigrams: DataFrame, triContexts: DataFrame)

  /** The adjacent-triple stream of a token array column `__a` — the
    * [[bigramPairs]] shape one order up; adjacency never shuffles.
    */
  private def trigramTriples: Column = explode(expr(
    "transform(slice(__a, 1, greatest(size(__a) - 2, 0)), " +
      "(w, i) -> struct(w AS w1, element_at(__a, i + 2) AS w2, " +
      "element_at(__a, i + 3) AS w3))"))

  /** TRAIN the order-3 reference LM: the order-2 counts plus trigram
    * and trigram-context tables — one more partial-aggregated groupBy
    * over the tokenized scan, same shuffle discipline as
    * [[refLmTrain]].
    */
  def refLm3Train(docs: DataFrame, idCol: String, textCol: String,
      isRef: Column): RefLm3Model = {
    val base = refLmTrain(docs, idCol, textCol, isRef)
    val toks = docs.filter(isRef)
      .select(TextAnalysis.tokens(col(textCol)).as("__a"))
    val tri = toks.select(trigramTriples.as("__tg"))
      .select(col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
    val tctx = tri.groupBy("w1", "w2").agg(sum("ct").as("ctx3"))
    RefLm3Model(base, tri, tctx)
  }

  /** Score every pool document under the order-3 reference LM with the
    * trigram→bigram→unigram backoff chain (λ3 = lam3Num/lam3Den over
    * the trigram ML leg, then the [[refLmScore]] bigram mixture).
    * Returns (id, n_trigrams, logprob = mean trigram log-probability,
    * rounded to 6) for every pool doc with ≥ 3 tokens.
    *
    * Scale shape and determinism exactly as [[refLmScore]]: per-doc
    * triple frequencies partial-agg first, the model joins happen once
    * per DISTINCT pool triple, ln() rounds to 9 decimals per triple,
    * per-doc sums are exact decimal, one final double division rounds
    * to 6.
    */
  def refLm3Score(pool: DataFrame, idCol: String, textCol: String,
      model: RefLm3Model, lam3Num: Int = 5, lam3Den: Int = 10,
      lamNum: Int = 7, lamDen: Int = 10,
      checkpointTf: Boolean = false): DataFrame = {
    require(lam3Num > 0 && lam3Num < lam3Den,
      s"need 0 < λ3 < 1, got $lam3Num/$lam3Den")
    require(lamNum > 0 && lamNum < lamDen, s"need 0 < λ < 1, got $lamNum/$lamDen")
    val id = col(idCol)
    val l3a = lam3Num.toDouble / lam3Den
    val l3b = (lam3Den - lam3Num).toDouble / lam3Den
    val lam1 = lamNum.toDouble / lamDen
    val lam2 = (lamDen - lamNum).toDouble / lamDen
    val tfRaw = pool
      .select(id, TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, trigramTriples.as("__tg"))
      .select(id, col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
      .groupBy(id, col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("tfq"))
    // tokenize-once materialization for batch paths — [[refLmScore]]'s
    // checkpointTf rationale
    val tf = if (checkpointTf) tfRaw.localCheckpoint() else tfRaw
    val triples = tf.select("w1", "w2", "w3").distinct()
    val pT = coalesce(col("ct"), lit(0L)).cast("double")
    val pTC = coalesce(col("ctx3"), lit(0L))
    val pB = coalesce(col("cb"), lit(0L)).cast("double")
    val pC = coalesce(col("ctx"), lit(0L))
    val pU = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double")
    val nv = (col("n_ref_tokens") + col("vocab")).cast("double")
    val bigMix =
      lit(lam1) * when(pC > lit(0L), pB / pC.cast("double")).otherwise(lit(0.0)) +
        lit(lam2) * (pU / nv)
    val mix =
      lit(l3a) * when(pTC > lit(0L), pT / pTC.cast("double")).otherwise(lit(0.0)) +
        lit(l3b) * bigMix
    val logp = triples
      .join(model.trigrams, Seq("w1", "w2", "w3"), "left")
      .join(model.triContexts, Seq("w1", "w2"), "left")
      // the backoff bigram of (w1,w2,w3) is (w2,w3); rename via select
      // (withColumnRenamed would collide with the existing w2/w3)
      .join(model.base.bigrams
        .select(col("w1").as("w2"), col("w2").as("w3"), col("cb")),
        Seq("w2", "w3"), "left")
      .join(model.base.contexts.select(col("w1").as("w2"), col("ctx")),
        Seq("w2"), "left")
      .join(model.base.unigrams.select(col("term").as("w3"), col("c1")),
        Seq("w3"), "left")
      .crossJoin(broadcast(model.base.totals))
      .select(col("w1"), col("w2"), col("w3"),
        round(log(mix), 9).cast("decimal(18,9)").as("logp9"))
    tf.join(logp, Seq("w1", "w2", "w3"))
      .groupBy(id)
      .agg(sum(col("tfq")).as("n_trigrams"),
        sum(col("tfq").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("n_trigrams"),
        round(col("__slp").cast("double") / col("n_trigrams"), 6).as("logprob"))
  }

  /** [[refLmPerplexityBuckets]] over an order-3 scored frame — same
    * value-cutoff tertiles, reporting `n_trigrams`.
    */
  def refLm3PerplexityBuckets(scored: DataFrame): DataFrame =
    refLm3PerplexityBucketsCached(scored).df

  /** [[refLm3PerplexityBuckets]] exposing the persisted histogram
    * handle — the [[Dedup.CachedDF]] contract.
    */
  def refLm3PerplexityBucketsCached(scored: DataFrame): Dedup.CachedDF =
    bucketsFromScoredCached(scored, "n_trigrams")

  /** The (v_head, v_mid) cutoff row of an order-3 scored frame — what
    * [[writeRefLmCutoffs]] persists beside a stored [[RefLm3Model]] so
    * the order-3 streaming gate
    * ([[graft.streaming.StreamingPerplexity.gateBatch3]]) labels at
    * measured numbers; same artifact format as the bigram family.
    */
  def refLm3Cutoffs(scored: DataFrame): DataFrame =
    refLm3CutoffsCached(scored).df

  /** [[refLm3Cutoffs]] exposing the persisted histogram handle — the
    * [[Dedup.CachedDF]] contract.
    */
  def refLm3CutoffsCached(scored: DataFrame): Dedup.CachedDF = {
    val hist = scoreHist(scored, "n_trigrams")
    Dedup.CachedDF(cutoffsFromHist(hist), Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** Score every pool document under the order-3 reference LM with
    * INTERPOLATED KNESER-NEY smoothing (Kneser & Ney 1995; the
    * interpolated formulation of Chen & Goodman 1998, "An Empirical
    * Study of Smoothing Techniques for Language Modeling") — the
    * smoothing CCNet's actual KenLM models use, vs the Jelinek-Mercer
    * mixture of [[refLm3Score]]. Absolute discount `D = dNum/dDen`
    * (default 3/4 — exactly representable in IEEE, so the replay is
    * bit-portable):
    *
    *   P₃(w3|w1w2) = (max(c(w1w2w3)−D, 0) + D·T3(w1w2)·P₂(w3|w2)) / C3(w1w2)
    *                 — backing off entirely to P₂ when C3 = 0;
    *   P₂(w3|w2)   = (max(c'(w2w3)−D, 0) + D·T2(w2)·Pc(w3)) / C2(w2)
    *                 — backing off entirely to Pc when C2 = 0;
    *   Pc(w3)      = (N1+(·w3) + 1) / (B + V)
    *
    * where the LOWER orders use CONTINUATION counts (KN's defining
    * move — "how many contexts has this word completed", not raw
    * frequency): `c'(w2w3) = N1+(·w2w3)` = distinct w1 preceding the
    * bigram in a trigram, `C2(w2) = Σ_x c'(w2x)`, `T2(w2)` = distinct
    * continuations of w2, `T3(w1w2)` = distinct continuations of the
    * context, `N1+(·w3)` = distinct left-neighbors of w3 in the bigram
    * table, `B` = distinct bigram types, `V` = vocabulary. The bottom
    * level is add-1 smoothed over B+V (textbook KN gives an unseen
    * word zero mass; the pool contains OOV tokens by construction, so
    * the unigram leg keeps the [[refLmScore]] convention of finite
    * mass everywhere).
    *
    * EVERY table here derives from the [[RefLm3Model]]'s base counts
    * (trigrams, bigrams, unigrams — all exact additive integers), so
    * the stored deploy ([[writeRefLm3]]/[[readRefLm3]]) and the
    * bit-equal-to-retrain incremental merge
    * ([[mergeIntoStoredRefLm3]]) carry over to KN UNCHANGED: merge the
    * counts, and the KN probabilities re-derive from the merged tables
    * exactly as a from-scratch retrain would (RefLmKn3Spec asserts
    * it). No new artifact format, no new merge path.
    *
    * Scale shape and determinism exactly as [[refLm3Score]]: per-doc
    * triple frequencies partial-agg first; the continuation tables are
    * one groupBy each over the model tables (model-sized, never
    * corpus-sized); model joins happen once per DISTINCT pool triple;
    * ln() rounds to 9 decimals per triple; per-doc sums are exact
    * decimal; one final double division rounds to 6. Returns
    * (id, n_trigrams, logprob) for every pool doc with ≥ 3 tokens.
    */
  def refLmKn3Score(pool: DataFrame, idCol: String, textCol: String,
      model: RefLm3Model, dNum: Int = 3, dDen: Int = 4,
      checkpointTf: Boolean = false): DataFrame = {
    require(dNum > 0 && dNum < dDen, s"need 0 < D < 1, got $dNum/$dDen")
    val id = col(idCol)
    val d = dNum.toDouble / dDen
    val tfRaw = pool
      .select(id, TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, trigramTriples.as("__tg"))
      .select(id, col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
      .groupBy(id, col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("tfq"))
    // tokenize-once materialization for batch paths — [[refLmScore]]'s
    // checkpointTf rationale
    val tf = if (checkpointTf) tfRaw.localCheckpoint() else tfRaw
    val triples = tf.select("w1", "w2", "w3").distinct()
    // continuation tables, each one partial-aggregated groupBy over a
    // MODEL table (trigram/bigram rows are distinct per key, so
    // count(*) IS the distinct-continuation count)
    val t3 = model.trigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__t3"))
    val cbig = model.trigrams.groupBy("w2", "w3").agg(count(lit(1)).as("__cc"))
    val c2 = cbig.groupBy("w2")
      .agg(sum("__cc").as("__c2"), count(lit(1)).as("__t2"))
    val cu = model.base.bigrams.groupBy("w2").agg(count(lit(1)).as("__cu"))
    val btot = model.base.bigrams.agg(count(lit(1)).as("__nbig"))
    val pT = coalesce(col("ct"), lit(0L)).cast("double")
    val pC3 = coalesce(col("ctx3"), lit(0L))
    val pT3 = coalesce(col("__t3"), lit(0L)).cast("double")
    val pCC = coalesce(col("__cc"), lit(0L)).cast("double")
    val pC2 = coalesce(col("__c2"), lit(0L))
    val pT2 = coalesce(col("__t2"), lit(0L)).cast("double")
    val pCU = coalesce(col("__cu"), lit(0L)).cast("double")
    val bv = (col("__nbig") + col("vocab")).cast("double")
    val pc = (pCU + lit(1.0)) / bv
    val p2 = when(pC2 > lit(0L),
      (greatest(pCC - lit(d), lit(0.0)) + lit(d) * pT2 * pc) /
        pC2.cast("double")).otherwise(pc)
    val p3 = when(pC3 > lit(0L),
      (greatest(pT - lit(d), lit(0.0)) + lit(d) * pT3 * p2) /
        pC3.cast("double")).otherwise(p2)
    val logp = triples
      .join(model.trigrams, Seq("w1", "w2", "w3"), "left")
      .join(model.triContexts, Seq("w1", "w2"), "left")
      .join(t3, Seq("w1", "w2"), "left")
      // the continuation bigram of (w1,w2,w3) is keyed (w2,w3) already
      .join(cbig, Seq("w2", "w3"), "left")
      .join(c2, Seq("w2"), "left")
      .join(cu.select(col("w2").as("w3"), col("__cu")), Seq("w3"), "left")
      .crossJoin(broadcast(model.base.totals))
      .crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("w3"),
        round(log(p3), 9).cast("decimal(18,9)").as("logp9"))
    tf.join(logp, Seq("w1", "w2", "w3"))
      .groupBy(id)
      .agg(sum(col("tfq")).as("n_trigrams"),
        sum(col("tfq").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("n_trigrams"),
        round(col("__slp").cast("double") / col("n_trigrams"), 6).as("logprob"))
  }

  /** Persist a [[RefLm3Model]] — the order-2 tables plus `trigram` and
    * `tctx`, all six overlapped through [[writeTablesParallel]].
    */
  def writeRefLm3(model: RefLm3Model, path: String): Unit =
    writeTablesParallel(Seq(
      (model.base.unigrams, s"$path/unigram", false),
      (model.base.contexts, s"$path/ctx", false),
      (model.base.bigrams, s"$path/bigram", false),
      (model.base.totals, s"$path/totals", true),
      (model.trigrams, s"$path/trigram", false),
      (model.triContexts, s"$path/tctx", false)))

  /** Read back a [[writeRefLm3]] artifact ([[readRefLm]]'s fail-fast
    * totals check included).
    */
  def readRefLm3(spark: SparkSession, path: String): RefLm3Model =
    RefLm3Model(
      readRefLm(spark, path),
      spark.read.parquet(s"$path/trigram"),
      spark.read.parquet(s"$path/tctx"))

  /** [[mergeIntoStoredRefLm]] at order 3: unigram, bigram AND trigram
    * counts are additive, context tables and totals re-derive from the
    * merged counts, so the bit-equal-to-retrain property carries over
    * unchanged (RefLm3Spec asserts it). Same staged swap, self-heal
    * and applied-batch replay guard.
    */
  def mergeIntoStoredRefLm3(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Boolean =
    stagedCountMerge(spark, path, batchId) { () =>
      val stored = readRefLm3(spark, path)
      val d = refLm3Train(delta, idCol, textCol, isRef)
      // the three additive count frames persist for the staged writes:
      // uni feeds unigram+totals, big feeds bigram+ctx, tri feeds
      // trigram+tctx — without the pin every write re-tokenizes the delta
      val uni = stored.base.unigrams.unionByName(d.base.unigrams)
        .groupBy("term").agg(sum("c1").as("c1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val big = stored.base.bigrams.unionByName(d.base.bigrams)
        .groupBy("w1", "w2").agg(sum("cb").as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tri = stored.trigrams.unionByName(d.trigrams)
        .groupBy("w1", "w2", "w3").agg(sum("ct").as("ct"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ctx = big.groupBy("w1").agg(sum("cb").as("ctx"))
      val tctx = tri.groupBy("w1", "w2").agg(sum("ct").as("ctx3"))
      val tot = uni.agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
      (Seq(uni, big, tri), staged =>
        writeRefLm3(RefLm3Model(RefLmModel(uni, ctx, big, tot), tri, tctx),
          staged))
    }

  // --------------------------------------------------------------------
  // Order-5 reference LM — CCNet's production depth (its KenLM models
  // are 5-gram interpolated Kneser-Ney). The stored model is the
  // order-3 artifact plus TWO more additive raw-count tables (4-grams,
  // 5-grams); every KN table — contexts, continuation counts, type
  // counts at all five orders — derives at score time with one
  // groupBy each, so the staged-swap deploy and the
  // bit-equal-to-retrain merge carry over with no new derivation
  // stored.
  //
  // STORAGE CONTRACT (the trigram→5-gram step change): distinct
  // 5-grams approach the corpus token count, so unlike the
  // vocabulary-bounded low orders the stored order-4/5 tables are
  // CORPUS-scale, not model-scale — plain partitioned parquet keyed by
  // the n-gram, merged with one partial-aggregated groupBy per table
  // (the same shuffle a corpus tokenization pays). Stored counts stay
  // UNPRUNED: additivity is what makes the incremental merge
  // bit-identical to a retrain, and pruning is not additive (a count
  // crossing the threshold after a merge must reappear). Pruning is
  // instead a SCORE-TIME config ([[refLmKn5Score]]'s minCount5/4 —
  // KenLM's singleton pruning as a view), which bounds every scoring
  // join side without touching the stored artifact; a deployment that
  // must bound STORAGE can prune at write, accepting that merges then
  // need the unpruned source of truth elsewhere.
  // --------------------------------------------------------------------

  /** An order-5 reference LM: the stored [[RefLm3Model]] plus raw
    * `fourgrams` (w1..w4, c4) and `fivegrams` (w1..w5, c5) counts.
    * Context and continuation tables deliberately NOT stored — KN
    * derives them at score time (one groupBy each), so the artifact
    * holds only additive counts and the merge stays bit-equal.
    */
  final case class RefLm5Model(
      base3: RefLm3Model, fourgrams: DataFrame, fivegrams: DataFrame)

  /** Adjacent 4-tuples of a token array column `__a`. */
  private def fourgramQuads: Column = explode(expr(
    "transform(slice(__a, 1, greatest(size(__a) - 3, 0)), " +
      "(w, i) -> struct(w AS w1, element_at(__a, i + 2) AS w2, " +
      "element_at(__a, i + 3) AS w3, element_at(__a, i + 4) AS w4))"))

  /** Adjacent 5-tuples of a token array column `__a`. */
  private def fivegramQuints: Column = explode(expr(
    "transform(slice(__a, 1, greatest(size(__a) - 4, 0)), " +
      "(w, i) -> struct(w AS w1, element_at(__a, i + 2) AS w2, " +
      "element_at(__a, i + 3) AS w3, element_at(__a, i + 4) AS w4, " +
      "element_at(__a, i + 5) AS w5))"))

  /** TRAIN the order-5 reference LM: the order-3 counts plus raw
    * 4-gram and 5-gram tables — two more partial-aggregated groupBys
    * over the tokenized scan, same shuffle discipline as
    * [[refLm3Train]].
    */
  def refLm5Train(docs: DataFrame, idCol: String, textCol: String,
      isRef: Column): RefLm5Model = {
    val base3 = refLm3Train(docs, idCol, textCol, isRef)
    val toks = docs.filter(isRef)
      .select(TextAnalysis.tokens(col(textCol)).as("__a"))
    val four = toks.select(fourgramQuads.as("__fg"))
      .select(col("__fg.w1").as("w1"), col("__fg.w2").as("w2"),
        col("__fg.w3").as("w3"), col("__fg.w4").as("w4"))
      .groupBy("w1", "w2", "w3", "w4").agg(count(lit(1)).as("c4"))
    val five = toks.select(fivegramQuints.as("__qg"))
      .select(col("__qg.w1").as("w1"), col("__qg.w2").as("w2"),
        col("__qg.w3").as("w3"), col("__qg.w4").as("w4"),
        col("__qg.w5").as("w5"))
      .groupBy("w1", "w2", "w3", "w4", "w5").agg(count(lit(1)).as("c5"))
    RefLm5Model(base3, four, five)
  }

  /** Score every pool document under 5-gram INTERPOLATED KNESER-NEY —
    * [[refLmKn3Score]] at CCNet's production depth. The chain follows
    * Chen & Goodman 1998: the TOP order uses raw counts, every lower
    * order uses continuation counts N1+(·w…) derived from the raw
    * table ONE order up —
    *
    *   P₅ = (max(c(w1..w5)−D,0) + D·T5·P₄) / C5   (raw 5-gram counts)
    *   P₄ = (max(N1+(·w2..w5)−D,0) + D·T4·P₃) / C4  (from 5-grams)
    *   P₃ = (max(N1+(·w3w4w5)−D,0) + D·T3·P₂) / C3  (from 4-grams)
    *   P₂ = (max(N1+(·w4w5)−D,0) + D·T2·Pc) / C2    (from trigrams)
    *   Pc = (N1+(·w5) + 1) / (B + V)                (from bigrams)
    *
    * each level backing off entirely when its context total is 0; the
    * bottom keeps the family's add-1 OOV convention.
    *
    * `minCount5`/`minCount4` (default 1 = no pruning) drop raw 5-/4-
    * gram rows BELOW the threshold before any derivation — KenLM's
    * count pruning as a score-time view: context totals, type counts
    * and continuation counts all re-derive from the pruned table, so
    * the pruned distribution stays normalized (the dropped mass routes
    * through the discount backoff, exactly as if those n-grams were
    * never observed). The stored artifact is untouched — see the
    * storage contract above.
    *
    * Scale shape: per-doc 5-tuple frequencies partial-agg first,
    * derivation tables are one groupBy over a model table each, and the
    * model-join chain runs DIRECTLY over the per-doc 5-tuple rows
    * (r18 optimization round): at order 5 the distinct-tuple dedup the
    * lower-order scorers rely on buys nothing — measured at sf0.1,
    * 250,704 per-doc rows vs 250,282 distinct 5-tuples (1.002x; the
    * order-2 factor is 275x, order-3 is 9.6x — those keep the
    * distinct+join-back design) — so the distinct exchange, the
    * join-back (which broadcast-hashed the whole per-doc frame on five
    * string keys), and the two-consumer tokenize checkpoint were pure
    * overhead: the per-doc frame has exactly one consumer, so the pool
    * is tokenized once by construction. Determinism unchanged: ln() of
    * the same fixed IEEE expression rounds to 9 decimals per row (equal
    * 5-tuples produce bit-equal logp9 wherever they are evaluated),
    * exact decimal doc sums, one final 6-round. Returns
    * (id, n_5grams, logprob) for every pool doc with ≥ 5 tokens.
    */
  def refLmKn5Score(pool: DataFrame, idCol: String, textCol: String,
      model: RefLm5Model, dNum: Int = 3, dDen: Int = 4,
      minCount5: Long = 1, minCount4: Long = 1): DataFrame = {
    require(dNum > 0 && dNum < dDen, s"need 0 < D < 1, got $dNum/$dDen")
    require(minCount5 >= 1 && minCount4 >= 1,
      s"count-pruning thresholds must be >= 1, got $minCount5/$minCount4")
    // the id rides the join chain as `__id`, so an idCol named like a
    // model column cannot make the chain's references ambiguous
    val id = col("__id")
    val d = dNum.toDouble / dDen
    // the per-doc 5-tuple frame: the groupBy's exchange is also what
    // spreads the downstream join chain across tasks (the raw explode
    // runs inside the scan's split count)
    val tf = pool
      .select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, fivegramQuints.as("__qg"))
      .select(id, col("__qg.w1").as("w1"), col("__qg.w2").as("w2"),
        col("__qg.w3").as("w3"), col("__qg.w4").as("w4"),
        col("__qg.w5").as("w5"))
      .groupBy(id, col("w1"), col("w2"), col("w3"), col("w4"), col("w5"))
      .agg(count(lit(1)).as("tfq"))
    // pruned raw views — every derivation below reads these
    val five = model.fivegrams.filter(col("c5") >= lit(minCount5))
    val four = model.fourgrams.filter(col("c4") >= lit(minCount4))
    // top order: context totals + type counts over pruned 5-grams
    val ce5 = five.groupBy("w1", "w2", "w3", "w4")
      .agg(sum("c5").as("__c5x"), count(lit(1)).as("__t5"))
    // order 4: continuation counts from the 5-gram table
    val cc4 = five.groupBy("w2", "w3", "w4", "w5")
      .agg(count(lit(1)).as("__cc4"))
    val c4 = cc4.groupBy("w2", "w3", "w4")
      .agg(sum("__cc4").as("__c4x"), count(lit(1)).as("__t4"))
    // order 3: continuation counts from the 4-gram table, keyed as the
    // (w3,w4,w5) trigram of the scored 5-tuple
    val cc3 = four.groupBy("w2", "w3", "w4")
      .agg(count(lit(1)).as("__cc3"))
      .select(col("w2").as("w3"), col("w3").as("w4"), col("w4").as("w5"),
        col("__cc3"))
    val c3 = cc3.groupBy("w3", "w4")
      .agg(sum("__cc3").as("__c3x"), count(lit(1)).as("__t3"))
    // order 2: continuation counts from the trigram table, keyed (w4,w5)
    val cc2 = model.base3.trigrams.groupBy("w2", "w3")
      .agg(count(lit(1)).as("__cc2"))
      .select(col("w2").as("w4"), col("w3").as("w5"), col("__cc2"))
    val c2 = cc2.groupBy("w4")
      .agg(sum("__cc2").as("__c2x"), count(lit(1)).as("__t2"))
    // bottom: left-neighbor counts from the bigram table + B + V
    val cu = model.base3.base.bigrams.groupBy("w2")
      .agg(count(lit(1)).as("__cu"))
    val btot = model.base3.base.bigrams.agg(count(lit(1)).as("__nbig"))
    val pC5 = coalesce(col("c5"), lit(0L)).cast("double")
    val pX5 = coalesce(col("__c5x"), lit(0L))
    val pT5 = coalesce(col("__t5"), lit(0L)).cast("double")
    val pCC4 = coalesce(col("__cc4"), lit(0L)).cast("double")
    val pX4 = coalesce(col("__c4x"), lit(0L))
    val pT4 = coalesce(col("__t4"), lit(0L)).cast("double")
    val pCC3 = coalesce(col("__cc3"), lit(0L)).cast("double")
    val pX3 = coalesce(col("__c3x"), lit(0L))
    val pT3 = coalesce(col("__t3"), lit(0L)).cast("double")
    val pCC2 = coalesce(col("__cc2"), lit(0L)).cast("double")
    val pX2 = coalesce(col("__c2x"), lit(0L))
    val pT2 = coalesce(col("__t2"), lit(0L)).cast("double")
    val pCU = coalesce(col("__cu"), lit(0L)).cast("double")
    val bv = (col("__nbig") + col("vocab")).cast("double")
    val pc = (pCU + lit(1.0)) / bv
    val p2 = when(pX2 > lit(0L),
      (greatest(pCC2 - lit(d), lit(0.0)) + lit(d) * pT2 * pc) /
        pX2.cast("double")).otherwise(pc)
    val p3 = when(pX3 > lit(0L),
      (greatest(pCC3 - lit(d), lit(0.0)) + lit(d) * pT3 * p2) /
        pX3.cast("double")).otherwise(p2)
    val p4 = when(pX4 > lit(0L),
      (greatest(pCC4 - lit(d), lit(0.0)) + lit(d) * pT4 * p3) /
        pX4.cast("double")).otherwise(p3)
    val p5 = when(pX5 > lit(0L),
      (greatest(pC5 - lit(d), lit(0.0)) + lit(d) * pT5 * p4) /
        pX5.cast("double")).otherwise(p4)
    tf
      .join(five, Seq("w1", "w2", "w3", "w4", "w5"), "left")
      .join(ce5, Seq("w1", "w2", "w3", "w4"), "left")
      .join(cc4, Seq("w2", "w3", "w4", "w5"), "left")
      .join(c4, Seq("w2", "w3", "w4"), "left")
      .join(cc3, Seq("w3", "w4", "w5"), "left")
      .join(c3, Seq("w3", "w4"), "left")
      .join(cc2, Seq("w4", "w5"), "left")
      .join(c2, Seq("w4"), "left")
      .join(cu.select(col("w2").as("w5"), col("__cu")), Seq("w5"), "left")
      .crossJoin(broadcast(model.base3.base.totals))
      .crossJoin(broadcast(btot))
      .select(id, col("tfq"),
        round(log(p5), 9).cast("decimal(18,9)").as("logp9"))
      .groupBy(id)
      .agg(sum(col("tfq")).as("n_5grams"),
        sum(col("tfq").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id.as(idCol), col("n_5grams"),
        round(col("__slp").cast("double") / col("n_5grams"), 6).as("logprob"))
  }

  /** [[refLmPerplexityBuckets]] over an order-5 scored frame — same
    * value-cutoff tertiles, reporting `n_5grams`.
    */
  def refLm5PerplexityBuckets(scored: DataFrame): DataFrame =
    refLm5PerplexityBucketsCached(scored).df

  /** [[refLm5PerplexityBuckets]] exposing the persisted histogram
    * handle — the [[Dedup.CachedDF]] contract.
    */
  def refLm5PerplexityBucketsCached(scored: DataFrame): Dedup.CachedDF =
    bucketsFromScoredCached(scored, "n_5grams")

  /** Persist a [[RefLm5Model]] — the six order-3 tables plus
    * `fourgram` and `fivegram`, all eight overlapped through
    * [[writeTablesParallel]].
    */
  def writeRefLm5(model: RefLm5Model, path: String): Unit =
    writeTablesParallel(Seq(
      (model.base3.base.unigrams, s"$path/unigram", false),
      (model.base3.base.contexts, s"$path/ctx", false),
      (model.base3.base.bigrams, s"$path/bigram", false),
      (model.base3.base.totals, s"$path/totals", true),
      (model.base3.trigrams, s"$path/trigram", false),
      (model.base3.triContexts, s"$path/tctx", false),
      (model.fourgrams, s"$path/fourgram", false),
      (model.fivegrams, s"$path/fivegram", false)))

  /** Read back a [[writeRefLm5]] artifact ([[readRefLm]]'s fail-fast
    * totals check included).
    */
  def readRefLm5(spark: SparkSession, path: String): RefLm5Model =
    RefLm5Model(
      readRefLm3(spark, path),
      spark.read.parquet(s"$path/fourgram"),
      spark.read.parquet(s"$path/fivegram"))

  /** [[mergeIntoStoredRefLm3]] at order 5: five additive raw-count
    * tables merge (uni/bi/tri/four/five), context tables and totals
    * re-derive, same staged swap and replay guard — and because KN's
    * derivation tables are score-time groupBys over these counts,
    * merge-then-KN stays bit-identical to retrain-then-KN at order 5
    * (RefLmKn5Spec asserts it).
    */
  def mergeIntoStoredRefLm5(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Boolean =
    stagedCountMerge(spark, path, batchId) { () =>
      val stored = readRefLm5(spark, path)
      val d = refLm5Train(delta, idCol, textCol, isRef)
      val uni = stored.base3.base.unigrams.unionByName(d.base3.base.unigrams)
        .groupBy("term").agg(sum("c1").as("c1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val big = stored.base3.base.bigrams.unionByName(d.base3.base.bigrams)
        .groupBy("w1", "w2").agg(sum("cb").as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tri = stored.base3.trigrams.unionByName(d.base3.trigrams)
        .groupBy("w1", "w2", "w3").agg(sum("ct").as("ct"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val four = stored.fourgrams.unionByName(d.fourgrams)
        .groupBy("w1", "w2", "w3", "w4").agg(sum("c4").as("c4"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val five = stored.fivegrams.unionByName(d.fivegrams)
        .groupBy("w1", "w2", "w3", "w4", "w5").agg(sum("c5").as("c5"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ctx = big.groupBy("w1").agg(sum("cb").as("ctx"))
      val tctx = tri.groupBy("w1", "w2").agg(sum("ct").as("ctx3"))
      val tot = uni.agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
      (Seq(uni, big, tri, four, five), staged =>
        writeRefLm5(RefLm5Model(
          RefLm3Model(RefLmModel(uni, ctx, big, tot), tri, tctx), four, five),
          staged))
    }

  /** The shared DuckDB CTE chain for the reference-LM family: trains
    * the model on `refPred` rows of `src`, scores the whole pool, and
    * leaves `scored(id, n_bigrams, logprob)` plus the model tables in
    * scope. Multi-referenced CTEs are `AS MATERIALIZED` — the round-13
    * lesson: DuckDB re-inlines plain CTEs per reference.
    */
  def refLmCtes(src: String, idCol: String, textCol: String,
      refPred: String, lamNum: Int = 7, lamDen: Int = 10): String =
    s"""reft AS MATERIALIZED (
       |  SELECT ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS c1 FROM (SELECT unnest(a) AS term FROM reft)
       |  GROUP BY 1),
       |rbig AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS cb FROM (
       |    SELECT unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2),
       |rctx AS MATERIALIZED (
       |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS ctx FROM rbig GROUP BY 1),
       |rtot AS MATERIALIZED (
       |  SELECT CAST(SUM(c1) AS BIGINT) AS n_ref_tokens, COUNT(*) AS vocab
       |  FROM runi),
       |pt AS (
       |  SELECT $idCol, ${TextAnalysis.tokensSql(textCol)} AS a FROM $src),
       |pbf AS MATERIALIZED (
       |  SELECT $idCol, w1, w2, COUNT(*) AS bf FROM (
       |    SELECT $idCol, unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM pt WHERE len(a) >= 2)
       |  GROUP BY 1, 2, 3),
       |ppairs AS (SELECT DISTINCT w1, w2 FROM pbf),
       |plp AS MATERIALIZED (
       |  SELECT ppairs.w1, ppairs.w2,
       |    CAST(round(ln(
       |      CAST($lamNum AS DOUBLE) / $lamDen *
       |        (CASE WHEN COALESCE(rctx.ctx, 0) > 0
       |              THEN CAST(COALESCE(rbig.cb, 0) AS DOUBLE) / COALESCE(rctx.ctx, 0)
       |              ELSE 0.0 END) +
       |      CAST(${lamDen - lamNum} AS DOUBLE) / $lamDen *
       |        (CAST(COALESCE(runi.c1, 0) + 1 AS DOUBLE) / (rtot.n_ref_tokens + rtot.vocab))
       |    ), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM ppairs
       |  LEFT JOIN rbig ON ppairs.w1 = rbig.w1 AND ppairs.w2 = rbig.w2
       |  LEFT JOIN rctx ON ppairs.w1 = rctx.w1
       |  LEFT JOIN runi ON ppairs.w2 = runi.term
       |  CROSS JOIN rtot),
       |scored AS MATERIALIZED (
       |  SELECT pbf.$idCol, CAST(SUM(pbf.bf) AS BIGINT) AS n_bigrams,
       |    round(CAST(SUM(CAST(pbf.bf AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(pbf.bf) AS BIGINT), 6) AS logprob
       |  FROM pbf JOIN plp ON pbf.w1 = plp.w1 AND pbf.w2 = plp.w2
       |  GROUP BY 1)""".stripMargin

  // --------------------------------------------------------------------
  // Per-key reference LMs — the actual CCNet deployment shape: one LM
  // per LANGUAGE, every model trained in ONE pass (the key rides every
  // count table; there is no per-language job loop, which is the whole
  // point at 100 TB with a hundred languages), and every pool document
  // scored under ITS OWN key's model.
  // --------------------------------------------------------------------

  /** [[RefLmModel]] with the partition key as the leading column of
    * every table: unigrams (__k, term, c1), contexts (__k, w1, ctx),
    * bigrams (__k, w1, w2, cb), totals (__k, n_ref_tokens, vocab).
    */
  final case class KeyedRefLmModel(
      unigrams: DataFrame, contexts: DataFrame,
      bigrams: DataFrame, totals: DataFrame)

  /** [[refLmTrain]] keyed by `keyCol`: all keys' models in one pass —
    * the key simply joins every groupBy key, so the count tables stay
    * partial-aggregated and shuffle once each regardless of how many
    * models train.
    */
  def refLmTrainByKey(docs: DataFrame, idCol: String, textCol: String,
      keyCol: String, isRef: Column): KeyedRefLmModel = {
    val toks = docs.filter(isRef)
      .select(col(keyCol).as("__k"), TextAnalysis.tokens(col(textCol)).as("__a"))
    val uni = toks.select(col("__k"), explode(col("__a")).as("term"))
      .groupBy("__k", "term").agg(count(lit(1)).as("c1"))
    val big = toks.select(col("__k"), bigramPairs.as("__bg"))
      .select(col("__k"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy("__k", "w1", "w2").agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy("__k", "w1").agg(sum("cb").as("ctx"))
    val tot = uni.groupBy("__k")
      .agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
    KeyedRefLmModel(uni, ctx, big, tot)
  }

  /** [[refLmScore]] keyed: each pool document scores under the model
    * of ITS `keyCol` value. Same λ-mixture, same determinism scheme;
    * the totals join is INNER on the key, so documents whose key has
    * no reference model are UNSCORED (absent from the output) rather
    * than scored against nothing. Returns (id, keyCol, n_bigrams,
    * logprob).
    */
  def refLmScoreByKey(pool: DataFrame, idCol: String, textCol: String,
      keyCol: String, model: KeyedRefLmModel,
      lamNum: Int = 7, lamDen: Int = 10,
      checkpointTf: Boolean = false): DataFrame = {
    require(lamNum > 0 && lamNum < lamDen, s"need 0 < λ < 1, got $lamNum/$lamDen")
    val id = col(idCol)
    val lam1 = lamNum.toDouble / lamDen
    val lam2 = (lamDen - lamNum).toDouble / lamDen
    val bfRaw = pool
      .select(id, col(keyCol).as("__k"), TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, col("__k"), bigramPairs.as("__bg"))
      .select(id, col("__k"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(id, col("__k"), col("w1"), col("w2")).agg(count(lit(1)).as("bf"))
    // tokenize-once materialization for batch paths — [[refLmScore]]'s
    // checkpointTf rationale
    val bf = if (checkpointTf) bfRaw.localCheckpoint() else bfRaw
    val pairs = bf.select("__k", "w1", "w2").distinct()
    val pB = coalesce(col("cb"), lit(0L)).cast("double")
    val pC = coalesce(col("ctx"), lit(0L))
    val pU = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double")
    val nv = (col("n_ref_tokens") + col("vocab")).cast("double")
    val mix = lit(lam1) * when(pC > lit(0L), pB / pC.cast("double")).otherwise(lit(0.0)) +
      lit(lam2) * (pU / nv)
    val logp = pairs
      .join(model.bigrams, Seq("__k", "w1", "w2"), "left")
      .join(model.contexts, Seq("__k", "w1"), "left")
      .join(model.unigrams.withColumnRenamed("term", "w2"), Seq("__k", "w2"), "left")
      // INNER on the key: the totals table is #keys rows (broadcast)
      .join(broadcast(model.totals), Seq("__k"))
      .select(col("__k"), col("w1"), col("w2"),
        round(log(mix), 9).cast("decimal(18,9)").as("logp9"))
    bf.join(logp, Seq("__k", "w1", "w2"))
      .groupBy(id, col("__k"))
      .agg(sum(col("bf")).as("n_bigrams"),
        sum(col("bf").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("__k").as(keyCol), col("n_bigrams"),
        round(col("__slp").cast("double") / col("n_bigrams"), 6).as("logprob"))
  }

  /** [[refLmPerplexityBuckets]] keyed: head/middle/tail cutoffs are
    * PER KEY (each language gets its own tertile values — CCNet's
    * per-language percentiles), from the same histogram-of-rounded-
    * scores order statistics, with the cumulative window PARTITIONED
    * by the key — no single-partition window anywhere. Returns one row
    * per (keyCol, non-empty bucket).
    */
  def refLmPerplexityBucketsByKey(scored: DataFrame, keyCol: String): DataFrame =
    refLmPerplexityBucketsByKeyCached(scored, keyCol).df

  /** [[refLmPerplexityBucketsByKey]] exposing the persisted histogram
    * handle — see [[refLmPerplexityBucketsCached]].
    */
  def refLmPerplexityBucketsByKeyCached(
      scored: DataFrame, keyCol: String): Dedup.CachedDF =
    bucketsByKeyFromScoredCached(scored, keyCol, "n_bigrams")

  /** The keyed bucket-report body shared by the bigram and trigram
    * families — [[bucketsFromScoredCached]]'s keyed twin,
    * parameterized by the per-doc count column (`n_bigrams` /
    * `n_trigrams`), which is also the report's output column name.
    */
  private def bucketsByKeyFromScoredCached(
      scored: DataFrame, keyCol: String, cntCol: String): Dedup.CachedDF = {
    val k = col(keyCol)
    val hist = keyedScoreHist(scored, keyCol, cntCol)
    val cuts = cutoffsFromKeyedHist(hist, keyCol)
    val df = hist.join(broadcast(cuts), keyCol)
      .select(k,
        when(col("logprob") >= col("v_head"), lit("head"))
          .when(col("logprob") >= col("v_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        col("logprob"), col("nv"), col("snb"))
      .groupBy(k, col("bucket"))
      .agg(sum("nv").as("n_docs"),
        min("logprob").as("min_logprob"),
        max("logprob").as("max_logprob"),
        sum("snb").as(cntCol))
      .orderBy(k, col("bucket"))
    Dedup.CachedDF(df, Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** The keyed twin of [[scoreHist]]: one persisted histogram per
    * (key, score) — scoring executes once; every branch reads rows.
    */
  private def keyedScoreHist(scored: DataFrame, keyCol: String,
      cntCol: String = "n_bigrams"): DataFrame =
    scored.groupBy(col(keyCol), col("logprob"))
      .agg(count(lit(1)).as("nv"), sum(cntCol).as("snb"))
      // localCheckpoint, not persist — same plan-truncation rationale
      // as [[scoreHist]] (the keyed hist is per-(key, score) rows,
      // still value-space bounded)
      .localCheckpoint()

  /** Per-key (v_head, v_mid) from a [[keyedScoreHist]] frame — the
    * [[cutoffsFromHist]] coarse-bin-then-refine shape with every
    * window ALSO partitioned by the key: a dominant language (90% of a
    * 100 TB corpus in one key) refines in per-(key, centi-bin) slices
    * instead of concentrating its whole histogram in one task.
    */
  private def cutoffsFromKeyedHist(hist: DataFrame, keyCol: String): DataFrame = {
    val k = col(keyCol)
    val binned = hist.withColumn("__bin", floor(col("logprob") * lit(100.0)))
    val binPrior = binned.groupBy(k, col("__bin")).agg(sum("nv").as("__bn"))
      .withColumn("__prior",
        sum("__bn").over(Window.partitionBy(k).orderBy(col("__bin").desc)) -
          col("__bn"))
      .select(k, col("__bin"), col("__prior"))
    val cum = binned.join(broadcast(binPrior), Seq(keyCol, "__bin"))
      .withColumn("cumn", col("__prior") + sum("nv").over(
        Window.partitionBy(k, col("__bin")).orderBy(col("logprob").desc)))
    val tot = hist.groupBy(k).agg(sum("nv").as("n"))
    cum.join(broadcast(tot), keyCol)
      .groupBy(k)
      .agg(
        max(when(col("cumn") >= expr("(n + 2) div 3"), col("logprob")))
          .as("v_head"),
        max(when(col("cumn") >= expr("(2 * n + 2) div 3"), col("logprob")))
          .as("v_mid"))
  }

  /** Per-key cutoff rows (keyCol, v_head, v_mid) of a
    * [[refLmScoreByKey]] frame — what a per-language streaming ingest
    * gates at ([[writeRefLmCutoffsByKey]] persists them beside the
    * keyed model).
    */
  def refLmCutoffsByKey(scored: DataFrame, keyCol: String): DataFrame =
    refLmCutoffsByKeyCached(scored, keyCol).df

  /** [[refLmCutoffsByKey]] exposing the persisted histogram handle —
    * see [[refLmCutoffsCached]].
    */
  def refLmCutoffsByKeyCached(scored: DataFrame, keyCol: String): Dedup.CachedDF = {
    val hist = keyedScoreHist(scored, keyCol)
    Dedup.CachedDF(cutoffsFromKeyedHist(hist, keyCol), Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** Persist per-key cutoffs ([[refLmCutoffsByKey]]'s shape). */
  def writeRefLmCutoffsByKey(cutoffs: DataFrame, path: String): Unit =
    cutoffs.coalesce(1).write.mode("overwrite").parquet(path)

  /** Read back a [[writeRefLmCutoffsByKey]] artifact. Fails fast on an
    * empty table (a gate with no measured cutoffs must not silently
    * label everything).
    */
  def readRefLmCutoffsByKey(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(!df.isEmpty, s"keyed cutoff artifact at $path is empty")
    df
  }

  /** Persist a [[KeyedRefLmModel]] as four parquet tables under
    * `path` — the stored-artifact deploy pattern for the per-language
    * LM fleet.
    */
  def writeKeyedRefLm(model: KeyedRefLmModel, path: String): Unit =
    writeTablesParallel(Seq(
      (model.unigrams, s"$path/unigram", false),
      (model.contexts, s"$path/ctx", false),
      (model.bigrams, s"$path/bigram", false),
      (model.totals, s"$path/totals", true)))

  /** Read back a [[writeKeyedRefLm]] artifact. Fails fast on an empty
    * totals table (no key trained a model).
    */
  def readKeyedRefLm(spark: SparkSession, path: String): KeyedRefLmModel = {
    val tot = spark.read.parquet(s"$path/totals")
    require(!tot.isEmpty,
      s"keyed reference-LM artifact at $path has an empty totals table")
    KeyedRefLmModel(
      spark.read.parquet(s"$path/unigram"),
      spark.read.parquet(s"$path/ctx"),
      spark.read.parquet(s"$path/bigram"),
      tot)
  }

  // --------------------------------------------------------------------
  // Keyed order-3 reference LMs — the full CCNet deployment matrix:
  // one TRIGRAM-backoff model per language, all trained in one pass
  // (the key rides every count table, including the trigram ones), and
  // every pool document scored under its own key's backoff chain.
  // --------------------------------------------------------------------

  /** [[RefLm3Model]] keyed: the keyed order-2 model plus
    *  - `trigrams`   : (__k, w1, w2, w3, ct)
    *  - `triContexts`: (__k, w1, w2, ctx3)
    */
  final case class KeyedRefLm3Model(
      base: KeyedRefLmModel, trigrams: DataFrame, triContexts: DataFrame)

  /** [[refLm3Train]] keyed by `keyCol`: every language's trigram model
    * in ONE pass — two more partial-aggregated groupBys (trigram +
    * trigram-context) with the key riding them, no per-language job
    * loop.
    */
  def refLm3TrainByKey(docs: DataFrame, idCol: String, textCol: String,
      keyCol: String, isRef: Column): KeyedRefLm3Model = {
    val base = refLmTrainByKey(docs, idCol, textCol, keyCol, isRef)
    val toks = docs.filter(isRef)
      .select(col(keyCol).as("__k"), TextAnalysis.tokens(col(textCol)).as("__a"))
    val tri = toks.select(col("__k"), trigramTriples.as("__tg"))
      .select(col("__k"), col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
      .groupBy("__k", "w1", "w2", "w3").agg(count(lit(1)).as("ct"))
    val tctx = tri.groupBy("__k", "w1", "w2").agg(sum("ct").as("ctx3"))
    KeyedRefLm3Model(base, tri, tctx)
  }

  /** [[refLm3Score]] keyed: each pool document scores under ITS
    * `keyCol` value's trigram→bigram→unigram backoff chain. The totals
    * join is INNER on the key ([[refLmScoreByKey]]'s contract —
    * documents of unmodeled keys are absent from the output), and the
    * determinism scheme is unchanged: per-distinct (key, triple) ln
    * rounded to 9, exact decimal doc sums, one final 6-round. Returns
    * (id, keyCol, n_trigrams, logprob).
    */
  def refLm3ScoreByKey(pool: DataFrame, idCol: String, textCol: String,
      keyCol: String, model: KeyedRefLm3Model,
      lam3Num: Int = 5, lam3Den: Int = 10,
      lamNum: Int = 7, lamDen: Int = 10,
      checkpointTf: Boolean = false): DataFrame = {
    require(lam3Num > 0 && lam3Num < lam3Den,
      s"need 0 < λ3 < 1, got $lam3Num/$lam3Den")
    require(lamNum > 0 && lamNum < lamDen, s"need 0 < λ < 1, got $lamNum/$lamDen")
    val id = col(idCol)
    val l3a = lam3Num.toDouble / lam3Den
    val l3b = (lam3Den - lam3Num).toDouble / lam3Den
    val lam1 = lamNum.toDouble / lamDen
    val lam2 = (lamDen - lamNum).toDouble / lamDen
    val tfRaw = pool
      .select(id, col(keyCol).as("__k"), TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, col("__k"), trigramTriples.as("__tg"))
      .select(id, col("__k"), col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
      .groupBy(id, col("__k"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tfq"))
    // tokenize-once materialization for batch paths — [[refLmScore]]'s
    // checkpointTf rationale
    val tf = if (checkpointTf) tfRaw.localCheckpoint() else tfRaw
    val triples = tf.select("__k", "w1", "w2", "w3").distinct()
    val pT = coalesce(col("ct"), lit(0L)).cast("double")
    val pTC = coalesce(col("ctx3"), lit(0L))
    val pB = coalesce(col("cb"), lit(0L)).cast("double")
    val pC = coalesce(col("ctx"), lit(0L))
    val pU = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double")
    val nv = (col("n_ref_tokens") + col("vocab")).cast("double")
    val bigMix =
      lit(lam1) * when(pC > lit(0L), pB / pC.cast("double")).otherwise(lit(0.0)) +
        lit(lam2) * (pU / nv)
    val mix =
      lit(l3a) * when(pTC > lit(0L), pT / pTC.cast("double")).otherwise(lit(0.0)) +
        lit(l3b) * bigMix
    val logp = triples
      .join(model.trigrams, Seq("__k", "w1", "w2", "w3"), "left")
      .join(model.triContexts, Seq("__k", "w1", "w2"), "left")
      // backoff bigram of (w1,w2,w3) is (w2,w3) — rename via select
      .join(model.base.bigrams
        .select(col("__k"), col("w1").as("w2"), col("w2").as("w3"), col("cb")),
        Seq("__k", "w2", "w3"), "left")
      .join(model.base.contexts
        .select(col("__k"), col("w1").as("w2"), col("ctx")),
        Seq("__k", "w2"), "left")
      .join(model.base.unigrams
        .select(col("__k"), col("term").as("w3"), col("c1")),
        Seq("__k", "w3"), "left")
      // INNER on the key: the totals table is #keys rows (broadcast)
      .join(broadcast(model.base.totals), Seq("__k"))
      .select(col("__k"), col("w1"), col("w2"), col("w3"),
        round(log(mix), 9).cast("decimal(18,9)").as("logp9"))
    tf.join(logp, Seq("__k", "w1", "w2", "w3"))
      .groupBy(id, col("__k"))
      .agg(sum(col("tfq")).as("n_trigrams"),
        sum(col("tfq").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("__k").as(keyCol), col("n_trigrams"),
        round(col("__slp").cast("double") / col("n_trigrams"), 6).as("logprob"))
  }

  /** [[refLmPerplexityBucketsByKey]] over a keyed order-3 scored
    * frame — per-key tertile cutoffs, reporting `n_trigrams`.
    */
  def refLm3PerplexityBucketsByKey(scored: DataFrame, keyCol: String): DataFrame =
    refLm3PerplexityBucketsByKeyCached(scored, keyCol).df

  /** [[refLm3PerplexityBucketsByKey]] exposing the persisted histogram
    * handle — the [[Dedup.CachedDF]] contract.
    */
  def refLm3PerplexityBucketsByKeyCached(
      scored: DataFrame, keyCol: String): Dedup.CachedDF =
    bucketsByKeyFromScoredCached(scored, keyCol, "n_trigrams")

  /** Per-key cutoff rows (keyCol, v_head, v_mid) of a
    * [[refLm3ScoreByKey]] frame — what the keyed order-3 streaming
    * gate labels at ([[writeRefLmCutoffsByKey]] persists them beside
    * the keyed order-3 model).
    */
  def refLm3CutoffsByKey(scored: DataFrame, keyCol: String): DataFrame =
    refLm3CutoffsByKeyCached(scored, keyCol).df

  /** [[refLm3CutoffsByKey]] exposing the persisted histogram handle —
    * the [[Dedup.CachedDF]] contract.
    */
  def refLm3CutoffsByKeyCached(
      scored: DataFrame, keyCol: String): Dedup.CachedDF = {
    val hist = keyedScoreHist(scored, keyCol, "n_trigrams")
    Dedup.CachedDF(cutoffsFromKeyedHist(hist, keyCol), Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** [[refLmKn3Score]] keyed: each pool document scores under ITS
    * `keyCol` value's interpolated Kneser-Ney chain — the per-language
    * deployment CCNet actually runs (one KenLM model per language).
    * Every KN table derives from the stored KEYED count tables with
    * the key riding each groupBy (still model-sized — the per-key
    * continuation tables partition the unkeyed ones), so the six-table
    * keyed stored deploy, freshness stamps and the bit-equal keyed
    * merge ([[mergeIntoStoredKeyedRefLm3]]) carry over unchanged.
    *
    * Key contract as [[refLm3ScoreByKey]]: the per-key totals join is
    * INNER (documents of unmodeled keys are absent — the streaming
    * gate surfaces them as `unmodeled`); the per-key distinct-bigram
    * total joins LEFT with a 0 default, so a modeled key whose
    * reference had no bigram still bottoms out at finite add-1 mass
    * rather than dropping. Determinism scheme unchanged: per-distinct
    * (key, triple) ln rounded to 9, exact decimal doc sums, one final
    * 6-round. Returns (id, keyCol, n_trigrams, logprob).
    */
  def refLmKn3ScoreByKey(pool: DataFrame, idCol: String, textCol: String,
      keyCol: String, model: KeyedRefLm3Model,
      dNum: Int = 3, dDen: Int = 4,
      checkpointTf: Boolean = false): DataFrame = {
    require(dNum > 0 && dNum < dDen, s"need 0 < D < 1, got $dNum/$dDen")
    val id = col(idCol)
    val d = dNum.toDouble / dDen
    val tfRaw = pool
      .select(id, col(keyCol).as("__k"), TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, col("__k"), trigramTriples.as("__tg"))
      .select(id, col("__k"), col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
      .groupBy(id, col("__k"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tfq"))
    // tokenize-once materialization for batch paths — [[refLmScore]]'s
    // checkpointTf rationale
    val tf = if (checkpointTf) tfRaw.localCheckpoint() else tfRaw
    val triples = tf.select("__k", "w1", "w2", "w3").distinct()
    // keyed continuation tables — one partial-aggregated groupBy over a
    // MODEL table each, exactly the unkeyed derivations with __k riding
    val t3 = model.trigrams.groupBy("__k", "w1", "w2")
      .agg(count(lit(1)).as("__t3"))
    val cbig = model.trigrams.groupBy("__k", "w2", "w3")
      .agg(count(lit(1)).as("__cc"))
    val c2 = cbig.groupBy("__k", "w2")
      .agg(sum("__cc").as("__c2"), count(lit(1)).as("__t2"))
    val cu = model.base.bigrams.groupBy("__k", "w2")
      .agg(count(lit(1)).as("__cu"))
    // per-key distinct-bigram-type totals: #keys rows, broadcast
    val btot = model.base.bigrams.groupBy("__k")
      .agg(count(lit(1)).as("__nbig"))
    val pT = coalesce(col("ct"), lit(0L)).cast("double")
    val pC3 = coalesce(col("ctx3"), lit(0L))
    val pT3 = coalesce(col("__t3"), lit(0L)).cast("double")
    val pCC = coalesce(col("__cc"), lit(0L)).cast("double")
    val pC2 = coalesce(col("__c2"), lit(0L))
    val pT2 = coalesce(col("__t2"), lit(0L)).cast("double")
    val pCU = coalesce(col("__cu"), lit(0L)).cast("double")
    val bv = (coalesce(col("__nbig"), lit(0L)) + col("vocab")).cast("double")
    val pc = (pCU + lit(1.0)) / bv
    val p2 = when(pC2 > lit(0L),
      (greatest(pCC - lit(d), lit(0.0)) + lit(d) * pT2 * pc) /
        pC2.cast("double")).otherwise(pc)
    val p3 = when(pC3 > lit(0L),
      (greatest(pT - lit(d), lit(0.0)) + lit(d) * pT3 * p2) /
        pC3.cast("double")).otherwise(p2)
    val logp = triples
      .join(model.trigrams, Seq("__k", "w1", "w2", "w3"), "left")
      .join(model.triContexts, Seq("__k", "w1", "w2"), "left")
      .join(t3, Seq("__k", "w1", "w2"), "left")
      // the continuation bigram of (w1,w2,w3) is keyed (w2,w3) already
      .join(cbig, Seq("__k", "w2", "w3"), "left")
      .join(c2, Seq("__k", "w2"), "left")
      .join(cu.select(col("__k"), col("w2").as("w3"), col("__cu")),
        Seq("__k", "w3"), "left")
      // INNER on the key via totals (modeled-keys contract); the
      // bigram-type total rides LEFT with a 0 default
      .join(broadcast(model.base.totals), Seq("__k"))
      .join(broadcast(btot), Seq("__k"), "left")
      .select(col("__k"), col("w1"), col("w2"), col("w3"),
        round(log(p3), 9).cast("decimal(18,9)").as("logp9"))
    tf.join(logp, Seq("__k", "w1", "w2", "w3"))
      .groupBy(id, col("__k"))
      .agg(sum(col("tfq")).as("n_trigrams"),
        sum(col("tfq").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id, col("__k").as(keyCol), col("n_trigrams"),
        round(col("__slp").cast("double") / col("n_trigrams"), 6).as("logprob"))
  }

  /** Persist a [[KeyedRefLm3Model]] — the keyed order-2 tables plus
    * `trigram` and `tctx`, all six overlapped through
    * [[writeTablesParallel]].
    */
  def writeKeyedRefLm3(model: KeyedRefLm3Model, path: String): Unit =
    writeTablesParallel(Seq(
      (model.base.unigrams, s"$path/unigram", false),
      (model.base.contexts, s"$path/ctx", false),
      (model.base.bigrams, s"$path/bigram", false),
      (model.base.totals, s"$path/totals", true),
      (model.trigrams, s"$path/trigram", false),
      (model.triContexts, s"$path/tctx", false)))

  /** Read back a [[writeKeyedRefLm3]] artifact ([[readKeyedRefLm]]'s
    * empty-totals fail-fast included).
    */
  def readKeyedRefLm3(spark: SparkSession, path: String): KeyedRefLm3Model =
    KeyedRefLm3Model(
      readKeyedRefLm(spark, path),
      spark.read.parquet(s"$path/trigram"),
      spark.read.parquet(s"$path/tctx"))

  /** [[mergeIntoStoredRefLm]] for the KEYED fleet: a delta of newly
    * trusted documents (any mix of languages) merges into the stored
    * [[writeKeyedRefLm]] artifact in ONE pass — per-key counts are
    * additive exactly like the unkeyed ones, context totals and
    * per-key (n, vocab) re-derive from the merged tables, and the
    * result is bit-identical to a from-scratch [[refLmTrainByKey]] on
    * the union (KeyedRefLmMergeSpec asserts it). This is the
    * production pressure point the keyed fleet actually has:
    * per-language reference corpora grow at different rates, and
    * retraining a hundred languages because one grew is the
    * anti-pattern. Same staged swap, self-heal and applied-batch
    * replay guard as the unkeyed merge. Returns true iff applied.
    */
  def mergeIntoStoredKeyedRefLm(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String, keyCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Boolean =
    stagedCountMerge(spark, path, batchId) { () =>
      val stored = readKeyedRefLm(spark, path)
      val d = refLmTrainByKey(delta, idCol, textCol, keyCol, isRef)
      // the two merged count frames persist for the staged writes: uni
      // feeds unigram+totals, big feeds bigram+ctx — without the pin
      // every write re-tokenizes the delta
      val uni = stored.unigrams.unionByName(d.unigrams)
        .groupBy("__k", "term").agg(sum("c1").as("c1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val big = stored.bigrams.unionByName(d.bigrams)
        .groupBy("__k", "w1", "w2").agg(sum("cb").as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ctx = big.groupBy("__k", "w1").agg(sum("cb").as("ctx"))
      val tot = uni.groupBy("__k")
        .agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
      (Seq(uni, big), staged =>
        writeKeyedRefLm(KeyedRefLmModel(uni, ctx, big, tot), staged))
    }

  /** [[mergeIntoStoredKeyedRefLm]] at order 3: the keyed trigram and
    * trigram-context tables merge additively alongside the order-2
    * ones — six staged tables, one swap, same replay guard; bit-equal
    * to [[refLm3TrainByKey]] on the union (KeyedRefLmMergeSpec).
    */
  def mergeIntoStoredKeyedRefLm3(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String, keyCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Boolean =
    stagedCountMerge(spark, path, batchId) { () =>
      val stored = readKeyedRefLm3(spark, path)
      val d = refLm3TrainByKey(delta, idCol, textCol, keyCol, isRef)
      val uni = stored.base.unigrams.unionByName(d.base.unigrams)
        .groupBy("__k", "term").agg(sum("c1").as("c1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val big = stored.base.bigrams.unionByName(d.base.bigrams)
        .groupBy("__k", "w1", "w2").agg(sum("cb").as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tri = stored.trigrams.unionByName(d.trigrams)
        .groupBy("__k", "w1", "w2", "w3").agg(sum("ct").as("ct"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ctx = big.groupBy("__k", "w1").agg(sum("cb").as("ctx"))
      val tctx = tri.groupBy("__k", "w1", "w2").agg(sum("ct").as("ctx3"))
      val tot = uni.groupBy("__k")
        .agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
      (Seq(uni, big, tri), staged =>
        writeKeyedRefLm3(
          KeyedRefLm3Model(KeyedRefLmModel(uni, ctx, big, tot), tri, tctx),
          staged))
    }

  // --------------------------------------------------------------------
  // Keyed order-5 reference LMs — CCNet's ACTUAL production artifact:
  // one 5-gram interpolated-Kneser-Ney model per language. The keyed
  // high-order tables inherit the order-5 storage contract verbatim
  // (distinct 5-grams ≈ corpus tokens, so `fourgram`/`fivegram` are
  // corpus-scale partitioned parquet — now further partitioned by the
  // key; stored counts stay UNPRUNED for additivity, KenLM-style
  // singleton pruning is the score-time view).
  // --------------------------------------------------------------------

  /** [[RefLm5Model]] keyed: the keyed order-3 model plus
    *  - `fourgrams`: (__k, w1..w4, c4)
    *  - `fivegrams`: (__k, w1..w5, c5)
    */
  final case class KeyedRefLm5Model(
      base3: KeyedRefLm3Model, fourgrams: DataFrame, fivegrams: DataFrame)

  /** [[refLm5Train]] keyed by `keyCol`: every language's 5-gram model
    * in ONE pass — two more partial-aggregated groupBys with the key
    * riding, no per-language job loop.
    */
  def refLm5TrainByKey(docs: DataFrame, idCol: String, textCol: String,
      keyCol: String, isRef: Column): KeyedRefLm5Model = {
    val base3 = refLm3TrainByKey(docs, idCol, textCol, keyCol, isRef)
    val toks = docs.filter(isRef)
      .select(col(keyCol).as("__k"), TextAnalysis.tokens(col(textCol)).as("__a"))
    val four = toks.select(col("__k"), fourgramQuads.as("__fg"))
      .select(col("__k"), col("__fg.w1").as("w1"), col("__fg.w2").as("w2"),
        col("__fg.w3").as("w3"), col("__fg.w4").as("w4"))
      .groupBy("__k", "w1", "w2", "w3", "w4").agg(count(lit(1)).as("c4"))
    val five = toks.select(col("__k"), fivegramQuints.as("__qg"))
      .select(col("__k"), col("__qg.w1").as("w1"), col("__qg.w2").as("w2"),
        col("__qg.w3").as("w3"), col("__qg.w4").as("w4"),
        col("__qg.w5").as("w5"))
      .groupBy("__k", "w1", "w2", "w3", "w4", "w5")
      .agg(count(lit(1)).as("c5"))
    KeyedRefLm5Model(base3, four, five)
  }

  /** [[refLmKn5Score]] keyed: each pool document scores under ITS
    * `keyCol` value's 5-gram interpolated-Kneser-Ney chain. Every
    * derivation table is the unkeyed one with `__k` riding its groupBy
    * (per-key continuation tables partition the unkeyed ones), so the
    * eight-table keyed stored deploy, stamps and the bit-equal keyed
    * merge ([[mergeIntoStoredKeyedRefLm5]]) carry over unchanged.
    * `minCount5`/`minCount4` prune the raw high-order tables per key
    * BEFORE any derivation, exactly as [[refLmKn5Score]] — and like it
    * (r18 optimization round) the model-join chain runs DIRECTLY over
    * the per-doc 5-tuple rows: the order-5 distinct dedup is ~1.002x
    * (see [[refLmKn5Score]]'s measured factors), so the distinct
    * exchange, join-back and tokenize checkpoint were pure overhead.
    *
    * Key contract as [[refLmKn3ScoreByKey]]: totals join INNER on the
    * key (unmodeled keys absent), per-key distinct-bigram total LEFT
    * with a 0 default. Determinism unchanged. Returns
    * (id, keyCol, n_5grams, logprob).
    */
  def refLmKn5ScoreByKey(pool: DataFrame, idCol: String, textCol: String,
      keyCol: String, model: KeyedRefLm5Model,
      dNum: Int = 3, dDen: Int = 4,
      minCount5: Long = 1, minCount4: Long = 1): DataFrame = {
    require(dNum > 0 && dNum < dDen, s"need 0 < D < 1, got $dNum/$dDen")
    require(minCount5 >= 1 && minCount4 >= 1,
      s"count-pruning thresholds must be >= 1, got $minCount5/$minCount4")
    // the id rides the join chain as `__id`, like the key as `__k`
    val id = col("__id")
    val d = dNum.toDouble / dDen
    val tf = pool
      .select(col(idCol).as("__id"), col(keyCol).as("__k"),
        TextAnalysis.tokens(col(textCol)).as("__a"))
      .select(id, col("__k"), fivegramQuints.as("__qg"))
      .select(id, col("__k"), col("__qg.w1").as("w1"), col("__qg.w2").as("w2"),
        col("__qg.w3").as("w3"), col("__qg.w4").as("w4"),
        col("__qg.w5").as("w5"))
      .groupBy(id, col("__k"), col("w1"), col("w2"), col("w3"), col("w4"),
        col("w5"))
      .agg(count(lit(1)).as("tfq"))
    // pruned raw views — every derivation below reads these
    val five = model.fivegrams.filter(col("c5") >= lit(minCount5))
    val four = model.fourgrams.filter(col("c4") >= lit(minCount4))
    val ce5 = five.groupBy("__k", "w1", "w2", "w3", "w4")
      .agg(sum("c5").as("__c5x"), count(lit(1)).as("__t5"))
    val cc4 = five.groupBy("__k", "w2", "w3", "w4", "w5")
      .agg(count(lit(1)).as("__cc4"))
    val c4 = cc4.groupBy("__k", "w2", "w3", "w4")
      .agg(sum("__cc4").as("__c4x"), count(lit(1)).as("__t4"))
    val cc3 = four.groupBy("__k", "w2", "w3", "w4")
      .agg(count(lit(1)).as("__cc3"))
      .select(col("__k"), col("w2").as("w3"), col("w3").as("w4"),
        col("w4").as("w5"), col("__cc3"))
    val c3 = cc3.groupBy("__k", "w3", "w4")
      .agg(sum("__cc3").as("__c3x"), count(lit(1)).as("__t3"))
    val cc2 = model.base3.trigrams.groupBy("__k", "w2", "w3")
      .agg(count(lit(1)).as("__cc2"))
      .select(col("__k"), col("w2").as("w4"), col("w3").as("w5"),
        col("__cc2"))
    val c2 = cc2.groupBy("__k", "w4")
      .agg(sum("__cc2").as("__c2x"), count(lit(1)).as("__t2"))
    val cu = model.base3.base.bigrams.groupBy("__k", "w2")
      .agg(count(lit(1)).as("__cu"))
    val btot = model.base3.base.bigrams.groupBy("__k")
      .agg(count(lit(1)).as("__nbig"))
    val pC5 = coalesce(col("c5"), lit(0L)).cast("double")
    val pX5 = coalesce(col("__c5x"), lit(0L))
    val pT5 = coalesce(col("__t5"), lit(0L)).cast("double")
    val pCC4 = coalesce(col("__cc4"), lit(0L)).cast("double")
    val pX4 = coalesce(col("__c4x"), lit(0L))
    val pT4 = coalesce(col("__t4"), lit(0L)).cast("double")
    val pCC3 = coalesce(col("__cc3"), lit(0L)).cast("double")
    val pX3 = coalesce(col("__c3x"), lit(0L))
    val pT3 = coalesce(col("__t3"), lit(0L)).cast("double")
    val pCC2 = coalesce(col("__cc2"), lit(0L)).cast("double")
    val pX2 = coalesce(col("__c2x"), lit(0L))
    val pT2 = coalesce(col("__t2"), lit(0L)).cast("double")
    val pCU = coalesce(col("__cu"), lit(0L)).cast("double")
    val bv = (coalesce(col("__nbig"), lit(0L)) + col("vocab")).cast("double")
    val pc = (pCU + lit(1.0)) / bv
    val p2 = when(pX2 > lit(0L),
      (greatest(pCC2 - lit(d), lit(0.0)) + lit(d) * pT2 * pc) /
        pX2.cast("double")).otherwise(pc)
    val p3 = when(pX3 > lit(0L),
      (greatest(pCC3 - lit(d), lit(0.0)) + lit(d) * pT3 * p2) /
        pX3.cast("double")).otherwise(p2)
    val p4 = when(pX4 > lit(0L),
      (greatest(pCC4 - lit(d), lit(0.0)) + lit(d) * pT4 * p3) /
        pX4.cast("double")).otherwise(p3)
    val p5 = when(pX5 > lit(0L),
      (greatest(pC5 - lit(d), lit(0.0)) + lit(d) * pT5 * p4) /
        pX5.cast("double")).otherwise(p4)
    tf
      .join(five, Seq("__k", "w1", "w2", "w3", "w4", "w5"), "left")
      .join(ce5, Seq("__k", "w1", "w2", "w3", "w4"), "left")
      .join(cc4, Seq("__k", "w2", "w3", "w4", "w5"), "left")
      .join(c4, Seq("__k", "w2", "w3", "w4"), "left")
      .join(cc3, Seq("__k", "w3", "w4", "w5"), "left")
      .join(c3, Seq("__k", "w3", "w4"), "left")
      .join(cc2, Seq("__k", "w4", "w5"), "left")
      .join(c2, Seq("__k", "w4"), "left")
      .join(cu.select(col("__k"), col("w2").as("w5"), col("__cu")),
        Seq("__k", "w5"), "left")
      .join(broadcast(model.base3.base.totals), Seq("__k"))
      .join(broadcast(btot), Seq("__k"), "left")
      .select(id, col("__k"), col("tfq"),
        round(log(p5), 9).cast("decimal(18,9)").as("logp9"))
      .groupBy(id, col("__k"))
      .agg(sum(col("tfq")).as("n_5grams"),
        sum(col("tfq").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(id.as(idCol), col("__k").as(keyCol), col("n_5grams"),
        round(col("__slp").cast("double") / col("n_5grams"), 6).as("logprob"))
  }

  /** [[refLmPerplexityBucketsByKey]] over a keyed order-5 scored
    * frame — per-key tertile cutoffs, reporting `n_5grams`.
    */
  def refLm5PerplexityBucketsByKey(scored: DataFrame, keyCol: String): DataFrame =
    refLm5PerplexityBucketsByKeyCached(scored, keyCol).df

  /** [[refLm5PerplexityBucketsByKey]] exposing the persisted histogram
    * handle — the [[Dedup.CachedDF]] contract.
    */
  def refLm5PerplexityBucketsByKeyCached(
      scored: DataFrame, keyCol: String): Dedup.CachedDF =
    bucketsByKeyFromScoredCached(scored, keyCol, "n_5grams")

  /** Per-key cutoff rows (keyCol, v_head, v_mid) of a
    * [[refLmKn5ScoreByKey]] frame — what the keyed order-5 gate labels
    * at ([[writeRefLmCutoffsByKey]] persists them beside the keyed
    * order-5 model). Cutoffs MUST be measured under the same scorer
    * AND pruning config the gate serves with.
    */
  def refLm5CutoffsByKey(scored: DataFrame, keyCol: String): DataFrame =
    refLm5CutoffsByKeyCached(scored, keyCol).df

  /** [[refLm5CutoffsByKey]] exposing the persisted histogram handle —
    * the [[Dedup.CachedDF]] contract.
    */
  def refLm5CutoffsByKeyCached(
      scored: DataFrame, keyCol: String): Dedup.CachedDF = {
    val hist = keyedScoreHist(scored, keyCol, "n_5grams")
    Dedup.CachedDF(cutoffsFromKeyedHist(hist, keyCol), Nil,
      Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** Persist a [[KeyedRefLm5Model]] — the six keyed order-3 tables
    * plus `fourgram` and `fivegram`, all eight overlapped through
    * [[writeTablesParallel]].
    */
  def writeKeyedRefLm5(model: KeyedRefLm5Model, path: String): Unit =
    writeTablesParallel(Seq(
      (model.base3.base.unigrams, s"$path/unigram", false),
      (model.base3.base.contexts, s"$path/ctx", false),
      (model.base3.base.bigrams, s"$path/bigram", false),
      (model.base3.base.totals, s"$path/totals", true),
      (model.base3.trigrams, s"$path/trigram", false),
      (model.base3.triContexts, s"$path/tctx", false),
      (model.fourgrams, s"$path/fourgram", false),
      (model.fivegrams, s"$path/fivegram", false)))

  /** Read back a [[writeKeyedRefLm5]] artifact ([[readKeyedRefLm]]'s
    * empty-totals fail-fast included).
    */
  def readKeyedRefLm5(spark: SparkSession, path: String): KeyedRefLm5Model =
    KeyedRefLm5Model(
      readKeyedRefLm3(spark, path),
      spark.read.parquet(s"$path/fourgram"),
      spark.read.parquet(s"$path/fivegram"))

  /** [[mergeIntoStoredKeyedRefLm3]] at order 5: the keyed 4-/5-gram
    * tables merge additively alongside the six — eight staged tables,
    * one swap, same replay guard; bit-equal to [[refLm5TrainByKey]]
    * on the union, and because KN derivations are score-time groupBys
    * over these counts, merge-then-KN ≡ retrain-then-KN per key
    * (RefLmKn5Spec asserts it).
    */
  def mergeIntoStoredKeyedRefLm5(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String, keyCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None): Boolean =
    stagedCountMerge(spark, path, batchId) { () =>
      val stored = readKeyedRefLm5(spark, path)
      val d = refLm5TrainByKey(delta, idCol, textCol, keyCol, isRef)
      val uni = stored.base3.base.unigrams.unionByName(d.base3.base.unigrams)
        .groupBy("__k", "term").agg(sum("c1").as("c1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val big = stored.base3.base.bigrams.unionByName(d.base3.base.bigrams)
        .groupBy("__k", "w1", "w2").agg(sum("cb").as("cb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tri = stored.base3.trigrams.unionByName(d.base3.trigrams)
        .groupBy("__k", "w1", "w2", "w3").agg(sum("ct").as("ct"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val four = stored.fourgrams.unionByName(d.fourgrams)
        .groupBy("__k", "w1", "w2", "w3", "w4").agg(sum("c4").as("c4"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val five = stored.fivegrams.unionByName(d.fivegrams)
        .groupBy("__k", "w1", "w2", "w3", "w4", "w5").agg(sum("c5").as("c5"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ctx = big.groupBy("__k", "w1").agg(sum("cb").as("ctx"))
      val tctx = tri.groupBy("__k", "w1", "w2").agg(sum("ct").as("ctx3"))
      val tot = uni.groupBy("__k")
        .agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
      (Seq(uni, big, tri, four, five), staged =>
        writeKeyedRefLm5(
          KeyedRefLm5Model(
            KeyedRefLm3Model(KeyedRefLmModel(uni, ctx, big, tot), tri, tctx),
            four, five),
          staged))
    }

  /** DuckDB SQL twin of [[refLmTrainByKey]] → [[refLmScoreByKey]] →
    * [[refLmPerplexityBucketsByKey]] over `keyCol` (surfaced under its
    * own name). Shared-chain CTEs are `AS MATERIALIZED`.
    */
  def refLmBucketsByKeySql(src: String, idCol: String, textCol: String,
      keyCol: String, refPred: String,
      lamNum: Int = 7, lamDen: Int = 10): String =
    s"""WITH reft AS MATERIALIZED (
       |  SELECT $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT k, term, COUNT(*) AS c1
       |  FROM (SELECT k, unnest(a) AS term FROM reft) GROUP BY 1, 2),
       |rbig AS MATERIALIZED (
       |  SELECT k, w1, w2, COUNT(*) AS cb FROM (
       |    SELECT k, unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2, 3),
       |rctx AS MATERIALIZED (
       |  SELECT k, w1, CAST(SUM(cb) AS BIGINT) AS ctx FROM rbig GROUP BY 1, 2),
       |rtot AS MATERIALIZED (
       |  SELECT k, CAST(SUM(c1) AS BIGINT) AS n_ref_tokens, COUNT(*) AS vocab
       |  FROM runi GROUP BY 1),
       |pt AS (
       |  SELECT $idCol, $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src),
       |pbf AS MATERIALIZED (
       |  SELECT $idCol, k, w1, w2, COUNT(*) AS bf FROM (
       |    SELECT $idCol, k,
       |      unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM pt WHERE len(a) >= 2)
       |  GROUP BY 1, 2, 3, 4),
       |ppairs AS (SELECT DISTINCT k, w1, w2 FROM pbf),
       |plp AS MATERIALIZED (
       |  SELECT ppairs.k, ppairs.w1, ppairs.w2,
       |    CAST(round(ln(
       |      CAST($lamNum AS DOUBLE) / $lamDen *
       |        (CASE WHEN COALESCE(rctx.ctx, 0) > 0
       |              THEN CAST(COALESCE(rbig.cb, 0) AS DOUBLE) / COALESCE(rctx.ctx, 0)
       |              ELSE 0.0 END) +
       |      CAST(${lamDen - lamNum} AS DOUBLE) / $lamDen *
       |        (CAST(COALESCE(runi.c1, 0) + 1 AS DOUBLE) / (rtot.n_ref_tokens + rtot.vocab))
       |    ), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM ppairs
       |  LEFT JOIN rbig ON ppairs.k = rbig.k AND ppairs.w1 = rbig.w1 AND ppairs.w2 = rbig.w2
       |  LEFT JOIN rctx ON ppairs.k = rctx.k AND ppairs.w1 = rctx.w1
       |  LEFT JOIN runi ON ppairs.k = runi.k AND ppairs.w2 = runi.term
       |  JOIN rtot ON ppairs.k = rtot.k),
       |scored AS MATERIALIZED (
       |  SELECT pbf.$idCol, pbf.k, CAST(SUM(pbf.bf) AS BIGINT) AS n_bigrams,
       |    round(CAST(SUM(CAST(pbf.bf AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(pbf.bf) AS BIGINT), 6) AS logprob
       |  FROM pbf JOIN plp ON pbf.k = plp.k AND pbf.w1 = plp.w1 AND pbf.w2 = plp.w2
       |  GROUP BY 1, 2),
       |hist AS MATERIALIZED (
       |  SELECT k, logprob, COUNT(*) AS nv FROM scored GROUP BY 1, 2),
       |cum AS MATERIALIZED (
       |  SELECT k, logprob,
       |    SUM(nv) OVER (PARTITION BY k ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS MATERIALIZED (SELECT k, SUM(nv) AS n FROM hist GROUP BY 1),
       |vhead AS (SELECT cum.k, MAX(logprob) AS v_head
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (n + 2) // 3 GROUP BY 1),
       |vmid AS (SELECT cum.k, MAX(logprob) AS v_mid
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (2 * n + 2) // 3 GROUP BY 1)
       |SELECT scored.k AS $keyCol,
       |  CASE WHEN logprob >= v_head THEN 'head'
       |       WHEN logprob >= v_mid THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
       |FROM scored
       |JOIN vhead ON scored.k = vhead.k
       |JOIN vmid ON scored.k = vmid.k
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB SQL equivalent of the [[refLmTrain]] report query (top-k
    * bigrams with their context/unigram counts and the model totals).
    */
  def refLmTrainSql(src: String, idCol: String, textCol: String,
      refPred: String, k: Int = 25): String =
    s"""WITH ${refLmCtes(src, idCol, textCol, refPred)}
       |SELECT rbig.w1, rbig.w2, rbig.cb, rctx.ctx, runi.c1 AS c1_w2,
       |  rtot.n_ref_tokens, rtot.vocab
       |FROM rbig
       |JOIN rctx ON rbig.w1 = rctx.w1
       |JOIN runi ON rbig.w2 = runi.term
       |CROSS JOIN rtot
       |ORDER BY rbig.cb DESC, rbig.w1, rbig.w2 LIMIT $k""".stripMargin

  /** DuckDB SQL equivalent of [[refLmScore]] →
    * [[refLmPerplexityBuckets]] — the shared oracle of the inline and
    * stored-deploy bucket reports (they must match bit-for-bit).
    */
  def refLmBucketsSql(src: String, idCol: String, textCol: String,
      refPred: String, lamNum: Int = 7, lamDen: Int = 10): String =
    s"""WITH ${refLmCtes(src, idCol, textCol, refPred, lamNum, lamDen)},
       |hist AS MATERIALIZED (
       |  SELECT logprob, COUNT(*) AS nv FROM scored GROUP BY 1),
       |cum AS MATERIALIZED (
       |  SELECT logprob,
       |    SUM(nv) OVER (ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS (SELECT SUM(nv) AS n FROM hist),
       |cuts AS (SELECT
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (n + 2) // 3 FROM tot2)) AS v_head,
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (2 * n + 2) // 3 FROM tot2)) AS v_mid)
       |SELECT CASE WHEN logprob >= v_head THEN 'head'
       |            WHEN logprob >= v_mid THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
       |FROM scored CROSS JOIN cuts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB SQL equivalent of [[refLm3Train]] → [[refLm3Score]] →
    * [[refLm3PerplexityBuckets]] — the shared oracle of the inline
    * trigram report and its stored-deploy twin. Mirrors the engine's
    * backoff-chain arithmetic exactly (same λ parenthesization, same
    * 9-decimal per-triple round, same exact-decimal doc sums); every
    * multi-referenced CTE is `AS MATERIALIZED`.
    */
  def refLm3BucketsSql(src: String, idCol: String, textCol: String,
      refPred: String, lam3Num: Int = 5, lam3Den: Int = 10,
      lamNum: Int = 7, lamDen: Int = 10): String =
    s"""WITH reft AS MATERIALIZED (
       |  SELECT ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS c1 FROM (SELECT unnest(a) AS term FROM reft)
       |  GROUP BY 1),
       |rbig AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS cb FROM (
       |    SELECT unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2),
       |rctx AS MATERIALIZED (
       |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS ctx FROM rbig GROUP BY 1),
       |rtot AS MATERIALIZED (
       |  SELECT CAST(SUM(c1) AS BIGINT) AS n_ref_tokens, COUNT(*) AS vocab
       |  FROM runi),
       |rtri AS MATERIALIZED (
       |  SELECT w1, w2, w3, COUNT(*) AS ct FROM (
       |    SELECT unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM reft WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3),
       |rtctx AS MATERIALIZED (
       |  SELECT w1, w2, CAST(SUM(ct) AS BIGINT) AS ctx3 FROM rtri GROUP BY 1, 2),
       |pt AS (
       |  SELECT $idCol, ${TextAnalysis.tokensSql(textCol)} AS a FROM $src),
       |ptf AS MATERIALIZED (
       |  SELECT $idCol, w1, w2, w3, COUNT(*) AS tfq FROM (
       |    SELECT $idCol, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM pt WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4),
       |ptrip AS (SELECT DISTINCT w1, w2, w3 FROM ptf),
       |plp AS MATERIALIZED (
       |  SELECT ptrip.w1, ptrip.w2, ptrip.w3,
       |    CAST(round(ln(
       |      CAST($lam3Num AS DOUBLE) / $lam3Den *
       |        (CASE WHEN COALESCE(rtctx.ctx3, 0) > 0
       |              THEN CAST(COALESCE(rtri.ct, 0) AS DOUBLE) / COALESCE(rtctx.ctx3, 0)
       |              ELSE 0.0 END) +
       |      CAST(${lam3Den - lam3Num} AS DOUBLE) / $lam3Den *
       |        (CAST($lamNum AS DOUBLE) / $lamDen *
       |           (CASE WHEN COALESCE(rctx.ctx, 0) > 0
       |                 THEN CAST(COALESCE(rbig.cb, 0) AS DOUBLE) / COALESCE(rctx.ctx, 0)
       |                 ELSE 0.0 END) +
       |         CAST(${lamDen - lamNum} AS DOUBLE) / $lamDen *
       |           (CAST(COALESCE(runi.c1, 0) + 1 AS DOUBLE) / (rtot.n_ref_tokens + rtot.vocab)))
       |    ), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM ptrip
       |  LEFT JOIN rtri ON ptrip.w1 = rtri.w1 AND ptrip.w2 = rtri.w2 AND ptrip.w3 = rtri.w3
       |  LEFT JOIN rtctx ON ptrip.w1 = rtctx.w1 AND ptrip.w2 = rtctx.w2
       |  LEFT JOIN rbig ON ptrip.w2 = rbig.w1 AND ptrip.w3 = rbig.w2
       |  LEFT JOIN rctx ON ptrip.w2 = rctx.w1
       |  LEFT JOIN runi ON ptrip.w3 = runi.term
       |  CROSS JOIN rtot),
       |scored AS MATERIALIZED (
       |  SELECT ptf.$idCol, CAST(SUM(ptf.tfq) AS BIGINT) AS n_trigrams,
       |    round(CAST(SUM(CAST(ptf.tfq AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(ptf.tfq) AS BIGINT), 6) AS logprob
       |  FROM ptf JOIN plp
       |    ON ptf.w1 = plp.w1 AND ptf.w2 = plp.w2 AND ptf.w3 = plp.w3
       |  GROUP BY 1),
       |hist AS MATERIALIZED (
       |  SELECT logprob, COUNT(*) AS nv FROM scored GROUP BY 1),
       |cum AS MATERIALIZED (
       |  SELECT logprob,
       |    SUM(nv) OVER (ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS (SELECT SUM(nv) AS n FROM hist),
       |cuts AS (SELECT
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (n + 2) // 3 FROM tot2)) AS v_head,
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (2 * n + 2) // 3 FROM tot2)) AS v_mid)
       |SELECT CASE WHEN logprob >= v_head THEN 'head'
       |            WHEN logprob >= v_mid THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams
       |FROM scored CROSS JOIN cuts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB SQL twin of [[refLm3Train]] → [[refLmKn3Score]] →
    * [[refLm3PerplexityBuckets]] — the interpolated Kneser-Ney chain
    * replayed exactly: same continuation-count derivations from the
    * same base count tables, same discount literal (an exact IEEE
    * division), same parenthesization of every mixture term, same
    * 9-decimal per-triple round and exact-decimal doc sums. Every
    * multi-referenced CTE is `AS MATERIALIZED`.
    */
  def refLmKn3BucketsSql(src: String, idCol: String, textCol: String,
      refPred: String, dNum: Int = 3, dDen: Int = 4): String = {
    val dd = s"(CAST($dNum AS DOUBLE) / $dDen)"
    s"""WITH reft AS MATERIALIZED (
       |  SELECT ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS c1 FROM (SELECT unnest(a) AS term FROM reft)
       |  GROUP BY 1),
       |rvoc AS MATERIALIZED (SELECT COUNT(*) AS vocab FROM runi),
       |rbig AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS cb FROM (
       |    SELECT unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2),
       |rtri AS MATERIALIZED (
       |  SELECT w1, w2, w3, COUNT(*) AS ct FROM (
       |    SELECT unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM reft WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3),
       |rtctx AS MATERIALIZED (
       |  SELECT w1, w2, CAST(SUM(ct) AS BIGINT) AS ctx3 FROM rtri GROUP BY 1, 2),
       |rt3 AS MATERIALIZED (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS t3 FROM rtri GROUP BY 1, 2),
       |rcc AS MATERIALIZED (
       |  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cc FROM rtri GROUP BY 1, 2),
       |rc2 AS MATERIALIZED (
       |  SELECT w2, CAST(SUM(cc) AS BIGINT) AS c2,
       |    CAST(COUNT(*) AS BIGINT) AS t2 FROM rcc GROUP BY 1),
       |rcu AS MATERIALIZED (
       |  SELECT w2 AS w3, CAST(COUNT(*) AS BIGINT) AS cu FROM rbig GROUP BY 1),
       |rbt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nbig FROM rbig),
       |pt AS (
       |  SELECT $idCol, ${TextAnalysis.tokensSql(textCol)} AS a FROM $src),
       |ptf AS MATERIALIZED (
       |  SELECT $idCol, w1, w2, w3, COUNT(*) AS tfq FROM (
       |    SELECT $idCol, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM pt WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4),
       |ptrip AS (SELECT DISTINCT w1, w2, w3 FROM ptf),
       |plp AS MATERIALIZED (
       |  SELECT w1, w2, w3,
       |    CAST(round(ln(
       |      CASE WHEN c3v > 0 THEN
       |        (greatest(ctv - $dd, 0.0) + $dd * t3v *
       |          (CASE WHEN c2v > 0 THEN
       |             (greatest(ccv - $dd, 0.0) + $dd * t2v * pcv) / c2v
       |           ELSE pcv END)) / c3v
       |      ELSE
       |        (CASE WHEN c2v > 0 THEN
       |           (greatest(ccv - $dd, 0.0) + $dd * t2v * pcv) / c2v
       |         ELSE pcv END)
       |      END), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM (
       |    SELECT ptrip.w1, ptrip.w2, ptrip.w3,
       |      CAST(COALESCE(rtri.ct, 0) AS DOUBLE) AS ctv,
       |      COALESCE(rtctx.ctx3, 0) AS c3v,
       |      CAST(COALESCE(rt3.t3, 0) AS DOUBLE) AS t3v,
       |      CAST(COALESCE(rcc.cc, 0) AS DOUBLE) AS ccv,
       |      COALESCE(rc2.c2, 0) AS c2v,
       |      CAST(COALESCE(rc2.t2, 0) AS DOUBLE) AS t2v,
       |      (CAST(COALESCE(rcu.cu, 0) AS DOUBLE) + 1.0) /
       |        CAST(rbt.nbig + rvoc.vocab AS DOUBLE) AS pcv
       |    FROM ptrip
       |    LEFT JOIN rtri ON ptrip.w1 = rtri.w1 AND ptrip.w2 = rtri.w2
       |      AND ptrip.w3 = rtri.w3
       |    LEFT JOIN rtctx ON ptrip.w1 = rtctx.w1 AND ptrip.w2 = rtctx.w2
       |    LEFT JOIN rt3 ON ptrip.w1 = rt3.w1 AND ptrip.w2 = rt3.w2
       |    LEFT JOIN rcc ON ptrip.w2 = rcc.w2 AND ptrip.w3 = rcc.w3
       |    LEFT JOIN rc2 ON ptrip.w2 = rc2.w2
       |    LEFT JOIN rcu ON ptrip.w3 = rcu.w3
       |    CROSS JOIN rbt CROSS JOIN rvoc)),
       |scored AS MATERIALIZED (
       |  SELECT ptf.$idCol, CAST(SUM(ptf.tfq) AS BIGINT) AS n_trigrams,
       |    round(CAST(SUM(CAST(ptf.tfq AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(ptf.tfq) AS BIGINT), 6) AS logprob
       |  FROM ptf JOIN plp
       |    ON ptf.w1 = plp.w1 AND ptf.w2 = plp.w2 AND ptf.w3 = plp.w3
       |  GROUP BY 1),
       |hist AS MATERIALIZED (
       |  SELECT logprob, COUNT(*) AS nv FROM scored GROUP BY 1),
       |cum AS MATERIALIZED (
       |  SELECT logprob,
       |    SUM(nv) OVER (ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS (SELECT SUM(nv) AS n FROM hist),
       |cuts AS (SELECT
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (n + 2) // 3 FROM tot2)) AS v_head,
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (2 * n + 2) // 3 FROM tot2)) AS v_mid)
       |SELECT CASE WHEN logprob >= v_head THEN 'head'
       |            WHEN logprob >= v_mid THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams
       |FROM scored CROSS JOIN cuts
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB SQL twin of [[refLm5Train]] → [[refLmKn5Score]] →
    * [[refLm5PerplexityBuckets]]: the full 5-gram interpolated-KN
    * chain — raw counts at the top, continuation counts N1+ derived
    * one order up at every lower level, add-1 bottom — with the
    * score-time count pruning mirrored as WHERE clauses on the raw
    * 5-/4-gram CTEs (every derivation below reads the pruned views,
    * exactly as the engine derives from its pruned frames).
    */
  def refLmKn5BucketsSql(src: String, idCol: String, textCol: String,
      refPred: String, dNum: Int = 3, dDen: Int = 4,
      minCount5: Long = 1, minCount4: Long = 1): String = {
    val dd = s"(CAST($dNum AS DOUBLE) / $dDen)"
    s"""WITH reft AS MATERIALIZED (
       |  SELECT ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS c1 FROM (SELECT unnest(a) AS term FROM reft)
       |  GROUP BY 1),
       |rvoc AS MATERIALIZED (SELECT COUNT(*) AS vocab FROM runi),
       |rbig AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS cb FROM (
       |    SELECT unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2),
       |rbt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nbig FROM rbig),
       |rtri AS MATERIALIZED (
       |  SELECT w1, w2, w3, COUNT(*) AS ct FROM (
       |    SELECT unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM reft WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3),
       |rfour AS MATERIALIZED (
       |  SELECT w1, w2, w3, w4 FROM (
       |    SELECT w1, w2, w3, w4, COUNT(*) AS c4 FROM (
       |      SELECT unnest(a[1:len(a) - 3]) AS w1,
       |        unnest(a[2:len(a) - 2]) AS w2, unnest(a[3:len(a) - 1]) AS w3,
       |        unnest(a[4:len(a)]) AS w4
       |      FROM reft WHERE len(a) >= 4)
       |    GROUP BY 1, 2, 3, 4)
       |  WHERE c4 >= $minCount4),
       |rfive AS MATERIALIZED (
       |  SELECT w1, w2, w3, w4, w5, c5 FROM (
       |    SELECT w1, w2, w3, w4, w5, COUNT(*) AS c5 FROM (
       |      SELECT unnest(a[1:len(a) - 4]) AS w1,
       |        unnest(a[2:len(a) - 3]) AS w2, unnest(a[3:len(a) - 2]) AS w3,
       |        unnest(a[4:len(a) - 1]) AS w4, unnest(a[5:len(a)]) AS w5
       |      FROM reft WHERE len(a) >= 5)
       |    GROUP BY 1, 2, 3, 4, 5)
       |  WHERE c5 >= $minCount5),
       |rce5 AS MATERIALIZED (
       |  SELECT w1, w2, w3, w4, CAST(SUM(c5) AS BIGINT) AS c5x,
       |    CAST(COUNT(*) AS BIGINT) AS t5 FROM rfive GROUP BY 1, 2, 3, 4),
       |rcc4 AS MATERIALIZED (
       |  SELECT w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS cc4
       |  FROM rfive GROUP BY 1, 2, 3, 4),
       |rc4 AS MATERIALIZED (
       |  SELECT w2, w3, w4, CAST(SUM(cc4) AS BIGINT) AS c4x,
       |    CAST(COUNT(*) AS BIGINT) AS t4 FROM rcc4 GROUP BY 1, 2, 3),
       |rcc3 AS MATERIALIZED (
       |  SELECT w2 AS w3, w3 AS w4, w4 AS w5, CAST(COUNT(*) AS BIGINT) AS cc3
       |  FROM rfour GROUP BY 1, 2, 3),
       |rc3 AS MATERIALIZED (
       |  SELECT w3, w4, CAST(SUM(cc3) AS BIGINT) AS c3x,
       |    CAST(COUNT(*) AS BIGINT) AS t3 FROM rcc3 GROUP BY 1, 2),
       |rcc2 AS MATERIALIZED (
       |  SELECT w2 AS w4, w3 AS w5, CAST(COUNT(*) AS BIGINT) AS cc2
       |  FROM rtri GROUP BY 1, 2),
       |rc2 AS MATERIALIZED (
       |  SELECT w4, CAST(SUM(cc2) AS BIGINT) AS c2x,
       |    CAST(COUNT(*) AS BIGINT) AS t2 FROM rcc2 GROUP BY 1),
       |rcu AS MATERIALIZED (
       |  SELECT w2 AS w5, CAST(COUNT(*) AS BIGINT) AS cu FROM rbig GROUP BY 1),
       |pt AS (
       |  SELECT $idCol, ${TextAnalysis.tokensSql(textCol)} AS a FROM $src),
       |ptf AS MATERIALIZED (
       |  SELECT $idCol, w1, w2, w3, w4, w5, COUNT(*) AS tfq FROM (
       |    SELECT $idCol, unnest(a[1:len(a) - 4]) AS w1,
       |      unnest(a[2:len(a) - 3]) AS w2, unnest(a[3:len(a) - 2]) AS w3,
       |      unnest(a[4:len(a) - 1]) AS w4, unnest(a[5:len(a)]) AS w5
       |    FROM pt WHERE len(a) >= 5)
       |  GROUP BY 1, 2, 3, 4, 5, 6),
       |pquint AS (SELECT DISTINCT w1, w2, w3, w4, w5 FROM ptf),
       |plp AS MATERIALIZED (
       |  SELECT w1, w2, w3, w4, w5,
       |    CAST(round(ln(
       |      CASE WHEN c5xv > 0 THEN
       |        (greatest(c5v - $dd, 0.0) + $dd * t5v * p4v) / c5xv
       |      ELSE p4v END), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM (
       |    SELECT w1, w2, w3, w4, w5, c5v, c5xv, t5v,
       |      CASE WHEN c4xv > 0 THEN
       |        (greatest(cc4v - $dd, 0.0) + $dd * t4v * p3v) / c4xv
       |      ELSE p3v END AS p4v
       |    FROM (
       |      SELECT w1, w2, w3, w4, w5, c5v, c5xv, t5v, cc4v, c4xv, t4v,
       |        CASE WHEN c3xv > 0 THEN
       |          (greatest(cc3v - $dd, 0.0) + $dd * t3v * p2v) / c3xv
       |        ELSE p2v END AS p3v
       |      FROM (
       |        SELECT w1, w2, w3, w4, w5, c5v, c5xv, t5v, cc4v, c4xv, t4v,
       |          cc3v, c3xv, t3v,
       |          CASE WHEN c2xv > 0 THEN
       |            (greatest(cc2v - $dd, 0.0) + $dd * t2v * pcv) / c2xv
       |          ELSE pcv END AS p2v
       |        FROM (
       |          SELECT pquint.w1, pquint.w2, pquint.w3, pquint.w4, pquint.w5,
       |            CAST(COALESCE(rfive.c5, 0) AS DOUBLE) AS c5v,
       |            COALESCE(rce5.c5x, 0) AS c5xv,
       |            CAST(COALESCE(rce5.t5, 0) AS DOUBLE) AS t5v,
       |            CAST(COALESCE(rcc4.cc4, 0) AS DOUBLE) AS cc4v,
       |            COALESCE(rc4.c4x, 0) AS c4xv,
       |            CAST(COALESCE(rc4.t4, 0) AS DOUBLE) AS t4v,
       |            CAST(COALESCE(rcc3.cc3, 0) AS DOUBLE) AS cc3v,
       |            COALESCE(rc3.c3x, 0) AS c3xv,
       |            CAST(COALESCE(rc3.t3, 0) AS DOUBLE) AS t3v,
       |            CAST(COALESCE(rcc2.cc2, 0) AS DOUBLE) AS cc2v,
       |            COALESCE(rc2.c2x, 0) AS c2xv,
       |            CAST(COALESCE(rc2.t2, 0) AS DOUBLE) AS t2v,
       |            (CAST(COALESCE(rcu.cu, 0) AS DOUBLE) + 1.0) /
       |              CAST(rbt.nbig + rvoc.vocab AS DOUBLE) AS pcv
       |          FROM pquint
       |          LEFT JOIN rfive ON pquint.w1 = rfive.w1 AND pquint.w2 = rfive.w2
       |            AND pquint.w3 = rfive.w3 AND pquint.w4 = rfive.w4
       |            AND pquint.w5 = rfive.w5
       |          LEFT JOIN rce5 ON pquint.w1 = rce5.w1 AND pquint.w2 = rce5.w2
       |            AND pquint.w3 = rce5.w3 AND pquint.w4 = rce5.w4
       |          LEFT JOIN rcc4 ON pquint.w2 = rcc4.w2 AND pquint.w3 = rcc4.w3
       |            AND pquint.w4 = rcc4.w4 AND pquint.w5 = rcc4.w5
       |          LEFT JOIN rc4 ON pquint.w2 = rc4.w2 AND pquint.w3 = rc4.w3
       |            AND pquint.w4 = rc4.w4
       |          LEFT JOIN rcc3 ON pquint.w3 = rcc3.w3 AND pquint.w4 = rcc3.w4
       |            AND pquint.w5 = rcc3.w5
       |          LEFT JOIN rc3 ON pquint.w3 = rc3.w3 AND pquint.w4 = rc3.w4
       |          LEFT JOIN rcc2 ON pquint.w4 = rcc2.w4 AND pquint.w5 = rcc2.w5
       |          LEFT JOIN rc2 ON pquint.w4 = rc2.w4
       |          LEFT JOIN rcu ON pquint.w5 = rcu.w5
       |          CROSS JOIN rbt CROSS JOIN rvoc))))),
       |scored AS MATERIALIZED (
       |  SELECT ptf.$idCol, CAST(SUM(ptf.tfq) AS BIGINT) AS n_5grams,
       |    round(CAST(SUM(CAST(ptf.tfq AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(ptf.tfq) AS BIGINT), 6) AS logprob
       |  FROM ptf JOIN plp
       |    ON ptf.w1 = plp.w1 AND ptf.w2 = plp.w2 AND ptf.w3 = plp.w3
       |    AND ptf.w4 = plp.w4 AND ptf.w5 = plp.w5
       |  GROUP BY 1),
       |hist AS MATERIALIZED (
       |  SELECT logprob, COUNT(*) AS nv FROM scored GROUP BY 1),
       |cum AS MATERIALIZED (
       |  SELECT logprob,
       |    SUM(nv) OVER (ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS (SELECT SUM(nv) AS n FROM hist),
       |cuts AS (SELECT
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (n + 2) // 3 FROM tot2)) AS v_head,
       |    (SELECT MAX(logprob) FROM cum
       |      WHERE cumn >= (SELECT (2 * n + 2) // 3 FROM tot2)) AS v_mid)
       |SELECT CASE WHEN logprob >= v_head THEN 'head'
       |            WHEN logprob >= v_mid THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_5grams) AS BIGINT) AS n_5grams
       |FROM scored CROSS JOIN cuts
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB SQL twin of [[refLm3TrainByKey]] → [[refLm3ScoreByKey]] →
    * [[refLm3PerplexityBucketsByKey]]: the keyed-bucket chain at
    * order 3 — [[refLm3BucketsSql]]'s backoff arithmetic with the key
    * riding every table and per-key tertile cutoffs. Shared-chain CTEs
    * are `AS MATERIALIZED`.
    */
  def refLm3BucketsByKeySql(src: String, idCol: String, textCol: String,
      keyCol: String, refPred: String,
      lam3Num: Int = 5, lam3Den: Int = 10,
      lamNum: Int = 7, lamDen: Int = 10): String =
    s"""WITH reft AS MATERIALIZED (
       |  SELECT $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT k, term, COUNT(*) AS c1
       |  FROM (SELECT k, unnest(a) AS term FROM reft) GROUP BY 1, 2),
       |rbig AS MATERIALIZED (
       |  SELECT k, w1, w2, COUNT(*) AS cb FROM (
       |    SELECT k, unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2, 3),
       |rctx AS MATERIALIZED (
       |  SELECT k, w1, CAST(SUM(cb) AS BIGINT) AS ctx FROM rbig GROUP BY 1, 2),
       |rtot AS MATERIALIZED (
       |  SELECT k, CAST(SUM(c1) AS BIGINT) AS n_ref_tokens, COUNT(*) AS vocab
       |  FROM runi GROUP BY 1),
       |rtri AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, COUNT(*) AS ct FROM (
       |    SELECT k, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM reft WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4),
       |rtctx AS MATERIALIZED (
       |  SELECT k, w1, w2, CAST(SUM(ct) AS BIGINT) AS ctx3
       |  FROM rtri GROUP BY 1, 2, 3),
       |pt AS (
       |  SELECT $idCol, $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src),
       |ptf AS MATERIALIZED (
       |  SELECT $idCol, k, w1, w2, w3, COUNT(*) AS tfq FROM (
       |    SELECT $idCol, k, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM pt WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4, 5),
       |ptrip AS (SELECT DISTINCT k, w1, w2, w3 FROM ptf),
       |plp AS MATERIALIZED (
       |  SELECT ptrip.k, ptrip.w1, ptrip.w2, ptrip.w3,
       |    CAST(round(ln(
       |      CAST($lam3Num AS DOUBLE) / $lam3Den *
       |        (CASE WHEN COALESCE(rtctx.ctx3, 0) > 0
       |              THEN CAST(COALESCE(rtri.ct, 0) AS DOUBLE) / COALESCE(rtctx.ctx3, 0)
       |              ELSE 0.0 END) +
       |      CAST(${lam3Den - lam3Num} AS DOUBLE) / $lam3Den *
       |        (CAST($lamNum AS DOUBLE) / $lamDen *
       |           (CASE WHEN COALESCE(rctx.ctx, 0) > 0
       |                 THEN CAST(COALESCE(rbig.cb, 0) AS DOUBLE) / COALESCE(rctx.ctx, 0)
       |                 ELSE 0.0 END) +
       |         CAST(${lamDen - lamNum} AS DOUBLE) / $lamDen *
       |           (CAST(COALESCE(runi.c1, 0) + 1 AS DOUBLE) / (rtot.n_ref_tokens + rtot.vocab)))
       |    ), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM ptrip
       |  LEFT JOIN rtri ON ptrip.k = rtri.k AND ptrip.w1 = rtri.w1
       |    AND ptrip.w2 = rtri.w2 AND ptrip.w3 = rtri.w3
       |  LEFT JOIN rtctx ON ptrip.k = rtctx.k AND ptrip.w1 = rtctx.w1
       |    AND ptrip.w2 = rtctx.w2
       |  LEFT JOIN rbig ON ptrip.k = rbig.k AND ptrip.w2 = rbig.w1
       |    AND ptrip.w3 = rbig.w2
       |  LEFT JOIN rctx ON ptrip.k = rctx.k AND ptrip.w2 = rctx.w1
       |  LEFT JOIN runi ON ptrip.k = runi.k AND ptrip.w3 = runi.term
       |  JOIN rtot ON ptrip.k = rtot.k),
       |scored AS MATERIALIZED (
       |  SELECT ptf.$idCol, ptf.k, CAST(SUM(ptf.tfq) AS BIGINT) AS n_trigrams,
       |    round(CAST(SUM(CAST(ptf.tfq AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(ptf.tfq) AS BIGINT), 6) AS logprob
       |  FROM ptf JOIN plp ON ptf.k = plp.k AND ptf.w1 = plp.w1
       |    AND ptf.w2 = plp.w2 AND ptf.w3 = plp.w3
       |  GROUP BY 1, 2),
       |hist AS MATERIALIZED (
       |  SELECT k, logprob, COUNT(*) AS nv FROM scored GROUP BY 1, 2),
       |cum AS MATERIALIZED (
       |  SELECT k, logprob,
       |    SUM(nv) OVER (PARTITION BY k ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS MATERIALIZED (SELECT k, SUM(nv) AS n FROM hist GROUP BY 1),
       |vhead AS (SELECT cum.k, MAX(logprob) AS v_head
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (n + 2) // 3 GROUP BY 1),
       |vmid AS (SELECT cum.k, MAX(logprob) AS v_mid
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (2 * n + 2) // 3 GROUP BY 1)
       |SELECT scored.k AS $keyCol,
       |  CASE WHEN logprob >= v_head THEN 'head'
       |       WHEN logprob >= v_mid THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams
       |FROM scored
       |JOIN vhead ON scored.k = vhead.k
       |JOIN vmid ON scored.k = vmid.k
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB SQL twin of [[refLm3TrainByKey]] → [[refLmKn3ScoreByKey]] →
    * [[refLm3PerplexityBucketsByKey]]: the keyed-bucket chain under
    * interpolated Kneser-Ney — [[refLmKn3BucketsSql]]'s discount
    * arithmetic with the key riding every count AND continuation
    * table, per-key tertile cutoffs. The bigram-type total joins LEFT
    * with a 0 default (the engine's modeled-but-bigramless contract);
    * the vocab join is INNER (unmodeled keys absent). Shared-chain
    * CTEs are `AS MATERIALIZED`.
    */
  def refLmKn3BucketsByKeySql(src: String, idCol: String, textCol: String,
      keyCol: String, refPred: String,
      dNum: Int = 3, dDen: Int = 4): String =
    s"""WITH ${refLmKn3ScoredByKeyCtes(src, idCol, textCol, keyCol, refPred, dNum, dDen)},
       |hist AS MATERIALIZED (
       |  SELECT k, logprob, COUNT(*) AS nv FROM scored GROUP BY 1, 2),
       |cum AS MATERIALIZED (
       |  SELECT k, logprob,
       |    SUM(nv) OVER (PARTITION BY k ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS MATERIALIZED (SELECT k, SUM(nv) AS n FROM hist GROUP BY 1),
       |vhead AS (SELECT cum.k, MAX(logprob) AS v_head
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (n + 2) // 3 GROUP BY 1),
       |vmid AS (SELECT cum.k, MAX(logprob) AS v_mid
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (2 * n + 2) // 3 GROUP BY 1)
       |SELECT scored.k AS $keyCol,
       |  CASE WHEN logprob >= v_head THEN 'head'
       |       WHEN logprob >= v_mid THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams
       |FROM scored
       |JOIN vhead ON scored.k = vhead.k
       |JOIN vmid ON scored.k = vmid.k
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The CTE chain of [[refLmKn3BucketsByKeySql]] from the reference
    * slice through the per-(doc, key) `scored` frame — reusable by
    * oracles that compose keyed-KN scoring INTO a larger chain (the
    * curation perplexity gate splices these plus per-key cutoff CTEs
    * into the pipeline replay). No leading `WITH`; ends at `scored`.
    */
  def refLmKn3ScoredByKeyCtes(src: String, idCol: String, textCol: String,
      keyCol: String, refPred: String,
      dNum: Int = 3, dDen: Int = 4): String = {
    val dd = s"(CAST($dNum AS DOUBLE) / $dDen)"
    s"""reft AS MATERIALIZED (
       |  SELECT $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT k, term, COUNT(*) AS c1
       |  FROM (SELECT k, unnest(a) AS term FROM reft) GROUP BY 1, 2),
       |rvoc AS MATERIALIZED (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab FROM runi GROUP BY 1),
       |rbig AS MATERIALIZED (
       |  SELECT k, w1, w2, COUNT(*) AS cb FROM (
       |    SELECT k, unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2, 3),
       |rtri AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, COUNT(*) AS ct FROM (
       |    SELECT k, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM reft WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4),
       |rtctx AS MATERIALIZED (
       |  SELECT k, w1, w2, CAST(SUM(ct) AS BIGINT) AS ctx3
       |  FROM rtri GROUP BY 1, 2, 3),
       |rt3 AS MATERIALIZED (
       |  SELECT k, w1, w2, CAST(COUNT(*) AS BIGINT) AS t3
       |  FROM rtri GROUP BY 1, 2, 3),
       |rcc AS MATERIALIZED (
       |  SELECT k, w2, w3, CAST(COUNT(*) AS BIGINT) AS cc
       |  FROM rtri GROUP BY 1, 2, 3),
       |rc2 AS MATERIALIZED (
       |  SELECT k, w2, CAST(SUM(cc) AS BIGINT) AS c2,
       |    CAST(COUNT(*) AS BIGINT) AS t2 FROM rcc GROUP BY 1, 2),
       |rcu AS MATERIALIZED (
       |  SELECT k, w2 AS w3, CAST(COUNT(*) AS BIGINT) AS cu
       |  FROM rbig GROUP BY 1, 2),
       |rbt AS MATERIALIZED (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS nbig FROM rbig GROUP BY 1),
       |pt AS (
       |  SELECT $idCol, $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src),
       |ptf AS MATERIALIZED (
       |  SELECT $idCol, k, w1, w2, w3, COUNT(*) AS tfq FROM (
       |    SELECT $idCol, k, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM pt WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4, 5),
       |ptrip AS (SELECT DISTINCT k, w1, w2, w3 FROM ptf),
       |plp AS MATERIALIZED (
       |  SELECT k, w1, w2, w3,
       |    CAST(round(ln(
       |      CASE WHEN c3v > 0 THEN
       |        (greatest(ctv - $dd, 0.0) + $dd * t3v *
       |          (CASE WHEN c2v > 0 THEN
       |             (greatest(ccv - $dd, 0.0) + $dd * t2v * pcv) / c2v
       |           ELSE pcv END)) / c3v
       |      ELSE
       |        (CASE WHEN c2v > 0 THEN
       |           (greatest(ccv - $dd, 0.0) + $dd * t2v * pcv) / c2v
       |         ELSE pcv END)
       |      END), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM (
       |    SELECT ptrip.k, ptrip.w1, ptrip.w2, ptrip.w3,
       |      CAST(COALESCE(rtri.ct, 0) AS DOUBLE) AS ctv,
       |      COALESCE(rtctx.ctx3, 0) AS c3v,
       |      CAST(COALESCE(rt3.t3, 0) AS DOUBLE) AS t3v,
       |      CAST(COALESCE(rcc.cc, 0) AS DOUBLE) AS ccv,
       |      COALESCE(rc2.c2, 0) AS c2v,
       |      CAST(COALESCE(rc2.t2, 0) AS DOUBLE) AS t2v,
       |      (CAST(COALESCE(rcu.cu, 0) AS DOUBLE) + 1.0) /
       |        CAST(COALESCE(rbt.nbig, 0) + rvoc.vocab AS DOUBLE) AS pcv
       |    FROM ptrip
       |    LEFT JOIN rtri ON ptrip.k = rtri.k AND ptrip.w1 = rtri.w1
       |      AND ptrip.w2 = rtri.w2 AND ptrip.w3 = rtri.w3
       |    LEFT JOIN rtctx ON ptrip.k = rtctx.k AND ptrip.w1 = rtctx.w1
       |      AND ptrip.w2 = rtctx.w2
       |    LEFT JOIN rt3 ON ptrip.k = rt3.k AND ptrip.w1 = rt3.w1
       |      AND ptrip.w2 = rt3.w2
       |    LEFT JOIN rcc ON ptrip.k = rcc.k AND ptrip.w2 = rcc.w2
       |      AND ptrip.w3 = rcc.w3
       |    LEFT JOIN rc2 ON ptrip.k = rc2.k AND ptrip.w2 = rc2.w2
       |    LEFT JOIN rcu ON ptrip.k = rcu.k AND ptrip.w3 = rcu.w3
       |    LEFT JOIN rbt ON ptrip.k = rbt.k
       |    JOIN rvoc ON ptrip.k = rvoc.k)),
       |scored AS MATERIALIZED (
       |  SELECT ptf.$idCol, ptf.k, CAST(SUM(ptf.tfq) AS BIGINT) AS n_trigrams,
       |    round(CAST(SUM(CAST(ptf.tfq AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(ptf.tfq) AS BIGINT), 6) AS logprob
       |  FROM ptf JOIN plp ON ptf.k = plp.k AND ptf.w1 = plp.w1
       |    AND ptf.w2 = plp.w2 AND ptf.w3 = plp.w3
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB SQL twin of [[refLm5TrainByKey]] → [[refLmKn5ScoreByKey]]
    * → [[refLm5PerplexityBucketsByKey]]: the 5-gram interpolated-KN
    * chain with the key riding every table ([[refLmKn5BucketsSql]]'s
    * arithmetic, including the score-time count-pruning views) and
    * per-key tertile cutoffs. Shared-chain CTEs are `AS MATERIALIZED`.
    */
  def refLmKn5BucketsByKeySql(src: String, idCol: String, textCol: String,
      keyCol: String, refPred: String, dNum: Int = 3, dDen: Int = 4,
      minCount5: Long = 1, minCount4: Long = 1): String = {
    val dd = s"(CAST($dNum AS DOUBLE) / $dDen)"
    s"""WITH reft AS MATERIALIZED (
       |  SELECT $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src WHERE ($refPred)),
       |runi AS MATERIALIZED (
       |  SELECT k, term, COUNT(*) AS c1
       |  FROM (SELECT k, unnest(a) AS term FROM reft) GROUP BY 1, 2),
       |rvoc AS MATERIALIZED (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab FROM runi GROUP BY 1),
       |rbig AS MATERIALIZED (
       |  SELECT k, w1, w2, COUNT(*) AS cb FROM (
       |    SELECT k, unnest(a[1:len(a) - 1]) AS w1, unnest(a[2:len(a)]) AS w2
       |    FROM reft WHERE len(a) >= 2)
       |  GROUP BY 1, 2, 3),
       |rbt AS MATERIALIZED (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS nbig FROM rbig GROUP BY 1),
       |rtri AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, COUNT(*) AS ct FROM (
       |    SELECT k, unnest(a[1:len(a) - 2]) AS w1,
       |      unnest(a[2:len(a) - 1]) AS w2, unnest(a[3:len(a)]) AS w3
       |    FROM reft WHERE len(a) >= 3)
       |  GROUP BY 1, 2, 3, 4),
       |rfour AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, w4 FROM (
       |    SELECT k, w1, w2, w3, w4, COUNT(*) AS c4 FROM (
       |      SELECT k, unnest(a[1:len(a) - 3]) AS w1,
       |        unnest(a[2:len(a) - 2]) AS w2, unnest(a[3:len(a) - 1]) AS w3,
       |        unnest(a[4:len(a)]) AS w4
       |      FROM reft WHERE len(a) >= 4)
       |    GROUP BY 1, 2, 3, 4, 5)
       |  WHERE c4 >= $minCount4),
       |rfive AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, w4, w5, c5 FROM (
       |    SELECT k, w1, w2, w3, w4, w5, COUNT(*) AS c5 FROM (
       |      SELECT k, unnest(a[1:len(a) - 4]) AS w1,
       |        unnest(a[2:len(a) - 3]) AS w2, unnest(a[3:len(a) - 2]) AS w3,
       |        unnest(a[4:len(a) - 1]) AS w4, unnest(a[5:len(a)]) AS w5
       |      FROM reft WHERE len(a) >= 5)
       |    GROUP BY 1, 2, 3, 4, 5, 6)
       |  WHERE c5 >= $minCount5),
       |rce5 AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, w4, CAST(SUM(c5) AS BIGINT) AS c5x,
       |    CAST(COUNT(*) AS BIGINT) AS t5 FROM rfive GROUP BY 1, 2, 3, 4, 5),
       |rcc4 AS MATERIALIZED (
       |  SELECT k, w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS cc4
       |  FROM rfive GROUP BY 1, 2, 3, 4, 5),
       |rc4 AS MATERIALIZED (
       |  SELECT k, w2, w3, w4, CAST(SUM(cc4) AS BIGINT) AS c4x,
       |    CAST(COUNT(*) AS BIGINT) AS t4 FROM rcc4 GROUP BY 1, 2, 3, 4),
       |rcc3 AS MATERIALIZED (
       |  SELECT k, w2 AS w3, w3 AS w4, w4 AS w5,
       |    CAST(COUNT(*) AS BIGINT) AS cc3
       |  FROM rfour GROUP BY 1, 2, 3, 4),
       |rc3 AS MATERIALIZED (
       |  SELECT k, w3, w4, CAST(SUM(cc3) AS BIGINT) AS c3x,
       |    CAST(COUNT(*) AS BIGINT) AS t3 FROM rcc3 GROUP BY 1, 2, 3),
       |rcc2 AS MATERIALIZED (
       |  SELECT k, w2 AS w4, w3 AS w5, CAST(COUNT(*) AS BIGINT) AS cc2
       |  FROM rtri GROUP BY 1, 2, 3),
       |rc2 AS MATERIALIZED (
       |  SELECT k, w4, CAST(SUM(cc2) AS BIGINT) AS c2x,
       |    CAST(COUNT(*) AS BIGINT) AS t2 FROM rcc2 GROUP BY 1, 2),
       |rcu AS MATERIALIZED (
       |  SELECT k, w2 AS w5, CAST(COUNT(*) AS BIGINT) AS cu
       |  FROM rbig GROUP BY 1, 2),
       |pt AS (
       |  SELECT $idCol, $keyCol AS k, ${TextAnalysis.tokensSql(textCol)} AS a
       |  FROM $src),
       |ptf AS MATERIALIZED (
       |  SELECT $idCol, k, w1, w2, w3, w4, w5, COUNT(*) AS tfq FROM (
       |    SELECT $idCol, k, unnest(a[1:len(a) - 4]) AS w1,
       |      unnest(a[2:len(a) - 3]) AS w2, unnest(a[3:len(a) - 2]) AS w3,
       |      unnest(a[4:len(a) - 1]) AS w4, unnest(a[5:len(a)]) AS w5
       |    FROM pt WHERE len(a) >= 5)
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |pquint AS (SELECT DISTINCT k, w1, w2, w3, w4, w5 FROM ptf),
       |plp AS MATERIALIZED (
       |  SELECT k, w1, w2, w3, w4, w5,
       |    CAST(round(ln(
       |      CASE WHEN c5xv > 0 THEN
       |        (greatest(c5v - $dd, 0.0) + $dd * t5v * p4v) / c5xv
       |      ELSE p4v END), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM (
       |    SELECT k, w1, w2, w3, w4, w5, c5v, c5xv, t5v,
       |      CASE WHEN c4xv > 0 THEN
       |        (greatest(cc4v - $dd, 0.0) + $dd * t4v * p3v) / c4xv
       |      ELSE p3v END AS p4v
       |    FROM (
       |      SELECT k, w1, w2, w3, w4, w5, c5v, c5xv, t5v, cc4v, c4xv, t4v,
       |        CASE WHEN c3xv > 0 THEN
       |          (greatest(cc3v - $dd, 0.0) + $dd * t3v * p2v) / c3xv
       |        ELSE p2v END AS p3v
       |      FROM (
       |        SELECT k, w1, w2, w3, w4, w5, c5v, c5xv, t5v, cc4v, c4xv, t4v,
       |          cc3v, c3xv, t3v,
       |          CASE WHEN c2xv > 0 THEN
       |            (greatest(cc2v - $dd, 0.0) + $dd * t2v * pcv) / c2xv
       |          ELSE pcv END AS p2v
       |        FROM (
       |          SELECT pquint.k, pquint.w1, pquint.w2, pquint.w3,
       |            pquint.w4, pquint.w5,
       |            CAST(COALESCE(rfive.c5, 0) AS DOUBLE) AS c5v,
       |            COALESCE(rce5.c5x, 0) AS c5xv,
       |            CAST(COALESCE(rce5.t5, 0) AS DOUBLE) AS t5v,
       |            CAST(COALESCE(rcc4.cc4, 0) AS DOUBLE) AS cc4v,
       |            COALESCE(rc4.c4x, 0) AS c4xv,
       |            CAST(COALESCE(rc4.t4, 0) AS DOUBLE) AS t4v,
       |            CAST(COALESCE(rcc3.cc3, 0) AS DOUBLE) AS cc3v,
       |            COALESCE(rc3.c3x, 0) AS c3xv,
       |            CAST(COALESCE(rc3.t3, 0) AS DOUBLE) AS t3v,
       |            CAST(COALESCE(rcc2.cc2, 0) AS DOUBLE) AS cc2v,
       |            COALESCE(rc2.c2x, 0) AS c2xv,
       |            CAST(COALESCE(rc2.t2, 0) AS DOUBLE) AS t2v,
       |            (CAST(COALESCE(rcu.cu, 0) AS DOUBLE) + 1.0) /
       |              CAST(COALESCE(rbt.nbig, 0) + rvoc.vocab AS DOUBLE) AS pcv
       |          FROM pquint
       |          LEFT JOIN rfive ON pquint.k = rfive.k
       |            AND pquint.w1 = rfive.w1 AND pquint.w2 = rfive.w2
       |            AND pquint.w3 = rfive.w3 AND pquint.w4 = rfive.w4
       |            AND pquint.w5 = rfive.w5
       |          LEFT JOIN rce5 ON pquint.k = rce5.k
       |            AND pquint.w1 = rce5.w1 AND pquint.w2 = rce5.w2
       |            AND pquint.w3 = rce5.w3 AND pquint.w4 = rce5.w4
       |          LEFT JOIN rcc4 ON pquint.k = rcc4.k
       |            AND pquint.w2 = rcc4.w2 AND pquint.w3 = rcc4.w3
       |            AND pquint.w4 = rcc4.w4 AND pquint.w5 = rcc4.w5
       |          LEFT JOIN rc4 ON pquint.k = rc4.k
       |            AND pquint.w2 = rc4.w2 AND pquint.w3 = rc4.w3
       |            AND pquint.w4 = rc4.w4
       |          LEFT JOIN rcc3 ON pquint.k = rcc3.k
       |            AND pquint.w3 = rcc3.w3 AND pquint.w4 = rcc3.w4
       |            AND pquint.w5 = rcc3.w5
       |          LEFT JOIN rc3 ON pquint.k = rc3.k
       |            AND pquint.w3 = rc3.w3 AND pquint.w4 = rc3.w4
       |          LEFT JOIN rcc2 ON pquint.k = rcc2.k
       |            AND pquint.w4 = rcc2.w4 AND pquint.w5 = rcc2.w5
       |          LEFT JOIN rc2 ON pquint.k = rc2.k AND pquint.w4 = rc2.w4
       |          LEFT JOIN rcu ON pquint.k = rcu.k AND pquint.w5 = rcu.w5
       |          LEFT JOIN rbt ON pquint.k = rbt.k
       |          JOIN rvoc ON pquint.k = rvoc.k))))),
       |scored AS MATERIALIZED (
       |  SELECT ptf.$idCol, ptf.k, CAST(SUM(ptf.tfq) AS BIGINT) AS n_5grams,
       |    round(CAST(SUM(CAST(ptf.tfq AS DECIMAL(18,0)) * plp.logp9) AS DOUBLE)
       |          / CAST(SUM(ptf.tfq) AS BIGINT), 6) AS logprob
       |  FROM ptf JOIN plp ON ptf.k = plp.k AND ptf.w1 = plp.w1
       |    AND ptf.w2 = plp.w2 AND ptf.w3 = plp.w3
       |    AND ptf.w4 = plp.w4 AND ptf.w5 = plp.w5
       |  GROUP BY 1, 2),
       |hist AS MATERIALIZED (
       |  SELECT k, logprob, COUNT(*) AS nv FROM scored GROUP BY 1, 2),
       |cum AS MATERIALIZED (
       |  SELECT k, logprob,
       |    SUM(nv) OVER (PARTITION BY k ORDER BY logprob DESC) AS cumn
       |  FROM hist),
       |tot2 AS MATERIALIZED (SELECT k, SUM(nv) AS n FROM hist GROUP BY 1),
       |vhead AS (SELECT cum.k, MAX(logprob) AS v_head
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (n + 2) // 3 GROUP BY 1),
       |vmid AS (SELECT cum.k, MAX(logprob) AS v_mid
       |  FROM cum JOIN tot2 ON cum.k = tot2.k
       |  WHERE cumn >= (2 * n + 2) // 3 GROUP BY 1)
       |SELECT scored.k AS $keyCol,
       |  CASE WHEN logprob >= v_head THEN 'head'
       |       WHEN logprob >= v_mid THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(logprob) AS min_logprob, MAX(logprob) AS max_logprob,
       |  CAST(SUM(n_5grams) AS BIGINT) AS n_5grams
       |FROM scored
       |JOIN vhead ON scored.k = vhead.k
       |JOIN vmid ON scored.k = vmid.k
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB SQL equivalent of [[unigramLogProb]]. */
  def unigramLogProbSql(src: String, idCol: String, textCol: String, k: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT $idCol, unnest(${TextAnalysis.tokensSql(textCol)}) AS term
       |  FROM $src),
       |tf AS (SELECT $idCol, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |tt AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY 1),
       |corpus AS (SELECT SUM(ctf) AS total FROM tt),
       |lp AS (SELECT term,
       |    CAST(round(ln(CAST(ctf AS DOUBLE) / total), 9) AS DECIMAL(18,9)) AS logp9
       |  FROM tt CROSS JOIN corpus),
       |d AS (SELECT tf.$idCol, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       |        SUM(CAST(tf.tf AS DECIMAL(18,0)) * lp.logp9) AS slp
       |      FROM tf JOIN lp USING (term) GROUP BY 1)
       |SELECT $idCol, n_tokens, round(CAST(slp AS DOUBLE) / n_tokens, 6) AS logprob
       |FROM d ORDER BY logprob ASC, $idCol LIMIT $k""".stripMargin
}
