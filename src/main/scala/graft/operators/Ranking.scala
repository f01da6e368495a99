package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

import graft.plans.TopKPerKey
import graft.sources.Readers

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
  // Reference-trained n-gram LMs (CCNet-style perplexity filtering —
  // Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  // Datasets from Web Crawl Data", arXiv:1911.00359).
  //
  // [[unigramLogProb]]/[[bigramLogProb]] score a corpus against ITSELF
  // (MLE, no smoothing needed). The production filtering step is
  // different: the LM is trained on a trusted REFERENCE slice (CCNet:
  // per-language Wikipedia) and scores the whole POOL — so unseen pool
  // n-grams/tokens are the norm, and the model must smooth. This family
  // is that step, plus the suite's stored-artifact deploy pattern: the
  // trained counts persist as parquet tables ([[writeRefLm]]) and the
  // scoring fleet reads them ([[readRefLm]]) — retrain the reference LM
  // and every consumer re-scores with no code change.
  //
  // ONE engine serves every order (2, 3, 5) and both deployment shapes.
  // The key is a possibly-empty list of leading columns, never a
  // constant key column: a keyed model (one LM per value of `keyCol`,
  // e.g. per LANGUAGE — the actual CCNet deployment, every model trained
  // in ONE pass with no per-key job loop) carries `__k` first in every
  // table, and every groupBy, window and join key starts with it; an
  // unkeyed model has no key, so its corpus-level scalars (totals, the
  // bigram-type count, the bucket cutoffs) are 1-row frames joined by
  // broadcast crossJoin and its windows are unpartitioned — exactly the
  // plans a dedicated unkeyed engine would build ([[joinOn]]).
  //
  // STORAGE CONTRACT (orders 4/5): distinct 5-grams approach the corpus
  // token count, so unlike the vocabulary-bounded low orders the stored
  // order-4/5 tables are CORPUS-scale — plain partitioned parquet keyed
  // by the n-gram, merged with one partial-aggregated groupBy per table.
  // Stored counts stay UNPRUNED: additivity is what makes the
  // incremental merge bit-identical to a retrain, and pruning is not
  // additive (a count crossing the threshold after a merge must
  // reappear). Pruning is instead a SCORE-TIME view
  // ([[refLmKn5Score]]'s minCount5/4 — KenLM's singleton pruning).
  // --------------------------------------------------------------------

  /** A reference LM of order 2, 3 or 5 as exact integer tables — what
    * the scorers consume, and exactly what persists to parquet:
    *  - `counts(k - 1)`: the order-k counts — `unigram` (term, c1),
    *    `bigram` (w1, w2, cb), `trigram` (w1..w3, ct), `fourgram`
    *    (w1..w4, c4), `fivegram` (w1..w5, c5);
    *  - `contextTables`: `ctx` (w1, ctx) = c(w1 ·) and, from order 3,
    *    `tctx` (w1, w2, ctx3) = c(w1 w2 ·) — NOT the bigram count (a
    *    document's final bigram has no continuation);
    *  - `totals`: (n_ref_tokens, vocab), one row.
    * A keyed model leads every table with `__k` (totals: one row per
    * key) — keyedness is read from that schema, never flagged. Kneser-
    * Ney's context, continuation and type tables are deliberately NOT
    * stored: they derive at score time (one groupBy each), so the
    * artifact holds only additive counts and a merge stays bit-equal
    * to a retrain.
    */
  final case class RefLmModel(
      counts: Seq[DataFrame], contextTables: Seq[DataFrame], totals: DataFrame) {
    def order: Int = counts.size
    def keyed: Boolean = totals.columns.headOption.contains("__k")
    def unigrams: DataFrame = counts(0)
    def bigrams: DataFrame = counts(1)
    def trigrams: DataFrame = counts(2)
    def fourgrams: DataFrame = counts(3)
    def fivegrams: DataFrame = counts(4)
    def contexts: DataFrame = contextTables(0)
    def triContexts: DataFrame = contextTables(1)
  }

  /** (stored table name, count column) of the order-k count table. */
  private val countTables = Seq(
    "unigram" -> "c1", "bigram" -> "cb", "trigram" -> "ct",
    "fourgram" -> "c4", "fivegram" -> "c5")

  /** The n-gram columns of an order-n table. */
  private def gramCols(n: Int): Seq[String] =
    if (n == 1) Seq("term") else (1 to n).map(i => s"w$i")

  /** The model-side key list: `__k` when keyed, empty otherwise. */
  private def keyCols(keyCol: Option[String]): Seq[String] =
    keyCol.map(_ => "__k").toSeq

  private def cols(names: Seq[String]): Seq[Column] = names.map(col)

  /** `df` projected to the key columns followed by `cs` — how a table
    * is re-keyed onto a shifted n-gram position. */
  private def rekey(df: DataFrame, ks: Seq[String], cs: Column*): DataFrame =
    df.select(cols(ks) ++ cs: _*)

  /** Join on `keys`, or crossJoin when there are none: with no key, a
    * corpus-level scalar table is one row. */
  private def joinOn(l: DataFrame, r: DataFrame, keys: Seq[String],
      how: String = "inner"): DataFrame =
    if (keys.isEmpty) l.crossJoin(r) else l.join(r, keys, how)

  /** The adjacent n-tuple stream (a struct w1..wn) of a token array
    * column `__a` — tupling happens inside the scan projection (a
    * per-row `transform`), so adjacency never shuffles.
    */
  private def ngrams(n: Int): Column = explode(expr(
    s"transform(slice(__a, 1, greatest(size(__a) - ${n - 1}, 0)), " +
      (("w AS w1" +: (2 to n).map(j => s"element_at(__a, i + $j) AS w$j"))
        .mkString("(w, i) -> struct(", ", ", "))"))))

  /** The order-n rows of a token frame (`carry` columns plus `__a`):
    * `carry` followed by the n-gram columns. */
  private def gramRows(toks: DataFrame, n: Int, carry: Seq[String]): DataFrame =
    if (n == 1) toks.select(cols(carry) :+ explode(col("__a")).as("term"): _*)
    else toks.select(cols(carry) :+ ngrams(n).as("__g"): _*)
      .select(cols(carry) ++ gramCols(n).map(w => col(s"__g.$w").as(w)): _*)

  /** TRAIN a reference LM of `order` (2, 3 or 5) over the `isRef`
    * slice of `docs`, one model per `keyCol` value when keyed (the key
    * joins every groupBy key, so the count tables stay
    * partial-aggregated and shuffle once each however many models
    * train). Pure partial-aggregated groupBys over the tokenized scan —
    * one shuffle per count table, nothing driver-side. Precondition:
    * the reference slice is non-empty (an empty slice trains a
    * null-total model that scores everything NULL; [[readRefLm]] fails
    * fast on it).
    */
  def refLmTrain(docs: DataFrame, textCol: String, isRef: Column,
      order: Int = 2, keyCol: Option[String] = None): RefLmModel = {
    require(Set(2, 3, 5)(order), s"reference-LM order must be 2, 3 or 5, got $order")
    val ks = keyCols(keyCol)
    val toks = docs.filter(isRef).select(
      keyCol.map(col(_).as("__k")).toSeq :+ TextAnalysis.tokens(col(textCol)).as("__a"): _*)
    withDerived((1 to order).map { n =>
      gramRows(toks, n, ks).groupBy(cols(ks ++ gramCols(n)): _*)
        .agg(count(lit(1)).as(countTables(n - 1)._2))
    }, ks)
  }

  /** The model over additive `counts`: context tables and totals
    * re-derive from them (vocab is NOT additive across overlapping
    * vocabularies, so a merge must re-derive, never add). */
  private def withDerived(counts: Seq[DataFrame], ks: Seq[String]): RefLmModel = {
    val ctx = counts(1).groupBy(cols(ks :+ "w1"): _*).agg(sum("cb").as("ctx"))
    val tctx = counts.lift(2).map(
      _.groupBy(cols(ks ++ Seq("w1", "w2")): _*).agg(sum("ct").as("ctx3")))
    val tot = counts(0).groupBy(cols(ks): _*)
      .agg(sum("c1").as("n_ref_tokens"), count(lit(1)).as("vocab"))
    RefLmModel(counts, ctx +: tctx.toSeq, tot)
  }

  /** The scorer-side key list, checked against the model: an order-n
    * scorer needs a model of order ≥ n, and a keyed model scores with a
    * `keyCol` (an unkeyed one without). */
  private def keysOf(model: RefLmModel, keyCol: Option[String], order: Int): Seq[String] = {
    require(model.order >= order,
      s"an order-$order scorer needs a reference LM of order >= $order, got ${model.order}")
    require(model.keyed == keyCol.isDefined,
      if (model.keyed) "a keyed reference LM scores with a keyCol"
      else s"an unkeyed reference LM cannot score by ${keyCol.getOrElse("")}")
    keyCols(keyCol)
  }

  /** Per-doc n-gram frequencies of the pool: (__id, [__k], w1..wn,
    * __tf). The id rides as `__id` and the key as `__k`, so an `idCol`
    * named like a model or count column (`w1`, `c5`, `tfq`) cannot make
    * any join or aggregate ambiguous; [[docMeans]] restores both names.
    */
  private def perDocGrams(pool: DataFrame, idCol: String, textCol: String,
      keyCol: Option[String], n: Int): DataFrame = {
    val carry = "__id" +: keyCols(keyCol)
    val toks = pool.select(Seq(col(idCol).as("__id")) ++
      keyCol.map(col(_).as("__k")) :+ TextAnalysis.tokens(col(textCol)).as("__a"): _*)
    gramRows(toks, n, carry).groupBy(cols(carry ++ gramCols(n)): _*)
      .agg(count(lit(1)).as("__tf"))
  }

  /** The per-doc mean log-probability from (__id, [__k], __tf, logp9)
    * rows: exact decimal `tf · logp9` sums, one double division rounded
    * to 6 (the [[unigramLogProb]] scheme). Returns
    * (idCol, [keyCol], cntCol, logprob).
    */
  private def docMeans(rows: DataFrame, idCol: String, keyCol: Option[String],
      cntCol: String): DataFrame =
    rows.groupBy(cols("__id" +: keyCols(keyCol)): _*)
      .agg(sum(col("__tf")).as(cntCol),
        // decimal(18,0) cast: see unigramLogProb — keeps the product
        // at exact scale 9 instead of a clamped decimal(38,8)
        sum(col("__tf").cast("decimal(18,0)") * col("logp9")).as("__slp"))
      .select(Seq(col("__id").as(idCol)) ++ keyCol.map(col("__k").as(_)) ++
        Seq(col(cntCol),
          round(col("__slp").cast("double") / col(cntCol), 6).as("logprob")): _*)

  /** ln(p) rounded to 9 decimals — once per distinct n-gram (order 2/3)
    * or per row (order 5); equal n-grams give bit-equal values
    * wherever they are evaluated. */
  private def logp9(p: Column): Column =
    round(log(p), 9).cast("decimal(18,9)").as("logp9")

  /** The distinct-tuple scoring shape of the order-2/3 scorers: per-doc
    * n-gram frequencies partial-agg first; `chain` joins the model once
    * per DISTINCT pool n-gram (the model tables are vocabulary-sized —
    * no broadcast hint, AQE broadcasts them when it measures small) and
    * `p` is its probability; the rounded log-probs join back to the
    * per-doc rows for [[docMeans]]. The dedup pays at low orders
    * (measured at sf0.1: 275x at order 2, 9.6x at order 3; ~1.0x at
    * order 5, which is why [[refLmKn5Score]] joins per doc instead).
    *
    * `checkpointTf` (r17 optimization round): the per-doc frame feeds
    * TWO consumers (the distinct model join and the join-back), and
    * exchange reuse does not span their separate jobs — without a
    * materialization the pool is tokenized twice per score. Batch
    * query paths opt in (tokenize once, and every downstream AQE
    * re-optimization plans over a LogicalRDD); the default stays lazy
    * for the per-micro-batch streaming gates, where an eager checkpoint
    * per batch would pin blocks for the stream's lifetime.
    */
  private def scoreDistinct(pool: DataFrame, idCol: String, textCol: String,
      keyCol: Option[String], n: Int, checkpointTf: Boolean, cntCol: String)(
      chain: DataFrame => DataFrame, p: Column): DataFrame = {
    val grams = keyCols(keyCol) ++ gramCols(n)
    val tfRaw = perDocGrams(pool, idCol, textCol, keyCol, n)
    val tf = if (checkpointTf) tfRaw.localCheckpoint() else tfRaw
    val logp = chain(tf.select(cols(grams): _*).distinct())
      .select(cols(grams) :+ logp9(p): _*)
    docMeans(tf.join(logp, grams), idCol, keyCol, cntCol)
  }

  /** The Jelinek-Mercer bigram mixture
    * `λ·c(w1 w2)/c(w1 ·) + (1−λ)·(c(w2)+1)/(N+V)` over the joined
    * `cb`/`ctx`/`c1`/totals columns — a fixed IEEE expression tree over
    * exact integer counts. */
  private def jmBigram(lamNum: Int, lamDen: Int): Column = {
    require(lamNum > 0 && lamNum < lamDen, s"need 0 < λ < 1, got $lamNum/$lamDen")
    val pC = coalesce(col("ctx"), lit(0L))
    val pU = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double")
    val nv = (col("n_ref_tokens") + col("vocab")).cast("double")
    lit(lamNum.toDouble / lamDen) * when(pC > lit(0L),
      coalesce(col("cb"), lit(0L)).cast("double") / pC.cast("double")).otherwise(lit(0.0)) +
      lit((lamDen - lamNum).toDouble / lamDen) * (pU / nv)
  }

  /** One interpolated Kneser-Ney level
    * `(max(c − D, 0) + D·T·lower) / X`, backing off entirely to `lower`
    * when the context total X is 0 (`c`, `x`, `t` name the joined
    * count, context-total and type-count columns). */
  private def knLevel(d: Double, c: String, x: String, t: String, lower: Column): Column = {
    val pX = coalesce(col(x), lit(0L))
    when(pX > lit(0L),
      (greatest(coalesce(col(c), lit(0L)).cast("double") - lit(d), lit(0.0)) +
        lit(d) * coalesce(col(t), lit(0L)).cast("double") * lower) /
        pX.cast("double")).otherwise(lower)
  }

  /** The KN bottom level `Pc(w) = (N1+(·w) + 1) / (B + V)` over the
    * joined left-neighbor count `__cu`, bigram-type total `__nbig` and
    * vocabulary — add-1 smoothed (textbook KN gives an unseen word zero
    * mass; the pool contains OOV tokens by construction, so the family
    * keeps finite mass everywhere). A keyed model whose reference had
    * no bigram joins no `__nbig` row and still bottoms out finite. */
  private def knBottom: Column =
    (coalesce(col("__cu"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(col("__nbig"), lit(0L)) + col("vocab")).cast("double")

  /** Score every pool document under the reference LM with
    * Jelinek-Mercer interpolation
    * `P(w2|w1) = λ·c(w1 w2)/c(w1 ·) + (1−λ)·(c(w2)+1)/(N+V)`
    * (λ = lamNum/lamDen; the unigram leg is add-1 smoothed over the
    * reference vocabulary, so out-of-vocabulary pool tokens still get
    * finite mass). Returns (id, [keyCol], n_bigrams, logprob = mean
    * bigram log-probability, rounded to 6) for every pool doc with ≥ 2
    * tokens. Lower logprob = higher perplexity = less reference-like.
    *
    * Keyed (`keyCol` given, keyed model): each document scores under
    * the model of ITS key value; the totals join is INNER on the key,
    * so documents whose key has no reference model are UNSCORED (absent
    * from the output) rather than scored against nothing. Scale shape
    * and determinism: [[scoreDistinct]].
    */
  def refLmScore(
      pool: DataFrame, idCol: String, textCol: String, model: RefLmModel,
      lamNum: Int = 7, lamDen: Int = 10,
      checkpointTf: Boolean = false, keyCol: Option[String] = None): DataFrame = {
    val ks = keysOf(model, keyCol, 2)
    scoreDistinct(pool, idCol, textCol, keyCol, 2, checkpointTf, "n_bigrams")(
      pairs => joinOn(pairs
        .join(model.bigrams, ks ++ Seq("w1", "w2"), "left")
        .join(model.contexts, ks :+ "w1", "left")
        .join(model.unigrams.withColumnRenamed("term", "w2"), ks :+ "w2", "left"),
        broadcast(model.totals), ks),
      jmBigram(lamNum, lamDen))
  }

  /** Score every pool document under an order-3 reference LM with the
    * Jelinek-Mercer BACKOFF CHAIN trigram→bigram→unigram
    *   P(w3|w1 w2) = λ3·c(w1w2w3)/c(w1w2·)
    *               + (1−λ3)·[ λ·c(w2w3)/c(w2·) + (1−λ)·(c(w3)+1)/(N+V) ]
    * (λ3 = lam3Num/lam3Den, then the [[refLmScore]] bigram mixture).
    * Returns (id, [keyCol], n_trigrams, logprob) for every pool doc
    * with ≥ 3 tokens; key contract, scale shape and determinism as
    * [[refLmScore]].
    */
  def refLm3Score(pool: DataFrame, idCol: String, textCol: String,
      model: RefLmModel, lam3Num: Int = 5, lam3Den: Int = 10,
      lamNum: Int = 7, lamDen: Int = 10,
      checkpointTf: Boolean = false, keyCol: Option[String] = None): DataFrame = {
    require(lam3Num > 0 && lam3Num < lam3Den,
      s"need 0 < λ3 < 1, got $lam3Num/$lam3Den")
    val ks = keysOf(model, keyCol, 3)
    val pTC = coalesce(col("ctx3"), lit(0L))
    val mix = lit(lam3Num.toDouble / lam3Den) * when(pTC > lit(0L),
      coalesce(col("ct"), lit(0L)).cast("double") / pTC.cast("double"))
      .otherwise(lit(0.0)) +
      lit((lam3Den - lam3Num).toDouble / lam3Den) * jmBigram(lamNum, lamDen)
    scoreDistinct(pool, idCol, textCol, keyCol, 3, checkpointTf, "n_trigrams")(
      triples => joinOn(triples
        .join(model.trigrams, ks ++ Seq("w1", "w2", "w3"), "left")
        .join(model.triContexts, ks ++ Seq("w1", "w2"), "left")
        // the backoff bigram of (w1,w2,w3) is (w2,w3); rename via select
        // (withColumnRenamed would collide with the existing w2/w3)
        .join(rekey(model.bigrams, ks, col("w1").as("w2"), col("w2").as("w3"), col("cb")),
          ks ++ Seq("w2", "w3"), "left")
        .join(rekey(model.contexts, ks, col("w1").as("w2"), col("ctx")), ks :+ "w2", "left")
        .join(rekey(model.unigrams, ks, col("term").as("w3"), col("c1")), ks :+ "w3", "left"),
        broadcast(model.totals), ks),
      mix)
  }

  /** Score every pool document under an order-3 reference LM with
    * INTERPOLATED KNESER-NEY smoothing (Kneser & Ney 1995; the
    * interpolated formulation of Chen & Goodman 1998, "An Empirical
    * Study of Smoothing Techniques for Language Modeling") — the
    * smoothing CCNet's actual KenLM models use. Absolute discount
    * `D = dNum/dDen` (default 3/4 — exactly representable in IEEE, so
    * the replay is bit-portable):
    *
    *   P₃(w3|w1w2) = (max(c(w1w2w3)−D, 0) + D·T3(w1w2)·P₂(w3|w2)) / C3(w1w2)
    *   P₂(w3|w2)   = (max(c'(w2w3)−D, 0) + D·T2(w2)·Pc(w3)) / C2(w2)
    *   Pc(w3)      = (N1+(·w3) + 1) / (B + V)
    *
    * each level backing off entirely when its context total is 0. The
    * LOWER orders use CONTINUATION counts (KN's defining move):
    * `c'(w2w3) = N1+(·w2w3)` = distinct w1 preceding the bigram in a
    * trigram, `C2(w2) = Σ_x c'(w2x)`, `T2(w2)` = distinct continuations
    * of w2, `T3(w1w2)` = distinct continuations of the context,
    * `N1+(·w3)` = distinct left-neighbors of w3 in the bigram table,
    * `B` = distinct bigram types, `V` = vocabulary. Every table derives
    * from the model's additive counts at score time, so the stored
    * deploy and the bit-equal merge carry over to KN unchanged.
    *
    * Keyed: the per-key totals join is INNER (unmodeled keys absent);
    * the per-key bigram-type total joins LEFT. Scale shape and
    * determinism: [[scoreDistinct]]. Returns (id, [keyCol], n_trigrams,
    * logprob) for every pool doc with ≥ 3 tokens.
    */
  def refLmKn3Score(pool: DataFrame, idCol: String, textCol: String,
      model: RefLmModel, dNum: Int = 3, dDen: Int = 4,
      checkpointTf: Boolean = false, keyCol: Option[String] = None): DataFrame = {
    require(dNum > 0 && dNum < dDen, s"need 0 < D < 1, got $dNum/$dDen")
    val ks = keysOf(model, keyCol, 3)
    val d = dNum.toDouble / dDen
    def by(df: DataFrame, g: String*) = df.groupBy(cols(ks ++ g): _*)
    // continuation tables, each one partial-aggregated groupBy over a
    // MODEL table (trigram/bigram rows are distinct per key, so
    // count(*) IS the distinct-continuation count)
    val t3 = by(model.trigrams, "w1", "w2").agg(count(lit(1)).as("__t3"))
    val cbig = by(model.trigrams, "w2", "w3").agg(count(lit(1)).as("__cc"))
    val c2 = by(cbig, "w2").agg(sum("__cc").as("__c2"), count(lit(1)).as("__t2"))
    val cu = by(model.bigrams, "w2").agg(count(lit(1)).as("__cu"))
    val btot = by(model.bigrams).agg(count(lit(1)).as("__nbig"))
    val p2 = knLevel(d, "__cc", "__c2", "__t2", knBottom)
    val p3 = knLevel(d, "ct", "ctx3", "__t3", p2)
    scoreDistinct(pool, idCol, textCol, keyCol, 3, checkpointTf, "n_trigrams")(
      triples => joinOn(joinOn(triples
        .join(model.trigrams, ks ++ Seq("w1", "w2", "w3"), "left")
        .join(model.triContexts, ks ++ Seq("w1", "w2"), "left")
        .join(t3, ks ++ Seq("w1", "w2"), "left")
        // the continuation bigram of (w1,w2,w3) is keyed (w2,w3) already
        .join(cbig, ks ++ Seq("w2", "w3"), "left")
        .join(c2, ks :+ "w2", "left")
        .join(rekey(cu, ks, col("w2").as("w3"), col("__cu")), ks :+ "w3", "left"),
        broadcast(model.totals), ks), broadcast(btot), ks, "left"),
      p3)
  }

  /** Score every pool document under 5-gram INTERPOLATED KNESER-NEY —
    * [[refLmKn3Score]] at CCNet's production depth. The TOP order uses
    * raw counts, every lower order continuation counts N1+(·w…) derived
    * from the raw table ONE order up:
    *
    *   P₅ = (max(c(w1..w5)−D,0) + D·T5·P₄) / C5   (raw 5-gram counts)
    *   P₄ = (max(N1+(·w2..w5)−D,0) + D·T4·P₃) / C4  (from 5-grams)
    *   P₃ = (max(N1+(·w3w4w5)−D,0) + D·T3·P₂) / C3  (from 4-grams)
    *   P₂ = (max(N1+(·w4w5)−D,0) + D·T2·Pc) / C2    (from trigrams)
    *   Pc = (N1+(·w5) + 1) / (B + V)                (from bigrams)
    *
    * `minCount5`/`minCount4` (default 1 = no pruning) drop raw 5-/4-
    * gram rows BELOW the threshold before any derivation — KenLM's
    * count pruning as a score-time view: every derived table
    * re-derives from the pruned table, so the pruned distribution stays
    * normalized. The stored artifact is untouched.
    *
    * Scale shape (r18 optimization round): the model-join chain runs
    * DIRECTLY over the per-doc 5-tuple rows — at order 5 the
    * distinct-tuple dedup buys nothing (measured at sf0.1: 250,704
    * per-doc rows vs 250,282 distinct 5-tuples, 1.002x), so the
    * distinct exchange, the join-back and the two-consumer tokenize
    * checkpoint of [[scoreDistinct]] would be pure overhead. Key
    * contract as [[refLmKn3Score]]. Returns (id, [keyCol], n_5grams,
    * logprob) for every pool doc with ≥ 5 tokens.
    */
  def refLmKn5Score(pool: DataFrame, idCol: String, textCol: String,
      model: RefLmModel, dNum: Int = 3, dDen: Int = 4,
      minCount5: Long = 1, minCount4: Long = 1,
      keyCol: Option[String] = None): DataFrame = {
    require(dNum > 0 && dNum < dDen, s"need 0 < D < 1, got $dNum/$dDen")
    require(minCount5 >= 1 && minCount4 >= 1,
      s"count-pruning thresholds must be >= 1, got $minCount5/$minCount4")
    val ks = keysOf(model, keyCol, 5)
    val d = dNum.toDouble / dDen
    def by(df: DataFrame, g: String*) = df.groupBy(cols(ks ++ g): _*)
    // pruned raw views — every derivation below reads these
    val five = model.fivegrams.filter(col("c5") >= lit(minCount5))
    val four = model.fourgrams.filter(col("c4") >= lit(minCount4))
    // top order: context totals + type counts over pruned 5-grams
    val ce5 = by(five, "w1", "w2", "w3", "w4")
      .agg(sum("c5").as("__c5x"), count(lit(1)).as("__t5"))
    // order 4: continuation counts from the 5-gram table
    val cc4 = by(five, "w2", "w3", "w4", "w5").agg(count(lit(1)).as("__cc4"))
    val c4 = by(cc4, "w2", "w3", "w4")
      .agg(sum("__cc4").as("__c4x"), count(lit(1)).as("__t4"))
    // order 3: continuation counts from the 4-gram table, keyed as the
    // (w3,w4,w5) trigram of the scored 5-tuple
    val cc3 = rekey(by(four, "w2", "w3", "w4").agg(count(lit(1)).as("__cc3")), ks,
      col("w2").as("w3"), col("w3").as("w4"), col("w4").as("w5"), col("__cc3"))
    val c3 = by(cc3, "w3", "w4")
      .agg(sum("__cc3").as("__c3x"), count(lit(1)).as("__t3"))
    // order 2: continuation counts from the trigram table, keyed (w4,w5)
    val cc2 = rekey(by(model.trigrams, "w2", "w3").agg(count(lit(1)).as("__cc2")), ks,
      col("w2").as("w4"), col("w3").as("w5"), col("__cc2"))
    val c2 = by(cc2, "w4").agg(sum("__cc2").as("__c2x"), count(lit(1)).as("__t2"))
    // bottom: left-neighbor counts from the bigram table + B + V
    val cu = by(model.bigrams, "w2").agg(count(lit(1)).as("__cu"))
    val btot = by(model.bigrams).agg(count(lit(1)).as("__nbig"))
    val p2 = knLevel(d, "__cc2", "__c2x", "__t2", knBottom)
    val p3 = knLevel(d, "__cc3", "__c3x", "__t3", p2)
    val p4 = knLevel(d, "__cc4", "__c4x", "__t4", p3)
    val p5 = knLevel(d, "c5", "__c5x", "__t5", p4)
    // the per-doc 5-tuple frame: the groupBy's exchange is also what
    // spreads the join chain across tasks (the raw explode runs inside
    // the scan's split count)
    val rows = joinOn(joinOn(perDocGrams(pool, idCol, textCol, keyCol, 5)
      .join(five, ks ++ gramCols(5), "left")
      .join(ce5, ks ++ Seq("w1", "w2", "w3", "w4"), "left")
      .join(cc4, ks ++ Seq("w2", "w3", "w4", "w5"), "left")
      .join(c4, ks ++ Seq("w2", "w3", "w4"), "left")
      .join(cc3, ks ++ Seq("w3", "w4", "w5"), "left")
      .join(c3, ks ++ Seq("w3", "w4"), "left")
      .join(cc2, ks ++ Seq("w4", "w5"), "left")
      .join(c2, ks :+ "w4", "left")
      .join(rekey(cu, ks, col("w2").as("w5"), col("__cu")), ks :+ "w5", "left"),
      broadcast(model.totals), ks), broadcast(btot), ks, "left")
    docMeans(rows.select(cols("__id" +: ks) ++ Seq(col("__tf"), logp9(p5)): _*),
      idCol, keyCol, "n_5grams")
  }

  /** The per-doc count column of a scored frame — `n_bigrams`,
    * `n_trigrams` or `n_5grams` by the scorer's order. */
  def countCol(scored: DataFrame): String = {
    val cs = scored.columns.filter(Set("n_bigrams", "n_trigrams", "n_5grams"))
    require(cs.length == 1,
      s"a scored frame carries exactly one n-gram count column, got [${cs.mkString(", ")}]")
    cs.head
  }

  /** CCNet's head/middle/tail perplexity buckets over a scored frame
    * (any order), by VALUE cutoffs at the exact tertile ranks: v_head
    * is the score of the rank-⌈n/3⌉ doc (ordered by logprob desc),
    * v_mid the rank-⌈2n/3⌉ score; head = logprob ≥ v_head, middle =
    * [v_mid, v_head), tail = the rest. Tied scores land in one bucket —
    * the cutoff is a value, not a row split — so the rule needs NO
    * global row-number over the corpus: the order statistics come from
    * [[cutoffsFromHist]] over the HISTOGRAM of distinct rounded scores
    * (≪ corpus-sized), and the bucketing reads the cutoffs as literals
    * (keyed: a map on the key, which a NULL key or one with no cutoffs
    * misses and drops out). Returns one row per non-empty bucket:
    * (bucket, n_docs, min_logprob, max_logprob, <count column>),
    * ordered by bucket name (head < middle < tail alphabetically).
    * With `keyCol` the cutoffs are PER KEY (CCNet's per-language
    * percentiles): one row per (keyCol, non-empty bucket).
    */
  def refLmPerplexityBuckets(scored: DataFrame,
      keyCol: Option[String] = None): DataFrame =
    refLmPerplexityBucketsCached(scored, keyCol).df

  /** CCNet's bucket rule, the one place it is written: `head` when
    * `logprob ≥ vHead`, `middle` when `logprob ≥ vMid`, else `tail`.
    * A score equal to a cutoff lands in the upper bucket. A NULL cutoff
    * compares as unknown and falls through to `tail`, which is why
    * [[readRefLmCutoffs]] rejects NULL cutoffs.
    */
  def perplexityBucket(logprob: Column, vHead: Column, vMid: Column): Column =
    when(logprob >= vHead, lit("head"))
      .when(logprob >= vMid, lit("middle"))
      .otherwise(lit("tail"))

  /** [[refLmPerplexityBuckets]] exposing the checkpointed histogram
    * handle (the [[Dedup.CachedDF]] contract), for long-lived sessions
    * to release; Verify/Bench release via their per-query `clearCache`.
    */
  def refLmPerplexityBucketsCached(scored: DataFrame,
      keyCol: Option[String] = None): Dedup.CachedDF = {
    val (ks, hist, vs) = (keyCol.toSeq, scoreHist(scored, keyCol.toSeq), ArrayType(DoubleType))
    // each key's [v_head, v_mid] as a literal; keyed, a map on the key
    val cuts = cutoffsFromHist(hist, ks).map(r => (r.toSeq.take(ks.size),
      array(lit(r.get(ks.size)), lit(r.get(ks.size + 1))).cast(vs)))
    val v = keyCol.fold(cuts.head._2)(k => if (cuts.isEmpty) lit(null).cast(vs) else map(cuts.flatMap {
      case (key, c) => Seq(lit(key.head).cast(hist.schema(k).dataType), c) }: _*)(col(k)))
    val df = hist.filter(v.isNotNull)
      .select(cols(ks) ++ Seq(perplexityBucket(col("logprob"), v(0), v(1)).as("bucket"),
        col("logprob"), col("nv"), col("snb")): _*)
      .groupBy(cols(ks :+ "bucket"): _*)
      .agg(sum("nv").as("n_docs"), min("logprob").as("min_logprob"),
        max("logprob").as("max_logprob"), sum("snb").as(countCol(scored)))
      .orderBy(cols(ks :+ "bucket"): _*)
    Dedup.CachedDF(df, Nil, Seq(() => graftbridge.unpersistCheckpointed(hist)))
  }

  /** The HISTOGRAM of a scored frame — ([keys], logprob, nv = docs at
    * that score, snb = their n-gram total), CHECKPOINTED: the cutoff
    * collects and the bucket report all read these rows, so the scoring
    * pipeline executes exactly ONCE. The histogram is bounded by the
    * 6-decimal score value space, not the corpus. A localCheckpoint,
    * not a persist: a persisted frame carries the whole scoring plan
    * into every later job's AQE re-optimization (~1.3 s of serial
    * driver gaps per LM query at sf0.1, r17); the checkpoint truncates
    * it to a LogicalRDD over the same rows.
    */
  private def scoreHist(scored: DataFrame, ks: Seq[String]): DataFrame =
    scored.groupBy(cols(ks :+ "logprob"): _*)
      .agg(count(lit(1)).as("nv"), sum(countCol(scored)).as("snb"))
      .localCheckpoint()

  /** ([keys], v_head, v_mid) from a [[scoreHist]] frame by two-pass
    * selection on the driver, in two jobs. Rows coarse-bin at
    * centi-logprob (`floor(logprob·100)` is monotone: bin order follows
    * score order, equal scores share a bin); the (key, bin, count) table,
    * ≤ keys × the centi span of the scores, comes to the driver. Per
    * key, its bin-desc prefix finds the bins of ranks `(n+2) div 3` and
    * `(2n+2) div 3` and the count ahead of each; only those bins' rows
    * follow (a 0.01-wide bin holds up to 10⁴ distinct 6-decimal scores:
    * ≤ 2·10⁴ rows per key), and a cutoff is the largest score whose
    * cumulative count reaches its rank, as in one global window. A NULL
    * score counts in n but is no cutoff (its bin sorts last); a NULL
    * key, or one with only NULL scores, has no row; unkeyed there is
    * always one row.
    */
  private def cutoffsFromHist(hist: DataFrame, ks: Seq[String]): Seq[Row] = {
    val (keyAndBin, binned) = (ks :+ "__bin", hist.withColumn("__bin", floor(col("logprob") * 100.0)))
    def keyOf(r: Row): Seq[Any] = keyAndBin.indices.map(r.get)
    // docs per (key, bin), tallied per partition and merged here: one job
    val tally = binned.select(cols(keyAndBin :+ "nv"): _*)
    val bins = tally.mapPartitions(_.foldLeft(Map.empty[Seq[Any], Long]) { (m, r) =>
        m.updated(keyOf(r), m.getOrElse(keyOf(r), 0L) + r.getLong(ks.size + 1))
      }.iterator.map { case (k, n) => Row.fromSeq(k :+ n) })(Encoders.row(tally.schema))
      .collect().groupMapReduce(keyOf)(_.getLong(ks.size + 1))(_ + _).toSeq
      .groupBy(_._1.init).filter { case (k, kb) => !k.contains(null) && kb.exists(_._1.last != null) }
    // per key and rank: (the rank's bin, the count ahead of that bin, the rank)
    val targets = bins.map { case (k, kb) =>
      val desc = kb.map { case (b, n) => (Option(b.last).map(_.asInstanceOf[Long]), n) }
        .sortBy(_._1)(Ordering.Option(Ordering.Long).reverse)  // a NULL bin last
      val ahead = desc.scanLeft(0L)(_ + _._2)
      k -> Seq((ahead.last + 2) / 3, (2 * ahead.last + 2) / 3).map { rank =>
        val i = ahead.indexWhere(_ >= rank) - 1
        (desc(i)._1, ahead(i), rank)
      }
    }
    val wanted = targets.toSeq.flatMap { case (k, ts) => ts.flatMap(_._1).map(k :+ _) }.distinct
    val edge = if (wanted.isEmpty) Map.empty[Seq[Any], Array[Row]] else
      binned.filter(struct(cols(keyAndBin): _*).isin(wanted.map(w => struct(
          keyAndBin.zip(w).map { case (c, v) => lit(v).cast(binned.schema(c).dataType).as(c) }: _*)): _*))
        .select(cols(keyAndBin ++ Seq("logprob", "nv")): _*).collect().groupBy(keyOf)
    def cutoff(k: Seq[Any], t: (Option[Long], Long, Long)): Any = t._1.fold(null: Any) { bin =>
      val rows = edge(k :+ bin).sortBy(_.getDouble(ks.size + 1))(Ordering.Double.TotalOrdering.reverse)
      rows(rows.scanLeft(t._2)(_ + _.getLong(ks.size + 2)).indexWhere(_ >= t._3) - 1).get(ks.size + 1)
    }
    if (ks.isEmpty && targets.isEmpty) Seq(Row(null, null))
    else targets.toSeq.map { case (k, ts) => Row.fromSeq(k ++ ts.map(cutoff(k, _))) }
  }

  /** The two [[refLmPerplexityBuckets]] value cutoffs of a scored frame
    * as one row (v_head, v_mid), or one row per key
    * (keyCol, v_head, v_mid) — the MEASURED numbers a streaming ingest
    * gates at ([[writeRefLmCutoffs]] persists them next to the model).
    * Measure under the scorer (and pruning config) the gate serves
    * with. A local relation: its histogram is released on return.
    */
  def refLmCutoffs(scored: DataFrame, keyCol: Option[String] = None): DataFrame = {
    val (ks, hist) = (keyCol.toSeq, scoreHist(scored, keyCol.toSeq))
    try scored.sparkSession.createDataFrame(cutoffsFromHist(hist, ks).asJava, StructType(
      ks.map(hist.schema(_)) ++ Seq("v_head", "v_mid").map(StructField(_, DoubleType))))
    finally graftbridge.unpersistCheckpointed(hist)
  }

  /** Persist a [[refLmCutoffs]] frame beside the stored LM — the
    * measured-threshold artifact of the perplexity stage (the
    * stored-gate/probe-sweep pattern): re-measure the corpus and
    * overwrite, and every streaming consumer re-tunes with no code
    * change.
    */
  def writeRefLmCutoffs(cutoffs: DataFrame, path: String): Unit =
    cutoffs.coalesce(1).write.mode("overwrite").parquet(path)

  /** Read back a [[writeRefLmCutoffs]] artifact as its
    * ([keyCol], v_head, v_mid) rows, for a gate to join on the key (or
    * cross-join, unkeyed). Fails fast, naming `path`, on an empty
    * table, a NULL cutoff, a repeated or NULL key, or (unkeyed) more
    * than one row: a repeated key would emit each of its docs once per
    * row, and a NULL `v_mid` would send every doc below `v_head` to
    * `tail` ([[perplexityBucket]]). The schema comes from the footer
    * ([[Readers.parquet]]), so the check's one collect is the read's
    * only job.
    */
  def readRefLmCutoffs(spark: SparkSession, path: String,
      keyCol: Option[String] = None): DataFrame = {
    val ks = keyCol.toSeq
    val cuts = Readers.parquet(spark, path).select(cols(ks ++ Seq("v_head", "v_mid")): _*)
    val rows = cuts.collect()
    val keys = rows.map(r => ks.indices.map(r.get))
    def fail(why: String) = s"reference-LM cutoff artifact at $path $why"
    require(rows.nonEmpty, fail("is empty"))
    require(rows.forall(r => !r.isNullAt(ks.size) && !r.isNullAt(ks.size + 1)),
      fail("has a NULL v_head or v_mid"))
    require(keys.distinct.length == rows.length && !keys.exists(_.contains(null)),
      fail(keyCol.fold("has more than one row")(k => s"has a repeated or NULL $k")))
    cuts
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

  /** Persist a [[RefLmModel]] as parquet tables under `path` — the
    * stored-artifact deploy pattern (the IVF centroid-table /
    * stored-gate shape applied to the reference LM): the scoring fleet
    * reads counts, never retrains. Order 2 writes `unigram`, `bigram`,
    * `ctx` and `totals`; order 3 adds `trigram` and `tctx`; order 5
    * adds `fourgram` and `fivegram`. The independent writes overlap
    * through [[writeTablesParallel]] (safe since round 16 — see its
    * scaladoc for the ConvertToLocalRelation race this used to be).
    */
  def writeRefLm(model: RefLmModel, path: String): Unit =
    writeTablesParallel((countTables.map(_._1).zip(model.counts) ++
      Seq("ctx", "tctx").zip(model.contextTables) :+ ("totals" -> model.totals))
      .map { case (name, df) => (df, s"$path/$name", name == "totals") })

  /** Read back a [[writeRefLm]] artifact of any order and key shape:
    * the stored order is the run of count tables present, and only
    * those tables (plus the contexts they need) are read, each schema
    * from its footer ([[Readers.parquet]]). Fails fast on a totals table
    * that signals an empty or partially-written model, which would
    * otherwise score every document NULL: unkeyed, exactly one non-null
    * row with a positive token count; keyed, a non-empty table.
    */
  def readRefLm(spark: SparkSession, path: String): RefLmModel = {
    val tot = Readers.parquet(spark, s"$path/totals")
    if (tot.columns.headOption.contains("__k"))
      require(!tot.isEmpty,
        s"keyed reference-LM artifact at $path has an empty totals table")
    else {
      val rows = tot.collect()
      require(rows.length == 1 && !rows(0).isNullAt(0) && rows(0).getLong(0) > 0,
        s"reference-LM artifact at $path has an empty or invalid totals table")
    }
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(name: String) = Readers.parquet(spark, s"$path/$name")
    val counts = countTables.map(_._1)
      .takeWhile(name => fs.exists(new org.apache.hadoop.fs.Path(dir, name)))
      .map(read)
    RefLmModel(counts, Seq("ctx", "tctx").take(counts.size - 1).map(read), tot)
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
    * in place and release the merged frames — the incremental-update
    * leg of the LM lifecycle, at the stored model's order and key shape
    * ([[mergeIntoStoredRefLmReturning]]). Returns true iff a merge was
    * applied (false = `batchId` already logged, a replay no-op).
    */
  def mergeIntoStoredRefLm(spark: SparkSession, path: String,
      delta: DataFrame, textCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None,
      keyCol: Option[String] = None): Boolean =
    mergeIntoStoredRefLmReturning(spark, path, delta, textCol,
        isRef, batchId, keyCol) match {
      case Some(m) => m.unpersist(); true
      case None => false
    }

  /** Merge a NEW reference slice into a stored [[writeRefLm]] artifact
    * in place and hand back the merged model AS the persisted frames
    * the staged write materialized, so the caller can score at once
    * without re-reading the tables (and without the totals-collect
    * barrier of [[readRefLm]]). `None` iff `batchId` was already
    * applied.
    *
    * Counts are additive at every order and per key, so the merged
    * model is EXACTLY the model a from-scratch retrain on the union
    * would produce (RefLmSpec, RefLm3Spec, RefLmKn5Spec and
    * KeyedRefLmMergeSpec assert the bit-for-bit equality), at the cost
    * of one delta-sized training pass at the stored order plus one
    * model-sized union-aggregate per count table — never a re-read of
    * the historical corpus. Contexts and totals re-derive from the
    * merged counts. A keyed model merges a delta of any key mix in ONE
    * pass (`keyCol` names the delta's key; new keys appear, untouched
    * keys keep their counts) — retraining a hundred languages because
    * one grew is the anti-pattern this closes.
    *
    * Replay idempotence: pass `batchId` and the merge keeps an
    * applied-batch log INSIDE the model directory (`applied` table) —
    * a batch id already in the log is a no-op, and the log stages and
    * swaps WITH the count tables, so the model and its log can never
    * disagree after a crash: either both absorbed the batch or neither
    * did. This is what makes
    * [[graft.streaming.StreamingPerplexity.ingestReference]] safe under
    * micro-batch replay.
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
  def mergeIntoStoredRefLmReturning(spark: SparkSession, path: String,
      delta: DataFrame, textCol: String,
      isRef: Column = lit(true), batchId: Option[Long] = None,
      keyCol: Option[String] = None): Option[MergedRefLm] = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStranded(fs, live)
    val prevApplied = readApplied(spark, fs, live)
    if (isApplied(prevApplied, batchId)) return None
    val stored = readRefLm(spark, path)
    require(stored.keyed == keyCol.isDefined,
      s"the model at $path is ${if (stored.keyed) "" else "un"}keyed: " +
        "merge with a keyCol exactly when it is keyed")
    val ks = keyCols(keyCol)
    val d = refLmTrain(delta, textCol, isRef, stored.order, keyCol)
    // every merged count table persists: each feeds its own staged
    // write plus a derived one (unigram → totals, bigram → ctx,
    // trigram → tctx), and without the pin every write re-runs the
    // delta tokenization
    val counts = stored.counts.zip(d.counts).zipWithIndex.map { case ((s, t), i) =>
      val c = countTables(i)._2
      s.unionByName(t).groupBy(cols(ks ++ gramCols(i + 1)): _*).agg(sum(c).as(c))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val merged = withDerived(counts, ks)
    val staged = new Path(live.getParent, live.getName + "__merging")
    if (fs.exists(staged)) fs.delete(staged, true)
    try {
      writeRefLm(merged, staged.toString)
      writeApplied(spark, staged, prevApplied, batchId)
      stagedSwap(fs, live, staged)
    } catch {
      case e: Throwable => counts.foreach(_.unpersist(false)); throw e
    }
    Some(MergedRefLm(merged, counts))
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
    if (fs.exists(p)) Some(Readers.parquet(spark, p.toString)) else None
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

  /** DuckDB SQL twin of keyed [[refLmTrain]] → [[refLmScore]] →
    * [[refLmPerplexityBuckets]] over `keyCol` (surfaced under its
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

  /** DuckDB SQL equivalent of order-3 [[refLmTrain]] → [[refLm3Score]] →
    * [[refLmPerplexityBuckets]] — the shared oracle of the inline
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

  /** DuckDB SQL twin of order-3 [[refLmTrain]] → [[refLmKn3Score]] →
    * [[refLmPerplexityBuckets]] — the interpolated Kneser-Ney chain
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

  /** DuckDB SQL twin of order-5 [[refLmTrain]] → [[refLmKn5Score]] →
    * [[refLmPerplexityBuckets]]: the full 5-gram interpolated-KN
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

  /** DuckDB SQL twin of keyed order-3 [[refLmTrain]] → [[refLm3Score]] →
    * [[refLmPerplexityBuckets]]: the keyed-bucket chain at
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

  /** DuckDB SQL twin of keyed order-3 [[refLmTrain]] → [[refLmKn3Score]] →
    * [[refLmPerplexityBuckets]]: the keyed-bucket chain under
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

  /** DuckDB SQL twin of keyed order-5 [[refLmTrain]] → [[refLmKn5Score]]
    * → [[refLmPerplexityBuckets]]: the 5-gram interpolated-KN
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
