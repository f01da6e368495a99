package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DocPipeline

/** The composed curation pipeline (q134): quality gate → exact dedup →
  * near-dup clusters → representatives → decontamination → leakage-safe
  * split → shard manifest, with shared intermediates.
  */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("funnel drops short, exact-dup, near-dup, and contaminated docs") {
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, good),                                  // survives
      (11L, "too short"),                           // quality gate (2 tokens)
      (12L, good),                                  // exact dup of 10 -> dropped
      (13L, good + " lambda"),                      // near-dup of 10 -> same cluster
      (14L, "the quick brown fox jumps over the lazy dog today"), // eval copy
      (15L, "completely different words about trains planes and automobiles entirely")
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")

    val cached = DocPipeline.curateCached(
      corpus, evalDocs, "doc_id", "text", nShards = 2)
    try {
      val rows = cached.df.collect()
      val total = rows.map(_.getLong(2)).sum
      // survivors: one rep of cluster {10,12(exact-dropped),13} and 15;
      // 11 fails quality, 14 is contaminated
      assert(total == 2, rows.mkString("; "))
      val firstDocs = rows.map(_.getLong(4)).toSet
      assert(!firstDocs.contains(11L) && !firstDocs.contains(14L))
      // the cluster rep is 13 (11 tokens beats 10's ten)
      assert(firstDocs.subsetOf(Set(13L, 15L)), rows.mkString("; "))
      // schema contract for the oracle compare
      assert(cached.df.columns.toSeq ==
        Seq("split", "shard", "n_docs", "n_tokens", "first_doc"))
    } finally cached.unpersist()
  }

  test("strictShingles drops sub-width docs from the decon join") {
    // corpus doc 20 is TWO tokens; with minTokens=1 it survives the
    // quality gate and under the default (non-strict) convention its
    // whole-text shingle equals eval doc 1's whole-text shingle ->
    // contaminated. Strict mode refuses the whole-text pun: a 2-token
    // doc contributes no 3-gram shingles on either side, so 20
    // survives.
    val corpus = Seq(
      (20L, "secret benchmark"),
      (21L, "completely unrelated words about trains planes and automobiles"))
      .toDF("doc_id", "text")
    val evalDocs = Seq((1L, "secret benchmark")).toDF("doc_id", "text")
    val cfg = DocPipeline.Config(minTokens = 1)

    def survivors(strict: Boolean): Set[Long] = {
      val cached = DocPipeline.curateCached(
        corpus, evalDocs, "doc_id", "text", cfg, nShards = 1,
        strictShingles = strict)
      try cached.df.collect().map(_.getLong(4)).toSet
      finally cached.unpersist()
    }
    assert(survivors(strict = false) == Set(21L),
      "non-strict: whole-text shingle match flags doc 20")
    assert(survivors(strict = true) == Set(20L, 21L),
      "strict: sub-width docs contribute no shingles, 20 survives")

    // with minTokens >= shingle width the two conventions agree on
    // every surviving corpus doc (the persisted-table reuse proof):
    // an eval doc of >= 3 tokens contaminates identically either way
    val corpus2 = Seq(
      (30L, "the quick brown fox jumps over the lazy dog today"),
      (31L, "other content entirely about different things and matters"))
      .toDF("doc_id", "text")
    val eval2 = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    def survivors2(strict: Boolean): Set[Long] = {
      val cached = DocPipeline.curateCached(
        corpus2, eval2, "doc_id", "text", nShards = 1,
        strictShingles = strict)
      try cached.df.collect().map(_.getLong(4)).toSet
      finally cached.unpersist()
    }
    assert(survivors2(strict = false) == survivors2(strict = true))
    assert(survivors2(strict = true) == Set(31L))
  }

  test("curateIncrement: decision cascade + committed replay admits nothing twice") {
    val base = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "uno dos tres cuatro cinco seis siete ocho nueve")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),   // exact_dup_base
      (21L, "novel document covering seven distinct unrelated topics entirely"), // kept
      (22L, "novel document covering seven distinct unrelated topics entirely"), // exact_dup_batch
      (23L, "xx"),                                              // quality
      (24L, "the quick brown fox jumps over the lazy dog today")) // contaminated
      .toDF("doc_id", "text")
    val evals = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")

    val state1 = DocPipeline.curateState(base, "doc_id", "text")
    def run(state: org.apache.spark.sql.DataFrame): Map[Long, String] =
      DocPipeline.curateIncrement(state, batch, evals, "doc_id", "text",
          maxHamming = 0)
        .select("doc_id", "decision").as[(Long, String)].collect().toMap

    val dec1 = run(state1)
    assert(dec1 == Map(
      20L -> "exact_dup_base", 21L -> "kept", 22L -> "exact_dup_batch",
      23L -> "quality", 24L -> "contaminated"), dec1.toString)

    // deterministic: same state + same batch -> same decisions
    assert(run(state1) == dec1)

    // commit the kept docs' state rows (what a real ingest appends),
    // then REPLAY the same batch: nothing is admitted twice — the
    // previously-kept doc now exact-dups the state
    val keptIds = dec1.collect { case (id, "kept") => id }.toSet
    val keptDocs = batch.filter(col("doc_id").isin(keptIds.toSeq: _*))
    val state2 = state1.unionByName(
      DocPipeline.curateState(keptDocs, "doc_id", "text"))
    val dec2 = run(state2)
    assert(!dec2.values.exists(_ == "kept"), dec2.toString)
    assert(dec2(21L) == "exact_dup_base")
    assert(dec2(22L) == "exact_dup_base", "its twin's fingerprint is now state")
    assert(dec2(23L) == "quality" && dec2(24L) == "contaminated",
      "non-admitted labels are stable under replay")

    // the legacy 16-bit fingerprint path (state + batch at
    // sigChars = 16; the default is 64) reaches the same decisions on
    // this fixture — near-dup detection plays no role here, so only
    // the width plumbing is under test
    val state16 = DocPipeline.curateState(base, "doc_id", "text", sigChars = 16)
    val dec16 = DocPipeline.curateIncrement(state16, batch, evals,
        "doc_id", "text", maxHamming = 0, sigChars = 16)
      .select("doc_id", "decision").as[(Long, String)].collect().toMap
    assert(dec16 == dec1, dec16.toString)

    // width guard: judging a batch under the 64-bit default against a
    // 16-char legacy state must FAIL LOUDLY — a silent width mismatch
    // would NULL every Hamming distance and admit every near-dup
    val err = intercept[IllegalArgumentException] {
      DocPipeline.curateIncrement(state16, batch, evals,
        "doc_id", "text", maxHamming = 0)
        .collect()
    }
    assert(err.getMessage.contains("simhash width"), err.getMessage)
  }

  test("near-dups never straddle a split (leakage-safe by cluster)") {
    // 40 pairs of near-identical docs with disjoint per-pair
    // vocabularies; every pair must land in ONE split
    def words(i: Long) = (0 until 12).map(j => s"g${i}w$j").mkString(" ")
    val docs = (0L until 40L).flatMap { i =>
      Seq((100 + 2 * i, words(i)), (101 + 2 * i, words(i) + s" extra$i"))
    }.toDF("doc_id", "text")
    val evalDocs = Seq((1L, "zzz yyy xxx www vvv uuu")).toDF("doc_id", "text")
    val cached = DocPipeline.curateCached(docs, evalDocs, "doc_id", "text")
    try {
      // reps collapse each pair to one doc; totals must count 40 docs
      assert(cached.df.agg(sum("n_docs")).as[Long].head() == 40L)
    } finally cached.unpersist()
  }

  test("curateFromArtifacts equals curate, with and without the model gate") {
    import graft.operators.QualityClassifier
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, good),
      (12L, good),                      // exact dup of 10
      (13L, good + " lambda"),          // near-dup of 10
      (14L, "the quick brown fox jumps over the lazy dog today"), // contaminated
      (15L, "completely different words about trains planes and automobiles entirely"),
      (16L, "junk junk junk spam words that the model gate rejects entirely today"))
      .toDF("doc_id", "text")
    val evalDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("curate-art").toString
    val art = DocPipeline.writeCurationArtifacts(corpus, "doc_id", "text", dir)
    // negative weight on "junk", positive bias: doc 16 scores below
    // the gate, every other doc above it
    val model = QualityClassifier.LinearModel(
      Seq("junk" -> -1000000L), biasMilli = 100L, threshold = 0.0)
    val manifests = Seq(
      DocPipeline.Config(), DocPipeline.Config(model = Some(model))).map { cfg =>
      val direct = DocPipeline.curate(
          corpus, evalDocs, "doc_id", "text", cfg, nShards = 2)
        .collect().map(_.toSeq).toSeq
      val viaArt = DocPipeline.curateFromArtifacts(
          art, evalDocs, "doc_id", "text", cfg, nShards = 2)
        .collect().map(_.toSeq).toSeq
      assert(viaArt == direct, s"artifact path diverged for cfg $cfg")
      direct
    }
    // the gate actually bites — the two manifests must differ
    assert(manifests(0) != manifests(1), "model gate changed nothing")
  }

  test("semantic stage drops exactly standalone semDeDup's losers; unembedded reps survive") {
    import graft.operators.Similarity
    // 5 distinct docs so quality/exact/near-dup stages pass everything
    // through (jaccardThreshold > 1 disables near-dup pairs): the reps
    // set IS the corpus, and the composed stage must agree with
    // standalone semDeDup over the same embeddings — the q197-vs-q193
    // equivalence the oracle checks at suite scale
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine"),
      (12L, "red orange yellow green blue indigo violet colors"),
      (13L, "north south east west compass points direction words"),
      (14L, "doc with no embedding row at all survives stage"))
      .toDF("doc_id", "text")
    val evalDocs = corpus.filter(lit(false))
    val cents = Seq(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    val embeddings = Seq(
      (10L, Seq(1.0, 0.0)),  // cell 0, smallest -> keep
      (11L, Seq(2.0, 0.0)),  // cell 0, cos 1.0 to 10 -> drop
      (12L, Seq(0.0, 1.0)),  // cell 1, smallest -> keep
      (13L, Seq(-1.0, 1.0))  // cell 1, cos .707 < tau -> keep
      // 14 has NO embedding -> kept by contract
    ).toDF("vec_id", "embedding")
    val cfg = DocPipeline.Config(minTokens = 1, jaccardThreshold = 1.01)
    val st = DocPipeline.SemanticStage(
      embeddings, "vec_id", "embedding", cents, threshold = 0.95)
    val manifest = DocPipeline.curate(
      corpus, evalDocs, "doc_id", "text", cfg, nShards = 1, semantic = Some(st))
    val rows = manifest.collect()
    val nDocs = rows.map(_.getLong(2)).sum
    // standalone semDeDup says drop 11 only; 14 (unembedded) survives
    val standaloneDrops = Similarity.semDeDup(
        embeddings, "vec_id", "embedding", cents, 0.95)
      .filter(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(standaloneDrops == Set(11L))
    assert(nDocs == 4, rows.mkString("; "))
    // without the stage, all 5 survive — the stage is what bit
    val baseline = DocPipeline.curate(
        corpus, evalDocs, "doc_id", "text", cfg, nShards = 1)
      .collect().map(_.getLong(2)).sum
    assert(baseline == 5)
  }

  test("semantic stage cell guard: a planted hot cell fails fast inside the pipeline") {
    // all four embedded reps land in ONE cell of a skewed index: 6
    // within-cell pairs > cap 5 must abort the pipeline with the named
    // hot-cell error BEFORE any pairwise work — a user configuring the
    // cap cannot silently melt the rep slice on a skewed stored index
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine"),
      (12L, "red orange yellow green blue indigo violet colors"),
      (13L, "north south east west compass points direction words"))
      .toDF("doc_id", "text")
    val evalDocs = corpus.filter(lit(false))
    val skewed = Seq(0L -> Array(1.0, 0.0), 1L -> Array(-1.0, 0.0))
    val embeddings = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(2.0, 0.1)),
      (12L, Seq(3.0, -0.1)), (13L, Seq(1.0, 0.2))
    ).toDF("vec_id", "embedding")
    val cfg = DocPipeline.Config(minTokens = 1, jaccardThreshold = 1.01)
    val st = DocPipeline.SemanticStage(
      embeddings, "vec_id", "embedding", skewed, threshold = 0.95,
      maxCellPairs = Some(5L))
    val e = intercept[IllegalStateException] {
      DocPipeline.curate(
        corpus, evalDocs, "doc_id", "text", cfg, nShards = 1,
        semantic = Some(st)).collect()
    }
    assert(e.getMessage.contains("hot cell") &&
      e.getMessage.contains("ivfSplitHotCells"), e.getMessage)
    // at the exact cap (6 pairs <= 6) the same pipeline passes
    DocPipeline.curate(
      corpus, evalDocs, "doc_id", "text", cfg, nShards = 1,
      semantic = Some(st.copy(maxCellPairs = Some(6L)))).collect()
  }

  test("stored-index stage: a committed centroid swap re-tunes the pipeline with no code change") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col => fcol}
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine"),
      (12L, "red orange yellow green blue indigo violet colors"),
      (13L, "north south east west compass points direction words"))
      .toDF("doc_id", "text")
    val evalDocs = corpus.filter(lit(false))
    // unit vectors (assignment is max-cosine): cos(10,11) = cos(12,13)
    // = 0.96 exactly — both pairs are within the 0.95 threshold when
    // they share a cell
    val embeddings = Seq(
      (10L, Seq(1.0, 0.0)),    // axis x
      (11L, Seq(0.96, 0.28)),  // 16 degrees off x
      (12L, Seq(0.0, 1.0)),    // axis y
      (13L, Seq(0.28, 0.96))   // 16 degrees off y
    ).toDF("vec_id", "embedding")
    val cfg = DocPipeline.Config(minTokens = 1, jaccardThreshold = 1.01)
    val dir = java.nio.file.Files.createTempDirectory("curate-idx").toString
    // v1 index: one cell per axis — both near-parallel pairs collide
    // (11 drops against 10, 13 against 12; keep-lowest-id)
    val v1 = Seq(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    Similarity.ivfWriteIndex(spark, dir, v1,
      embeddings.select(fcol("vec_id").as("nbr"), (fcol("vec_id") % 2).as("cell")))
    def run() = DocPipeline.curate(
        corpus, evalDocs, "doc_id", "text", cfg, nShards = 1,
        semantic = Some(DocPipeline.SemanticStage.fromStoredIndex(
          spark, dir, embeddings, "vec_id", "embedding", threshold = 0.95)))
      .collect().map(_.getLong(2)).sum
    assert(run() == 2, "v1 index: 11 and 13 dedup away")
    // a committed rebalance swaps the stored centroid table (the
    // ivfCommitSplit commit point): cell 2 now sits exactly on 11's
    // direction, so 11 assigns to its own cell (cos 1.0 beats 0.96 at
    // cell 0) and no longer collides with 10; 13 still shares the y
    // cell with 12 (cos(13, cell2) = 0.5376 < 0.96) and still drops.
    // The SAME pipeline config re-reads the stored table and re-tunes
    val v2 = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0),
      2L -> Array(0.96, 0.28))
    Similarity.ivfWriteIndex(spark, dir, v2,
      embeddings.select(fcol("vec_id").as("nbr"), (fcol("vec_id") % 3).as("cell")))
    val after = run()
    assert(after == 3, s"swap did not re-tune the pipeline (got $after)")
    // equivalence with the explicit-cents construction — the stored
    // read adds nothing beyond the centroid source
    val explicit = DocPipeline.curate(
        corpus, evalDocs, "doc_id", "text", cfg, nShards = 1,
        semantic = Some(DocPipeline.SemanticStage(
          embeddings, "vec_id", "embedding",
          Similarity.ivfReadCentroids(spark, dir), threshold = 0.95)))
      .collect().map(_.getLong(2)).sum
    assert(explicit == after)
  }

  test("cleanFromArtifacts equals clean when the consumer tightens the bounds") {
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, good),
      (12L, good),             // exact dup of 10
      (13L, good + " lambda"), // near-dup of 10
      (14L, "short doc here"), // 3 tokens: survives write gate, fails minTokens=5
      (15L, "completely different words about trains planes and automobiles entirely"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("clean-art").toString
    // written ungated; the consumer owns the minTokens=5 bound
    val art = DocPipeline.writeCurationArtifacts(corpus, "doc_id", "text", dir)
    val cfg = DocPipeline.Config(minTokens = 5)
    val direct = DocPipeline.clean(corpus, "doc_id", "text", cfg)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaArt = DocPipeline.cleanFromArtifacts(art, "doc_id", "text", cfg)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaArt == direct)
    assert(direct.map(_.head) == Seq(10L, 15L), direct.toString)
  }

  test("stored sweep artifact drives the hashed gate: re-measuring re-gates with no code change") {
    import graft.operators.QualityClassifier
    // all-equal weights make the bucket irrelevant:
    // score_micro = (6 + dl)·1000 / dl — 7000 at dl=1, 4000 at dl=2,
    // 2000 at dl=6 (the TrainClassifierSpec sweep fixture)
    val m = QualityClassifier.TrainedHashedModel(Seq.fill(8)(1L), biasMilli = 6L)
    val corpus = Seq(
      (1L, "a"), (2L, "b c"), (3L, "d e f g h i")).toDF("doc_id", "text")
    val labeled = Seq(
      (11L, "a", true), (12L, "a b", true),
      (13L, "a b c", false), (14L, "a b c d e f", false))
      .toDF("doc_id", "text", "is_good")
    val base = java.nio.file.Files.createTempDirectory("curate-gate-art")
    val (modelPath, path) =
      (base.resolve("model").toString, base.resolve("sweep").toString)
    QualityClassifier.writeHashedModel(spark, m, modelPath)
    // the pipeline build: model AND gate are read from the stored
    // artifacts at config time — nothing in here changes between
    // measurements, and nothing retrains
    def keptDocs(): Seq[Long] = {
      val gate = DocPipeline.HashedModelGate.fromStoredArtifacts(
        spark, modelPath, path, "spec:")
      DocPipeline.clean(corpus, "doc_id", "text",
          DocPipeline.Config(minTokens = 1, hashedGate = Some(gate)))
        .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val sweep = QualityClassifier.gateThresholdSweepMicro(
      labeled, "doc_id", "text", col("is_good"), m, "spec:", nCandidates = 4)
    QualityClassifier.writeGateSelection(sweep, path)
    // the measured gate (3250): dl <= 2 survives
    assert(keptDocs() == Seq(1L, 2L))
    // a re-measured sweep whose F1 peak moved to cand 3 (gate 5750):
    // the SAME pipeline build now keeps only the dl=1 doc
    QualityClassifier.writeGateSelection(sweep.withColumn("f1_ppm",
      when(col("cand") === 3L, lit(2000000L)).otherwise(col("f1_ppm"))), path)
    assert(keptDocs() == Seq(1L),
      "overwriting the stored sweep must re-gate the pipeline with no code change")
  }

  test("perplexity stage drops exactly the stored-cutoff tail; unmodeled/unmeasured/unscorable survive") {
    import graft.operators.Ranking
    // reference slice defines L1 and L3 models (L2 stays unmodeled)
    val ref = Seq(
      (1L, "a b c a b c a b c", "L1"),
      (2L, "a b c d", "L1"),
      (3L, "x y z x y z", "L3")).toDF("doc_id", "text", "lang")
    // curation corpus: distinct docs so every stage up to the gate
    // passes everything through (reps == corpus)
    val corpus = Seq(
      (10L, "a b c a b c", "L1"),
      (11L, "a b c d a b", "L1"),
      (12L, "q q q q q", "L1"),      // far off-model -> expect tail
      (13L, "b a c b a c", "L1"),
      (14L, "q r", "L1"),            // < 3 tokens: unscorable, KEPT
      (15L, "hello world again", "L2"),  // unmodeled lang, KEPT
      (16L, "x y z w", "L3"))        // model but no cutoff row, KEPT
      .toDF("doc_id", "text", "lang")
    val m = Ranking.refLmTrain(
      ref, "text", lit(true), 3, Some("lang"))
    val scored = Ranking.refLmKnScore(
      corpus, "doc_id", "text", m, 3, keyCol = Some("lang"))
    // stored cutoffs measured under the KN scorer (the q201
    // discipline), with L3's row withheld — a half-deployed fleet
    val cuts = Ranking.refLmCutoffs(scored, Some("lang"))
      .filter(col("lang") =!= "L3")
    val expectedTail = scored.join(cuts, "lang")
      .filter(col("logprob") < col("v_mid"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expectedTail.contains(12L) && !expectedTail.contains(16L),
      expectedTail.toString)
    val cfg = DocPipeline.Config(minTokens = 1, jaccardThreshold = 1.01)
    val manifest = DocPipeline.curate(
      corpus, corpus.filter(lit(false)), "doc_id", "text", cfg, nShards = 1,
      perplexity = Some(DocPipeline.PerplexityStage(m, cuts, "lang")))
    val nDocs = manifest.collect().map(_.getLong(2)).sum
    assert(nDocs == 7 - expectedTail.size,
      s"expected tail $expectedTail dropped, got $nDocs survivors")
    // without the stage every doc survives — the gate is what bit
    val baseline = DocPipeline.curate(
        corpus, corpus.filter(lit(false)), "doc_id", "text", cfg, nShards = 1)
      .collect().map(_.getLong(2)).sum
    assert(baseline == 7)
  }
}
