package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke checks of the driver contract; the real correctness gate is
  * the DuckDB oracle (tools/check.py) over every query.
  */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle and runs non-empty at sf0.001") {
    val qs = SparkEntry.queries
    val missing = qs.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows at sf0.001")
    }
  }

  test("stored-artifact deploys trip on a mutated corpus (q179/q180/q190 freshness gates)") {
    import org.apache.spark.sql.functions._
    // private writable copy of the corpus: the deploy queries build
    // their stored artifacts (and stamps) against it, then the corpus
    // mutates underneath the memoized artifacts — every stamped deploy
    // path must refuse to serve
    val dir = java.nio.file.Files.createTempDirectory("entry-stale").toString
    val src = new java.io.File(sf)
    src.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(dir, f.getName))
    }
    def fresh(name: String) = SparkEntry.queries(name)(spark, dir).count()
    def stampFresh() = SparkEntry.queries("q184_corpus_stamp")(spark, dir)
      .select("fresh").collect().map(_.getBoolean(0)).toSeq
    val stamped = Seq("q179_stored_gate", "q180_stored_probe", "q183_stored_reflm",
      "q189_stored_reflm_by_lang", "q190_reflm_increment", "q192_stored_reflm3",
      "q196_stored_reflm3_by_lang", "q198_kn3_buckets", "q199_keyed_reflm3_increment",
      "q200_kn3_by_lang", "q201_stored_kn3_gate", "q202_kn5_buckets", "q203_kn5_by_lang",
      "q204_curate_perplexity", "q205_stored_kn5_gate", "q207_unigram_encode")
    stamped.foreach(name => assert(fresh(name) > 0, name))
    assert(stampFresh() == Seq(true))
    // mutate both source tables the artifacts measure (drop one row)
    Seq("documents", "embeddings").foreach { t =>
      val idCol = if (t == "documents") "doc_id" else "vec_id"
      val rows = spark.read.parquet(s"$dir/$t.parquet")
        .filter(col(idCol) =!= 0).collect()
      val schema = spark.read.parquet(s"$dir/$t.parquet").schema
      val mutated = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
      val tmp = s"$dir/__mut_$t"
      mutated.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the replacement happened outside Spark's writers, so the
      // shared FileStatusCache must be told the listing changed
      spark.catalog.refreshByPath(s"$dir/$t.parquet")
    }
    stamped.foreach { name =>
      val e = intercept[IllegalArgumentException] { fresh(name) }
      assert(e.getMessage.contains("stale artifact stamp"),
        s"$name must fail the freshness assert, got: ${e.getMessage}")
    }
    // the stamp report serves no artifact: it reports the staleness
    assert(stampFresh() == Seq(false))
  }

  test("stored builds once per (dir, name): a second call runs no job and keeps one stamp") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("entry-stored").toString
    Files.copy(java.nio.file.Paths.get(sf, "documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    var builds = 0
    def build() = SparkEntry.stored(spark, dir, "spec-memo") { base =>
      builds += 1
      Files.writeString(base.resolve("x.txt"), "x")
    }
    val first = build()
    var second: SparkEntry.Stored = null
    val jobs = JobCount.inGroup(spark, "entry-stored-memo") { second = build() }
    assert(second.base == first.base && builds == 1)
    assert(jobs == 0, s"the memoized call ran $jobs jobs")
    import scala.jdk.CollectionConverters._
    val stamps = Files.walk(first.base).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString == "stamp").toSeq
    assert(stamps == Seq(first.base.resolve("stamp")), stamps)
    assert(spark.read.parquet(first.stamp).count() == 1)
  }

  test("localFrame memo guard: an over-cap artifact fails fast instead of OOMing the driver") {
    val big = spark.range(11).toDF("id")
    val e = intercept[IllegalStateException] {
      SparkEntry.localFrame(big, maxRows = 10)
    }
    assert(e.getMessage.contains("driver memo cap"))
    // at or under the cap the probe IS the full artifact
    val ok = SparkEntry.localFrame(spark.range(10).toDF("id"), maxRows = 10)
    assert(ok.rows.size == 10)
  }

  test("every memo-consuming query sorts before output (LocalFrame row order is unspecified)") {
    // localFrame collects through a limit(cap+1) probe, and
    // CollectLimit may return rows in ANY order — a consumer that
    // skips its own total ORDER BY would emit memo-order-dependent
    // output. Assert each memo-consuming query's plan carries a
    // global Sort at (or directly under a projection at) the root.
    val memoConsumers = Seq(
      "q152_ensemble_neardup", "q155_ensemble_recall", // ensemblePairs
      "q23_jaccard_neardup", "q100_minhash_err", "q63_dup_clusters",
      "q121_cluster_keep", "q126_leakage_split", // nearDupShared
      "q138_simhash64_ingest", "q156_image_neardup", "q163_audio_neardup",
      "q164_video_neardup", "q166_crossmodal_dedup", // modalSigsMemo
      "q173_cell_rebalance") // q173's post-release local report
    import org.apache.spark.sql.catalyst.plans.logical._
    // descend ONLY through order-preserving wrappers — a Sort buried
    // under an aggregation or join does not order the output
    def rootSort(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case Project(_, child) => rootSort(child)
      case SubqueryAlias(_, child) => rootSort(child)
      case GlobalLimit(_, child) => rootSort(child)
      case LocalLimit(_, child) => rootSort(child)
      case _ => false
    }
    memoConsumers.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      assert(rootSort(df.queryExecution.analyzed),
        s"$name must end in a global ORDER BY — its memo's row order is unspecified")
    }
  }

  test("temp artifact dirs register for shutdown deletion; per-dir delete is recursive") {
    import java.nio.file.Files
    val d = SparkEntry.tempArtifactDir("spec-temp-art")
    Files.writeString(d.resolve("x.txt"), "x")
    val sub = Files.createDirectory(d.resolve("sub"))
    Files.writeString(sub.resolve("y.txt"), "y")
    // the shutdown hook's per-directory body — exercised on this
    // test's OWN dir only (the all-dirs sweep would tear the live
    // memos' stored artifacts out from under the suite)
    SparkEntry.deleteTempArtifact(d)
    assert(!Files.exists(d), "temp artifact tree must delete recursively")
    // idempotent on an already-deleted dir (hook may race a manual clean)
    SparkEntry.deleteTempArtifact(d)
  }
}
