package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc perf probe: run a named query twice (cold/warm) and dump its
  * formatted plan. Dev tool, not part of the driver contract.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.All.foreach(t => graft.Tables.load(spark, sfDir, t).count())
    val extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "x_shingles" -> ((s, dir) => graft.operators.Dedup.shingleRows(
        graft.Tables.load(s, dir, "documents"), "doc_id", "text", 3)),
      "x_sigs" -> ((s, dir) =>
        graft.operators.Dedup.minhashSignatures(
          graft.Tables.load(s, dir, "documents"), "doc_id", "text", 9)),
      "x_buckets" -> ((s, dir) =>
        graft.operators.Dedup.lshBuckets(
          graft.operators.Dedup.minhashSignatures(
            graft.Tables.load(s, dir, "documents"), "doc_id", "text", 9),
          "doc_id", 9, 3)),
      // q198's and q202's scoring frames: the query's own stored model,
      // the stamp observed on the pool. Both queries return a local
      // relation, so this is where their scoring plans show
      "x_kn3_scored" -> knScored(graft.SparkEntry.Lm3),
      "x_kn5_scored" -> knScored(graft.SparkEntry.Lm5)
    )
    // `all` expands to every SparkEntry query (live per-query output —
    // unlike Bench, which prints one line at the very end)
    val names =
      (if (args.contains("all"))
        graft.SparkEntry.queries.keys.toSeq.sorted ++ args.filterNot(_ == "all")
      else args.toSeq).distinct
    val runs = sys.env.get("PROBE_RUNS").map(_.toInt).getOrElse(2)
    names.foreach { name =>
      val fn = extra.getOrElse(name, graft.SparkEntry.queries(name))
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[probe] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      if (sys.env.contains("PROBE_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
      // AQE rewrites (ReusedExchange, broadcast/SMJ switches, skew
      // splits) only show in the plan of the QueryExecution that ran —
      // the initial plan above double-counts any exchange AQE later
      // dedups. A write or `foreach` runs a QueryExecution of its own,
      // so this runs the query's own, whose plan it then prints
      // (`isFinalPlan=true`).
      if (sys.env.contains("PROBE_EXPLAIN_EXECUTED")) {
        val qe = fn(spark, sfDir).queryExecution
        qe.toRdd.foreach(_ => ())
        println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      // same inter-query isolation as Bench: drop cache entries and any
      // checkpoint/persist blocks the query pinned
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }

  private def knScored(spec: graft.SparkEntry.RefLmSpec)(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val lm = graft.SparkEntry.storedLm(s, dir, spec)
    graft.operators.Ranking.refLmKnScore(
      graft.core.SnapshotStamp.observeFresh(
        graft.Tables.load(s, dir, "documents"), "doc_id", lm.stamp)._1,
      "doc_id", "text", graft.operators.Ranking.readRefLm(s, lm.table("model")), spec.order)
  }
}
