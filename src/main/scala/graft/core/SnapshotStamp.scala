package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge

import graft.operators.Sampling
import graft.sources.Readers

/** Corpus snapshot stamps for stored artifacts.
  *
  * Every stored artifact in the suite (curation state, gate model +
  * sweep, probe sweep, reference LM) is a MEASUREMENT of a source
  * corpus; serving it against a corpus that has since changed silently
  * serves stale decisions. The memos' documented contract is
  * immutable-inputs-only — this module is the production-shaped guard
  * for everything else: an order-independent corpus fingerprint
  * written BESIDE the artifact at build time, and a fail-fast
  * freshness check at read time.
  *
  * The stamp is (n_rows, id_hash): row count plus the exact integer
  * sum of the first-8-hex-digit value of `md5(salt || id)` per row —
  * one partial-aggregated pass over the id column, no sort, no
  * collect, insensitive to row order and partitioning (sum is
  * commutative), and decimal(38,0) so a trillion-row corpus cannot
  * overflow it. Two corpora agreeing on both fields differ only with
  * md5-collision probability; any insert, delete, or id change moves
  * the stamp.
  */
object SnapshotStamp {

  /** The per-row hash term: first 8 hex digits of `md5(salt || id)`
    * as an exact integer in [0, 2^32) — the [[Sampling.hexPrefixValue]]
    * arithmetic, shared with the salted-sampling oracles.
    */
  private def rowHash(idCol: Column, salt: String): Column =
    Sampling.hexPrefixValue(md5(concat(lit(salt), idCol.cast("string"))))

  /** `df` with the per-row hash term of `idCol` as column `__stamp_h`,
    * the input of [[stampAggs]]. */
  private def hashed(df: DataFrame, idCol: String, salt: String): DataFrame =
    df.withColumn("__stamp_h", rowHash(col(idCol), salt).cast("decimal(38,0)"))

  /** The stamp aggregate (n_rows, id_hash) over a [[hashed]] frame, the
    * one definition [[stamp]] aggregates and [[observeFresh]] observes.
    * It references only the hash column, so an observation of it ships
    * no hash expression with each task's metrics.
    * `id_hash` is surfaced as the exact decimal's canonical STRING:
    * engines' client bridges (DuckDB→pandas) demote wide decimals to
    * float64, which silently corrupts past 2^53 — a string is exact at
    * any corpus scale and compares exactly.
    */
  private val stampAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    coalesce(sum(col("__stamp_h")), lit(0L).cast("decimal(38,0)")).cast("string").as("id_hash"))

  /** The 1-row stamp frame (n_rows, id_hash) of `df`'s `idCol`. */
  def stamp(df: DataFrame, idCol: String, salt: String = "stamp:"): DataFrame =
    hashed(df.select(col(idCol)), idCol, salt).agg(stampAggs.head, stampAggs.tail: _*)

  /** DuckDB twin of [[stamp]] — one SELECT over `src`. */
  def stampSql(src: String, idCol: String, salt: String = "stamp:"): String = {
    val hex = Sampling.hexPrefixSql(s"md5('$salt' || CAST($idCol AS VARCHAR))")
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(CAST(COALESCE(SUM($hex), 0) AS DECIMAL(38,0)) AS VARCHAR) AS id_hash
       |FROM $src""".stripMargin
  }

  /** Write the stamp of `df` to `path` — call at artifact build time,
    * with `path` a sibling of the artifact tables.
    */
  def write(df: DataFrame, idCol: String, path: String,
      salt: String = "stamp:"): Unit =
    stamp(df, idCol, salt).coalesce(1).write.mode("overwrite").parquet(path)

  /** Recompute the live stamp and compare against the stored one.
    * One aggregate job over the live id column plus a 1-row artifact
    * read.
    */
  def isFresh(live: DataFrame, idCol: String, path: String,
      salt: String = "stamp:"): Boolean =
    readStamp(live.sparkSession, path) == liveStamp(live, idCol, salt)

  /** [[isFresh]] that fails fast with a named error carrying both
    * stamps — the read-side gate a production deploy path calls before
    * serving a stored artifact.
    */
  def assertFresh(live: DataFrame, idCol: String, path: String,
      salt: String = "stamp:"): Unit =
    requireFresh(readStamp(live.sparkSession, path), liveStamp(live, idCol, salt), path)

  /** Names each [[observeFresh]] observation apart. */
  private val observations = new AtomicLong

  /** [[assertFresh]] without its own pass over the corpus: `live`
    * observed with the [[stamp]] aggregate, plus the check. Use the
    * observed frame in place of `live`, and call the check once an
    * action has read the whole of it (an eager checkpoint of a frame
    * built on it, say); the stamp then comes from that action's scan.
    * The check never waits on an action that did not happen: when no
    * action has reported the observation, it runs [[assertFresh]]'s
    * stamp job over `live` instead. The observation counts every row
    * that reaches it, so the frame must be read unfiltered. It counts
    * at least once, not exactly once (a retried or speculative task
    * counts its rows again, a `limit` counts part of them), so an
    * observed stamp that differs from the stored one is only a
    * suspicion: the check then runs the stamp job before it fails.
    */
  def observeFresh(live: DataFrame, idCol: String, path: String): (DataFrame, () => Unit) = {
    val spark = live.sparkSession
    val obs = Observation(s"__stamp_${observations.getAndIncrement()}")
    require(!live.columns.contains("__stamp_h"), "a stamped frame has no column __stamp_h")
    val observed = hashed(live, idCol, "stamp:")
      .observe(obs, stampAggs.head, stampAggs.tail: _*).drop("__stamp_h")
    def reported: Option[(Long, String)] = obs.future.value.flatMap(_.toOption)
      .filter(_.length == 2).map(r => (r.getLong(0), r.getString(1)))
    (observed, () => {
      // an action's end event reaches the observation through the
      // listener bus: wait until the observation is reported or the bus
      // is idle (then no action reported it), for 10 s at most
      val deadline = System.nanoTime + 10000000000L
      while (reported.isEmpty && !graftbridge.listenerBusIdle(spark, 10L) &&
        System.nanoTime < deadline) ()
      val stored = readStamp(spark, path)
      if (!reported.contains(stored))
        requireFresh(stored, liveStamp(live, idCol, "stamp:"), path)
    })
  }

  private def liveStamp(live: DataFrame, idCol: String, salt: String): (Long, String) = {
    val r = stamp(live, idCol, salt).collect()(0)
    (r.getLong(0), r.getString(1))
  }

  private def requireFresh(stored: (Long, String), now: (Long, String), path: String): Unit =
    require(stored == now,
      s"stale artifact stamp at $path: stored (n_rows, id_hash) = $stored " +
        s"but the live corpus is $now — rebuild the artifact before serving it")

  private def readStamp(spark: SparkSession, path: String): (Long, String) = {
    val rows = Readers.parquet(spark, path)
      .select(col("n_rows"), col("id_hash")).collect()
    require(rows.length == 1 && !rows(0).isNullAt(0) && !rows(0).isNullAt(1),
      s"snapshot stamp at $path is not exactly one non-null row")
    (rows(0).getLong(0), rows(0).getString(1))
  }
}
