package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SnapshotStamp

/** Round-14 extension: corpus snapshot stamps — the staleness guard
  * stored artifacts write at build time and deploy paths verify at
  * read time (q184).
  */
class SnapshotStampSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus(ids: Long*) = ids.map(i => (i, s"doc $i")).toDF("id", "text")

  test("stamp is order- and partitioning-independent") {
    val a = SnapshotStamp.stamp(corpus(1L, 2L, 3L), "id").collect()(0)
    val b = SnapshotStamp.stamp(corpus(3L, 1L, 2L).repartition(7), "id").collect()(0)
    assert(a.getLong(0) == 3L)
    assert(b.getLong(0) == 3L)
    assert(a.getString(1) == b.getString(1))
  }

  test("empty corpus stamps (0, 0) rather than null") {
    val r = SnapshotStamp.stamp(corpus(), "id").collect()(0)
    assert(r.getLong(0) == 0L)
    assert(r.getString(1) == "0")
  }

  test("fresh round-trip; any insert, delete, or id change trips the guard") {
    val dir = Files.createTempDirectory("stamp-spec").toString
    SnapshotStamp.write(corpus(1L, 2L, 3L), "id", s"$dir/stamp")
    assert(SnapshotStamp.isFresh(corpus(1L, 2L, 3L), "id", s"$dir/stamp"))
    // delete
    assert(!SnapshotStamp.isFresh(corpus(1L, 2L), "id", s"$dir/stamp"))
    // insert
    assert(!SnapshotStamp.isFresh(corpus(1L, 2L, 3L, 4L), "id", s"$dir/stamp"))
    // same count, one id changed
    assert(!SnapshotStamp.isFresh(corpus(1L, 2L, 4L), "id", s"$dir/stamp"))
  }

  test("assertFresh names the artifact and both stamps on staleness") {
    val dir = Files.createTempDirectory("stamp-stale").toString
    SnapshotStamp.write(corpus(1L, 2L), "id", s"$dir/stamp")
    SnapshotStamp.assertFresh(corpus(1L, 2L), "id", s"$dir/stamp") // no throw
    val e = intercept[IllegalArgumentException] {
      SnapshotStamp.assertFresh(corpus(1L, 2L, 3L), "id", s"$dir/stamp")
    }
    assert(e.getMessage.contains("stale artifact stamp"))
    assert(e.getMessage.contains(s"$dir/stamp"))
  }

  test("salt separates stamps of identical id sets") {
    val a = SnapshotStamp.stamp(corpus(1L, 2L), "id", salt = "a:").collect()(0)
    val b = SnapshotStamp.stamp(corpus(1L, 2L), "id", salt = "b:").collect()(0)
    assert(a.getString(1) != b.getString(1))
  }

  test("observeFresh checks the stamp its frame's own action observed") {
    val dir = Files.createTempDirectory("stamp-observed").toString
    SnapshotStamp.write(corpus(1L, 2L), "id", s"$dir/stamp")
    // fresh: the check reads only the stored stamp, on the driver: no job
    val (ok, okCheck) = SnapshotStamp.observeFresh(corpus(1L, 2L), "id", s"$dir/stamp")
    assert(ok.localCheckpoint().count() == 2)
    assert(JobCount.inGroup(spark, "stamp-observed-fresh")(okCheck()) == 0)
    // stale: assertFresh's message, naming the path and both stamps
    val (stale, staleCheck) =
      SnapshotStamp.observeFresh(corpus(1L, 2L, 3L), "id", s"$dir/stamp")
    stale.localCheckpoint()
    val e = intercept[IllegalArgumentException](staleCheck())
    val expect = intercept[IllegalArgumentException] {
      SnapshotStamp.assertFresh(corpus(1L, 2L, 3L), "id", s"$dir/stamp")
    }
    assert(e.getMessage == expect.getMessage)
    assert(e.getMessage.contains("stale artifact stamp") && e.getMessage.contains(s"$dir/stamp"))
    assert(e.getMessage.contains("(2,") && e.getMessage.contains("(3,"))
  }

  test("a partial observation re-checks with the stamp job instead of failing") {
    val dir = Files.createTempDirectory("stamp-partial").toString
    val ids = (1L to 6L)
    SnapshotStamp.write(corpus(ids: _*), "id", s"$dir/stamp")
    // a limit reads part of the frame, so the observation counts part of it
    val (ok, okCheck) = SnapshotStamp.observeFresh(corpus(ids: _*).repartition(3), "id", s"$dir/stamp")
    assert(ok.limit(1).collect().length == 1)
    assert(JobCount.inGroup(spark, "stamp-partial-fresh")(okCheck()) > 1)
    // a stale corpus still fails, with the stamp job's count
    val (stale, staleCheck) = SnapshotStamp.observeFresh(corpus(ids.init: _*).repartition(3), "id", s"$dir/stamp")
    stale.limit(1).collect()
    val e = intercept[IllegalArgumentException](staleCheck())
    assert(e.getMessage.contains("stale artifact stamp") && e.getMessage.contains("(5,"))
  }

  test("an observed frame no action consumed falls back to the stamp job") {
    val dir = Files.createTempDirectory("stamp-unobserved").toString
    SnapshotStamp.write(corpus(1L, 2L), "id", s"$dir/stamp")
    val (_, okCheck) = SnapshotStamp.observeFresh(corpus(1L, 2L), "id", s"$dir/stamp")
    val t0 = System.nanoTime
    assert(JobCount.inGroup(spark, "stamp-unobserved-fresh")(okCheck()) > 1)
    assert((System.nanoTime - t0) / 1e9 < 30.0)
    val (_, staleCheck) = SnapshotStamp.observeFresh(corpus(1L), "id", s"$dir/stamp")
    val e = intercept[IllegalArgumentException](staleCheck())
    assert(e.getMessage.contains("stale artifact stamp"))
  }
}
