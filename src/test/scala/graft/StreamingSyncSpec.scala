package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{DbConfig, SyncConfig, TableSyncConfig}
import graft.streaming.StreamingSync

/** Incremental (streaming) sync: files dropped into a directory become
  * micro-batch upserts; the checkpoint gives exactly-once file
  * processing across restarts.
  */
class StreamingSyncSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val db = DbConfig("jdbc:derby:memory:streamsyncdb;create=true")

  private def query(sql: String): Seq[Seq[Any]] = {
    val c = DriverManager.getConnection(db.url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (rs.next()) buf += (1 to n).map(rs.getObject)
      buf.toSeq
    } finally c.close()
  }

  test("file-stream micro-batches upsert incrementally, exactly once") {
    val c = DriverManager.getConnection(db.url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE inc_table (id INT PRIMARY KEY, name VARCHAR(50))")
    finally c.close()

    val srcDir: Path = Files.createTempDirectory("graft-stream-src")
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "inc_table", filePath = "", mode = "diff", primaryKey = "id")))

    Files.writeString(srcDir.resolve("batch1.csv"), "id,name\n1,alice\n2,bob\n")
    val q1 = StreamingSync.start(spark, cfg, srcDir.toString, schema, ckpt)
    q1.awaitTermination()
    assert(query("SELECT id, name FROM inc_table ORDER BY id") ==
      Seq(Seq(1, "alice"), Seq(2, "bob")))

    // second file: one update, one insert; batch1.csv must NOT replay
    Files.writeString(srcDir.resolve("batch2.csv"), "id,name\n2,bob2\n3,carol\n")
    val q2 = StreamingSync.start(spark, cfg, srcDir.toString, schema, ckpt)
    q2.awaitTermination()
    assert(query("SELECT id, name FROM inc_table ORDER BY id") ==
      Seq(Seq(1, "alice"), Seq(2, "bob2"), Seq(3, "carol")))
  }

  test("restart-replay of an already-applied batch is idempotent (no dups)") {
    // the crash window foreachBatch leaves open: the batch's JDBC
    // transaction committed but the process died BEFORE the source
    // checkpoint recorded the file — on restart the file replays
    // against the already-updated table. Constructed deterministically:
    // apply the batch directly, then stream it with an EMPTY checkpoint.
    val c = DriverManager.getConnection(db.url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE replay_t (id INT PRIMARY KEY, name VARCHAR(50))")
    finally c.close()
    val srcDir: Path = Files.createTempDirectory("graft-replay-src")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val t = TableSyncConfig(
      name = "replay_t", filePath = "", mode = "diff", primaryKey = "id")
    val cfg = SyncConfig(db, Seq(t))

    Files.writeString(srcDir.resolve("b1.csv"), "id,name\n1,alice\n2,bob\n")
    import spark.implicits._
    val batch = Seq((1, "alice"), (2, "bob")).toDF("id", "name")
    assert(StreamingSync.applyBatchDiff(batch, cfg, t) == ((2, 0)))
    // the re-diff is what makes the write idempotent: a second apply
    // of the SAME batch changes nothing
    assert(StreamingSync.applyBatchDiff(batch, cfg, t) == ((0, 0)))

    // full replay through the stream with a fresh checkpoint (as after
    // the crash): terminates cleanly, no duplicate-PK insert, state
    // unchanged
    val freshCkpt = Files.createTempDirectory("graft-replay-ckpt").toString
    val q = StreamingSync.start(spark, cfg, srcDir.toString, schema, freshCkpt)
    q.awaitTermination()
    assert(query("SELECT id, name FROM replay_t ORDER BY id") ==
      Seq(Seq(1, "alice"), Seq(2, "bob")))
  }

  test("a failed batch reports its own error when the rollback fails too") {
    val c = DriverManager.getConnection(db.url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE rbs_t (id INT PRIMARY KEY, name VARCHAR(5))")
    finally c.close()
    val t = TableSyncConfig(
      name = "rbs_t", filePath = "", mode = "diff", primaryKey = "id")
    val cfg = SyncConfig(DbConfig(RollbackFailingDriver.url(db.url)), Seq(t))
    import spark.implicits._
    try {
      val e = intercept[java.sql.SQLException](StreamingSync.applyBatchDiff(
        Seq((1, "waytoolong")).toDF("id", "name"), cfg, t))
      assert(e.getMessage.contains("truncation"), e.getMessage)
    } finally RollbackFailingDriver.release()
    assert(query("SELECT COUNT(*) FROM rbs_t") == Seq(Seq(0)))
  }

  test("a micro-batch with a duplicate key is rejected and the table is unchanged") {
    val c = DriverManager.getConnection(db.url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE dupb_t (id INT PRIMARY KEY, name VARCHAR(50))")
    finally c.close()
    val t = TableSyncConfig(
      name = "dupb_t", filePath = "", mode = "diff", primaryKey = "id")
    val cfg = SyncConfig(db, Seq(t))
    import spark.implicits._
    assert(StreamingSync.applyBatchDiff(Seq((1, "alice")).toDF("id", "name"), cfg, t) == ((1, 0)))
    val e = intercept[IllegalArgumentException](StreamingSync.applyBatchDiff(
      Seq((1, "alice2"), (2, "bob"), (2, "bob2")).toDF("id", "name"), cfg, t))
    assert(e.getMessage ==
      "primary key validation failed for column 'id': duplicate=2 (2 of 3 rows invalid)")
    assert(query("SELECT id, name FROM dupb_t ORDER BY id") == Seq(Seq(1, "alice")))
  }

  test("a micro-batch converts RFC3339 per cell, as a file sync does") {
    val c = DriverManager.getConnection(db.url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE mixb_t (id INT PRIMARY KEY, v VARCHAR(40))")
    finally c.close()
    val t = TableSyncConfig(
      name = "mixb_t", filePath = "", mode = "diff", primaryKey = "id")
    import spark.implicits._
    val batch = Seq((1, "2023-12-25T16:30:45+09:00"), (2, "plain"), (3, "2023-02-30T00:00:00Z"))
      .toDF("id", "v")
    assert(StreamingSync.applyBatchDiff(batch, SyncConfig(db, Seq(t)), t) == ((3, 0)))
    assert(query("SELECT id, v FROM mixb_t ORDER BY id") == Seq(
      Seq(1, "2023-12-25 07:30:45"), Seq(2, "plain"), Seq(3, "2023-02-30T00:00:00Z")))
  }
}
