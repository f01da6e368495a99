package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.config.{DbConfig, SyncConfig, TableSyncConfig}
import graft.sinks.JdbcSyncWriter
import graft.core.{PrimaryKeyValidator, SyncRunner, SyncTimeoutException}

/** End-to-end sync against embedded Derby — the JDBC seam the reference
  * exercises against MySQL (main_test.go E2E suite): diff
  * insert/update/delete, overwrite, dry-run leaves the DB untouched,
  * timestamp injection with immutable columns, transactional rollback,
  * and two-phase FK-safe multi-table ordering.
  */
class JdbcSyncSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val db = DbConfig("jdbc:derby:memory:syncdb;create=true")

  private def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(db.url)
    try {
      val st = c.createStatement()
      sqls.foreach(st.executeUpdate)
      st.close()
    } finally c.close()
  }

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

  private def csvFile(content: String): String = {
    val dir: Path = Files.createTempDirectory("graft-sync")
    val f = dir.resolve("data.csv")
    Files.writeString(f, content)
    f.toString
  }

  private def dropIfExists(table: String): Unit =
    try exec(s"DROP TABLE $table") catch { case _: Exception => () }

  test("tableColumns: only the current schema's table, '_' matched literally") {
    dropIfExists("other.col_t")
    dropIfExists("col_t")
    dropIfExists("colXt")
    try exec("CREATE SCHEMA other") catch { case _: Exception => () }
    exec(
      "CREATE TABLE col_t (id INT PRIMARY KEY, name VARCHAR(20))",
      "CREATE TABLE other.col_t (id INT PRIMARY KEY, extra VARCHAR(20), name VARCHAR(20))",
      "CREATE TABLE colXt (k INT, wild VARCHAR(20))")
    val c = JdbcSyncWriter.connect(db)
    try {
      assert(JdbcSyncWriter.tableColumns(c, "col_t") == Seq("id", "name"))
      assert(JdbcSyncWriter.tableColumns(c, "other.col_t") == Seq("id", "extra", "name"))
      assert(JdbcSyncWriter.tableColumns(c, "colXt") == Seq("k", "wild"))
    } finally { c.rollback(); c.close() }
    // the sync column list follows: `extra` exists only in OTHER.COL_T
    exec("INSERT INTO col_t VALUES (1, 'old')")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "col_t", filePath = csvFile("id,extra,name\n1,x,new\n"), mode = "diff",
      primaryKey = "id")))).head
    assert((r.inserts, r.updates, r.deletes) == ((0, 1, 0)))
    assert(query("SELECT id, name FROM col_t") == Seq(Seq(1, "new")))
    dropIfExists("other.col_t")
    dropIfExists("col_t")
    dropIfExists("colXt")
  }

  test("diff sync: 1 insert + 1 update + 1 delete (e2e_csv_diff shape)") {
    dropIfExists("test_table")
    exec(
      "CREATE TABLE test_table (id INT PRIMARY KEY, name VARCHAR(255), email VARCHAR(255))",
      "INSERT INTO test_table VALUES (402, 'Bob', 'b@x'), (403, 'Carol', 'c@x')")
    val f = csvFile("id,name,email\n401,Alice,a@x\n402,Bob2,b@x\n")
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "test_table", filePath = f, mode = "diff",
      primaryKey = "id", deleteNotInFile = true)))
    val r = SyncRunner.run(spark, cfg).head
    assert((r.inserts, r.updates, r.deletes) == ((1, 1, 1)))
    val rows = query("SELECT id, name FROM test_table ORDER BY id")
    assert(rows == Seq(Seq(401, "Alice"), Seq(402, "Bob2")))
  }

  test("dry run plans but writes nothing") {
    dropIfExists("dry_table")
    exec(
      "CREATE TABLE dry_table (id INT PRIMARY KEY, name VARCHAR(255))",
      "INSERT INTO dry_table VALUES (1, 'old'), (2, 'gone')")
    val f = csvFile("id,name\n1,new\n3,add\n")
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "dry_table", filePath = f, mode = "diff",
      primaryKey = "id", deleteNotInFile = true)), dryRun = true)
    val r = SyncRunner.run(spark, cfg).head
    val p = r.plan.get
    assert((p.inserts, p.updates, p.deletes) == ((1L, 1L, 1L)))
    assert(p.render ==
      """=== Execution plan for table 'dry_table' (dry run — no writes) ===
        |  inserts: 1, updates: 1, deletes: 1
        |  INSERT
        |    id=3, name=add
        |  UPDATE (before -> after)
        |    id=1: name: old -> new
        |  DELETE
        |    id=2, name=gone
        |""".stripMargin)
    // DB untouched
    assert(query("SELECT id, name FROM dry_table ORDER BY id") ==
      Seq(Seq(1, "old"), Seq(2, "gone")))
  }

  test("sync columns named like the diff's internal columns are rejected before any write") {
    // Derby needs delimited identifiers for names starting with '_'
    for (reserved <- Seq("__pk", "__pk_n", "__op", "__db_name")) {
      dropIfExists("rsv_table")
      exec(
        s"""CREATE TABLE rsv_table (id INT PRIMARY KEY, name VARCHAR(20), "${reserved.toUpperCase}" VARCHAR(20))""",
        "INSERT INTO rsv_table VALUES (1, 'keep', 'x'), (2, 'gone', 'y')")
      val f = csvFile(s"id,name,$reserved\n1,new,x\n3,add,z\n")
      val cfg = SyncConfig(db, Seq(TableSyncConfig(
        name = "rsv_table", filePath = f, mode = "diff",
        primaryKey = "id", deleteNotInFile = true)))
      val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
      assert(e.getMessage.contains(reserved) && e.getMessage.contains("reserve"), e.getMessage)
      assert(query("SELECT id, name FROM rsv_table ORDER BY id") ==
        Seq(Seq(1, "keep"), Seq(2, "gone")), reserved)
    }
    // other double-underscore names are ordinary sync columns (a dry
    // run: Derby cannot take the undelimited name in the DML)
    dropIfExists("rsv_table")
    exec(
      """CREATE TABLE rsv_table (id INT PRIMARY KEY, "__NOTE" VARCHAR(20))""",
      "INSERT INTO rsv_table VALUES (1, 'old')")
    val f = csvFile("id,__note\n1,new\n")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "rsv_table", filePath = f, mode = "diff", primaryKey = "id")),
      dryRun = true)).head
    assert(r.plan.get.updateSamples == Seq("id=1: __note: old -> new"))
  }

  test("overwrite replaces the full table transactionally") {
    dropIfExists("ow_table")
    exec(
      "CREATE TABLE ow_table (id INT PRIMARY KEY, name VARCHAR(255))",
      "INSERT INTO ow_table VALUES (9, 'stale')")
    val f = csvFile("id,name\n1,a\n2,b\n")
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "ow_table", filePath = f, mode = "overwrite")))
    SyncRunner.run(spark, cfg)
    assert(query("SELECT id FROM ow_table ORDER BY id") == Seq(Seq(1), Seq(2)))
  }

  test("overwrite above the distributed threshold: same final state, count reported") {
    // same workload, two paths: the strict driver transaction (high
    // threshold) and the post-commit parallel JDBC append (threshold 1)
    // must leave identical final table state
    dropIfExists("owd_table")
    exec(
      "CREATE TABLE owd_table (id INT PRIMARY KEY, name VARCHAR(255))",
      "INSERT INTO owd_table VALUES (9, 'stale'), (10, 'staler')")
    val f = csvFile("id,name\n1,a\n2,b\n3,c\n4,d\n")
    def cfg(thr: Long) = SyncConfig(db, Seq(TableSyncConfig(
      name = "owd_table", filePath = f, mode = "overwrite")),
      overwriteDistributedThreshold = thr)

    val rDriver = SyncRunner.run(spark, cfg(1000L))
    val driverState = query("SELECT id, name FROM owd_table ORDER BY id")
    assert(rDriver.head.inserts == 4)

    exec("INSERT INTO owd_table VALUES (9, 'stale-again')")
    val rDist = SyncRunner.run(spark, cfg(1L))
    assert(rDist.head.inserts == 4, "distributed path reports the row count")
    assert(query("SELECT id, name FROM owd_table ORDER BY id") == driverState,
      "distributed overwrite converges to the driver path's final state")
  }

  test("distributed overwrite injects timestamp columns like the driver path") {
    dropIfExists("owt_table")
    exec("CREATE TABLE owt_table (id INT PRIMARY KEY, name VARCHAR(20), updated_at TIMESTAMP)")
    val f = csvFile("id,name\n1,a\n2,b\n3,c\n")
    SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
        name = "owt_table", filePath = f, mode = "overwrite",
        timestampColumns = Seq("updated_at"))),
      overwriteDistributedThreshold = 1L))
    val rows = query("SELECT id, updated_at FROM owt_table ORDER BY id")
    assert(rows.map(_.head) == Seq(1, 2, 3))
    assert(rows.forall(_(1) != null), "updated_at injected on the distributed path")
  }

  test("timestamp injection: updated_at refreshes, immutable created_at survives") {
    dropIfExists("ts_table")
    exec(
      "CREATE TABLE ts_table (id INT PRIMARY KEY, name VARCHAR(255), " +
        "created_at TIMESTAMP, updated_at TIMESTAMP)")
    val t = TableSyncConfig(
      name = "ts_table", filePath = csvFile("id,name\n1,v1\n"),
      mode = "diff", primaryKey = "id",
      timestampColumns = Seq("created_at", "updated_at"),
      immutableColumns = Seq("created_at"))
    SyncRunner.run(spark, SyncConfig(db, Seq(t)))
    val first = query("SELECT created_at, updated_at FROM ts_table").head
    assert(first(0) != null && first(1) != null)
    Thread.sleep(50)
    SyncRunner.run(spark, SyncConfig(db,
      Seq(t.copy(filePath = csvFile("id,name\n1,v2\n")))))
    val second = query("SELECT created_at, updated_at, name FROM ts_table").head
    assert(second(2) == "v2")
    assert(second(0) == first(0), "immutable created_at must not change")
    assert(second(1) != first(1), "updated_at must refresh on update")
  }

  test("failed sync rolls back everything (all-or-nothing)") {
    dropIfExists("rb_table")
    exec(
      "CREATE TABLE rb_table (id INT PRIMARY KEY, name VARCHAR(5))",
      "INSERT INTO rb_table VALUES (1, 'keep')")
    // second row's name exceeds VARCHAR(5) -> INSERT fails after the
    // first insert succeeded -> whole tx must roll back
    val f = csvFile("id,name\n2,ok\n3,waytoolongvalue\n")
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "rb_table", filePath = f, mode = "diff", primaryKey = "id")))
    intercept[Exception](SyncRunner.run(spark, cfg))
    assert(query("SELECT id FROM rb_table") == Seq(Seq(1)))
  }

  test("stalled sync aborts at the wall-clock deadline and rolls back") {
    // reference main.go:59-62 bounds the whole run with a 5-minute
    // context; here a second connection holds an uncommitted row lock,
    // so the sync's scan/update blocks (Derby lock wait is 60 s) until
    // the 2 s deadline interrupts it
    dropIfExists("stall_t")
    exec(
      "CREATE TABLE stall_t (id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO stall_t VALUES (1, 'orig'), (2, 'other')")
    val locker = DriverManager.getConnection(db.url)
    locker.setAutoCommit(false)
    locker.createStatement().executeUpdate(
      "UPDATE stall_t SET name = 'locked' WHERE id = 1")
    try {
      val f = csvFile("id,name\n1,changed\n2,other\n")
      val cfg = SyncConfig(db, Seq(TableSyncConfig(
        name = "stall_t", filePath = f, mode = "diff", primaryKey = "id")),
        timeoutSeconds = 2)
      val t0 = System.nanoTime()
      intercept[graft.core.SyncTimeoutException](SyncRunner.run(spark, cfg))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 45, s"deadline did not cut the Derby 60s lock wait short ($secs s)")
    } finally { locker.rollback(); locker.close() }
    // nothing from the aborted sync was committed
    assert(query("SELECT name FROM stall_t WHERE id = 1") == Seq(Seq("orig")))
  }

  test("json file sync e2e (diff upsert from a JSON array)") {
    dropIfExists("json_t")
    exec(
      "CREATE TABLE json_t (id INT PRIMARY KEY, name VARCHAR(50), score DOUBLE)",
      "INSERT INTO json_t VALUES (1, 'old', 1.5)")
    val dir = Files.createTempDirectory("graft-json")
    val f = dir.resolve("data.json")
    Files.writeString(f,
      """[{"id": 1, "name": "new", "score": 1.5},
        | {"id": 2, "name": "b", "score": 2.25}]""".stripMargin)
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "json_t", filePath = f.toString, mode = "diff",
      primaryKey = "id")))).head
    assert((r.inserts, r.updates, r.deletes) == ((1, 1, 0)))
    assert(query("SELECT id, name, score FROM json_t ORDER BY id") ==
      Seq(Seq(1, "new", 1.5), Seq(2, "b", 2.25)))
  }

  test("type-conversion matrix round-trips through Derby (e2e data types shape)") {
    // the reference's strongest E2E (main_test.go:453-513 +
    // testdata/e2e_data_types.json): a 13-column matrix of
    // BOOLEAN/INT/BIGINT/DOUBLE/VARCHAR/TIMESTAMP with extreme values
    // (max double, int min/max, +/-2^53-ish bigints, empty string,
    // all-null column) and RFC3339 times with a +09:00 zone offset and
    // the epoch — synced here via the JSON reader into embedded Derby
    dropIfExists("dt_table")
    exec(
      "CREATE TABLE dt_table (id INT PRIMARY KEY, string_col VARCHAR(255), " +
        "bool_true_col BOOLEAN, bool_false_col BOOLEAN, int_col INT, " +
        "float_col DOUBLE, large_int_col BIGINT, zero_col INT, " +
        "negative_int_col INT, negative_float_col DOUBLE, " +
        "whole_number_float DOUBLE, null_col VARCHAR(50), " +
        "rfc3339_time TIMESTAMP, created_at TIMESTAMP, updated_at TIMESTAMP)")
    val dir = Files.createTempDirectory("graft-dt")
    val f = dir.resolve("dt.json")
    Files.writeString(f,
      """[{"id": 1, "string_col": "Hello World", "bool_true_col": true,
        |  "bool_false_col": false, "int_col": 42, "float_col": 3.14159,
        |  "large_int_col": 9007199254740000, "zero_col": 0,
        |  "negative_int_col": -123, "negative_float_col": -99.99,
        |  "whole_number_float": 100.0, "null_col": null,
        |  "rfc3339_time": "2023-12-25T15:30:45+09:00"},
        | {"id": 2, "string_col": "JSON Test", "bool_true_col": false,
        |  "bool_false_col": true, "int_col": 0, "float_col": 0.001,
        |  "large_int_col": 1, "zero_col": 999, "negative_int_col": -1,
        |  "negative_float_col": -0.5, "whole_number_float": 42.0,
        |  "null_col": null, "rfc3339_time": "2024-01-01T00:00:00Z"},
        | {"id": 3, "string_col": "", "bool_true_col": true,
        |  "bool_false_col": false, "int_col": 2147483647,
        |  "float_col": 1.7976931348623157e+308,
        |  "large_int_col": -9007199254740000, "zero_col": 0,
        |  "negative_int_col": -2147483648,
        |  "negative_float_col": -1.7976931348623157e+308,
        |  "whole_number_float": 0.0, "null_col": null,
        |  "rfc3339_time": "1970-01-01T00:00:00Z"}]""".stripMargin)
    SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "dt_table", filePath = f.toString, mode = "overwrite",
      primaryKey = "id",
      timestampColumns = Seq("created_at", "updated_at"),
      immutableColumns = Seq("created_at")))))

    val rows = query(
      "SELECT id, string_col, bool_true_col, bool_false_col, int_col, " +
        "float_col, large_int_col, zero_col, negative_int_col, " +
        "negative_float_col, whole_number_float, null_col, rfc3339_time, " +
        "created_at, updated_at FROM dt_table ORDER BY id")
    assert(rows.size == 3)
    def ts(r: Seq[Any], i: Int): java.time.Instant =
      r(i).asInstanceOf[java.sql.Timestamp].toInstant
    val r1 = rows(0)
    assert(r1.take(12) == Seq(1, "Hello World", true, false, 42, 3.14159,
      9007199254740000L, 0, -123, -99.99, 100.0, null))
    // +09:00 offset normalizes to the UTC instant
    assert(ts(r1, 12) == java.time.Instant.parse("2023-12-25T06:30:45Z"))
    val r2 = rows(1)
    assert(r2.take(12) == Seq(2, "JSON Test", false, true, 0, 0.001, 1L,
      999, -1, -0.5, 42.0, null))
    assert(ts(r2, 12) == java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val r3 = rows(2)
    assert(r3.take(12) == Seq(3, "", true, false, 2147483647,
      1.7976931348623157e308, -9007199254740000L, 0, -2147483648,
      -1.7976931348623157e308, 0.0, null))
    assert(ts(r3, 12) == java.time.Instant.parse("1970-01-01T00:00:00Z"),
      "the zero epoch must survive, not collapse to null/now")
    rows.foreach { r =>
      assert(r(13) != null && r(14) != null, "ts injection on insert")
    }
  }

  test("multi-table dry run plans all tables and writes nothing") {
    dropIfExists("mdr_child")
    dropIfExists("mdr_parent")
    exec(
      "CREATE TABLE mdr_parent (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE mdr_child (id INT PRIMARY KEY, pid INT REFERENCES mdr_parent(id))",
      "INSERT INTO mdr_parent VALUES (1, 'p1'), (2, 'p2')",
      "INSERT INTO mdr_child VALUES (10, 2)")
    val pf = csvFile("id,name\n1,p1x\n3,p3\n")
    val cf = csvFile("id,pid\n30,3\n")
    val cfg = SyncConfig(db, Seq(
      TableSyncConfig(name = "mdr_child", filePath = cf, mode = "diff",
        primaryKey = "id", deleteNotInFile = true, dependencies = Seq("mdr_parent")),
      TableSyncConfig(name = "mdr_parent", filePath = pf, mode = "diff",
        primaryKey = "id", deleteNotInFile = true)), dryRun = true)
    val results = SyncRunner.run(spark, cfg)
    val byTable = results.map(r => r.table -> r.plan.get).toMap
    assert((byTable("mdr_parent").inserts, byTable("mdr_parent").updates,
      byTable("mdr_parent").deletes) == ((1L, 1L, 1L)))
    assert((byTable("mdr_child").inserts, byTable("mdr_child").deletes) == ((1L, 1L)))
    // nothing written
    assert(query("SELECT COUNT(*) FROM mdr_parent").head.head == 2)
    assert(query("SELECT COUNT(*) FROM mdr_child").head.head == 1)
  }

  test("update differing only in immutable columns is skipped, not malformed SQL") {
    dropIfExists("imm_t")
    exec(
      "CREATE TABLE imm_t (id INT PRIMARY KEY, created_at VARCHAR(20))",
      "INSERT INTO imm_t VALUES (1, 'old')")
    val f = csvFile("id,created_at\n1,new\n")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "imm_t", filePath = f, mode = "diff", primaryKey = "id",
      immutableColumns = Seq("created_at"))))).head
    // the row is detected as changed (reference semantics) but nothing
    // is settable, so no UPDATE executes and the value stays
    assert(query("SELECT created_at FROM imm_t") == Seq(Seq("old")))
  }

  test("multi-table overwrite parent with FK child clears child-first") {
    dropIfExists("ow_child")
    dropIfExists("ow_parent")
    exec(
      "CREATE TABLE ow_parent (id INT PRIMARY KEY, name VARCHAR(20))",
      "CREATE TABLE ow_child (id INT PRIMARY KEY, pid INT REFERENCES ow_parent(id))",
      "INSERT INTO ow_parent VALUES (1, 'p1')",
      "INSERT INTO ow_child VALUES (10, 1)")
    val cfg = SyncConfig(db, Seq(
      TableSyncConfig(name = "ow_parent", filePath = csvFile("id,name\n2,p2\n"),
        mode = "overwrite"),
      TableSyncConfig(name = "ow_child", filePath = csvFile("id,pid\n20,2\n"),
        mode = "overwrite", dependencies = Seq("ow_parent"))))
    SyncRunner.run(spark, cfg)
    assert(query("SELECT id FROM ow_parent") == Seq(Seq(2)))
    assert(query("SELECT id, pid FROM ow_child") == Seq(Seq(20, 2)))

    // a parent file ABOVE the distributed threshold: the FK guard must
    // force a parent WITH DEPENDENTS onto the driver path — the
    // child's in-transaction insert references parent keys that a
    // deferred post-commit reinsert would not yet have written
    exec("DELETE FROM ow_child", "DELETE FROM ow_parent",
      "INSERT INTO ow_parent VALUES (1, 'p1')",
      "INSERT INTO ow_child VALUES (10, 1)")
    val cfg2 = SyncConfig(db, Seq(
      TableSyncConfig(name = "ow_parent",
        filePath = csvFile("id,name\n2,p2\n3,p3\n4,p4\n"), mode = "overwrite"),
      TableSyncConfig(name = "ow_child", filePath = csvFile("id,pid\n20,3\n"),
        mode = "overwrite", dependencies = Seq("ow_parent"))),
      overwriteDistributedThreshold = 1L)
    SyncRunner.run(spark, cfg2)
    assert(query("SELECT id FROM ow_parent ORDER BY id") ==
      Seq(Seq(2), Seq(3), Seq(4)))
    assert(query("SELECT id, pid FROM ow_child") == Seq(Seq(20, 3)))
  }

  test("zero-column file (JSON []) follows empty-file semantics") {
    dropIfExists("zc_t")
    exec(
      "CREATE TABLE zc_t (id INT PRIMARY KEY, name VARCHAR(20))",
      "INSERT INTO zc_t VALUES (1, 'a'), (2, 'b')")
    val dir = Files.createTempDirectory("graft-zc")
    val f = dir.resolve("empty.json")
    Files.writeString(f, "[]")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "zc_t", filePath = f.toString, mode = "diff",
      primaryKey = "id", deleteNotInFile = true)))).head
    assert(r.deletes == 2)
    assert(query("SELECT COUNT(*) FROM zc_t").head.head == 0)
  }

  test("multi-table: two-phase FK-safe ordering in one transaction") {
    dropIfExists("child_t")
    dropIfExists("parent_t")
    exec(
      "CREATE TABLE parent_t (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE child_t (id INT PRIMARY KEY, pid INT REFERENCES parent_t(id), v VARCHAR(50))",
      "INSERT INTO parent_t VALUES (1, 'p1'), (2, 'p2')",
      "INSERT INTO child_t VALUES (10, 1, 'c10'), (20, 2, 'c20')")
    // new state: parent 2 and its child go away; parent 3 + child arrive.
    // Deletes must run child->parent; inserts parent->child, or the FK
    // constraint fires.
    val pf = csvFile("id,name\n1,p1\n3,p3\n")
    val cf = csvFile("id,pid,v\n10,1,c10\n30,3,c30\n")
    val cfg = SyncConfig(db, Seq(
      TableSyncConfig(name = "child_t", filePath = cf, mode = "diff",
        primaryKey = "id", deleteNotInFile = true,
        dependencies = Seq("parent_t")),
      TableSyncConfig(name = "parent_t", filePath = pf, mode = "diff",
        primaryKey = "id", deleteNotInFile = true)))
    val results = SyncRunner.run(spark, cfg)
    assert(query("SELECT id FROM parent_t ORDER BY id") == Seq(Seq(1), Seq(3)))
    assert(query("SELECT id, pid FROM child_t ORDER BY id") ==
      Seq(Seq(10, 1), Seq(30, 3)))
    val byTable = results.map(r => r.table -> r).toMap
    assert(byTable("parent_t").inserts == 1 && byTable("parent_t").deletes == 1)
    assert(byTable("child_t").inserts == 1 && byTable("child_t").deletes == 1)
  }

  test("empty input follows the reference's mode-dependent semantics") {
    // overwrite + empty file -> clears the table (main_test.go:306-325)
    dropIfExists("empty_ow")
    exec(
      "CREATE TABLE empty_ow (id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO empty_ow VALUES (1, 'a')")
    val emptyCsv = csvFile("id,name\n")
    SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "empty_ow", filePath = emptyCsv, mode = "overwrite"))))
    assert(query("SELECT COUNT(*) FROM empty_ow") == Seq(Seq(1)).map(_ => Seq(0)))

    // diff + deleteNotInFile + empty file -> deletes everything
    dropIfExists("empty_del")
    exec(
      "CREATE TABLE empty_del (id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO empty_del VALUES (1, 'a'), (2, 'b')")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "empty_del", filePath = csvFile("id,name\n"), mode = "diff",
      primaryKey = "id", deleteNotInFile = true)))).head
    assert(r.deletes == 2)
    assert(query("SELECT COUNT(*) FROM empty_del").head.head == 0)

    // diff without deleteNotInFile + empty file -> no-op (dbsync.go:409-412)
    dropIfExists("empty_noop")
    exec(
      "CREATE TABLE empty_noop (id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO empty_noop VALUES (1, 'a')")
    val r2 = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "empty_noop", filePath = csvFile("id,name\n"), mode = "diff",
      primaryKey = "id")))).head
    assert((r2.inserts, r2.updates, r2.deletes) == ((0, 0, 0)))
    assert(query("SELECT COUNT(*) FROM empty_noop").head.head == 1)
  }

  test("custom sql function array_dot registers and evaluates") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(got == 11.0)
  }

  test("custom sql function array_cosine registers and evaluates") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT array_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect()(0).getDouble(0)
    assert(got == 1.0)
  }

  test("missing sync file fails fast before touching the DB") {
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "whatever", filePath = "/tmp/does-not-exist-9z.csv",
      mode = "diff", primaryKey = "id")))
    val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
    assert(e.getMessage.contains("not found"))
    assert(e.getMessage.contains("does-not-exist-9z.csv"))
  }

  test("strict pk validation in the diff: validateStrict's message, dry run or not, DB untouched") {
    // the reason-precedence input: 2 valid, 2 duplicate, 2 invalid
    // format (leading space, tab), 2 null-or-empty (empty cell, "na")
    dropIfExists("pvp_table")
    exec(
      "CREATE TABLE pvp_table (id VARCHAR(32) PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO pvp_table VALUES ('ok1', 'keep'), ('gone', 'keep')")
    val keys = Seq("ok1", "ok2", "dup", "dup", " pad", "tab\tx", null, "na")
    val f = csvFile("id,name\n" +
      keys.zipWithIndex.map { case (k, i) => s"${Option(k).getOrElse("")},n$i" }.mkString("\n") + "\n")
    import spark.implicits._
    val expected = intercept[IllegalArgumentException](
      PrimaryKeyValidator.validateStrict(keys.toDF("id"), "id")).getMessage
    assert(expected.contains("duplicate=2, invalid_format=2, null_or_empty=2 (6 of 8 rows invalid)"),
      expected)
    for (dryRun <- Seq(true, false)) {
      val cfg = SyncConfig(db, Seq(TableSyncConfig(
        name = "pvp_table", filePath = f, mode = "diff",
        primaryKey = "id", deleteNotInFile = true)), dryRun = dryRun)
      val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
      assert(e.getMessage == expected, s"dryRun=$dryRun")
      assert(query("SELECT id, name FROM pvp_table ORDER BY id") ==
        Seq(Seq("gone", "keep"), Seq("ok1", "keep")), s"dryRun=$dryRun")
    }
  }

  test("a file whose every key is null or empty aborts, though no row reaches the join") {
    dropIfExists("pve_table")
    exec(
      "CREATE TABLE pve_table (id VARCHAR(32) PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO pve_table VALUES ('1', 'keep')")
    val f = csvFile("id,name\n,a\n,b\n")
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "pve_table", filePath = f, mode = "diff",
      primaryKey = "id", deleteNotInFile = true)))
    val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
    assert(e.getMessage ==
      "primary key validation failed for column 'id': null_or_empty=2 (2 of 2 rows invalid)")
    assert(query("SELECT id, name FROM pve_table") == Seq(Seq("1", "keep")))
  }

  test("a duplicate child PK aborts a two-table FK sync: neither table is written") {
    dropIfExists("pvc_child")
    dropIfExists("pvc_parent")
    exec(
      "CREATE TABLE pvc_parent (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE pvc_child (id INT PRIMARY KEY, pid INT REFERENCES pvc_parent(id), v VARCHAR(50))",
      "INSERT INTO pvc_parent VALUES (1, 'p1'), (2, 'p2')",
      "INSERT INTO pvc_child VALUES (10, 1, 'c10'), (20, 2, 'c20')")
    // the parent file alone is a valid sync (1 insert, 1 update,
    // 1 delete); the child file repeats key 30
    val pf = csvFile("id,name\n1,p1x\n3,p3\n")
    val cf = csvFile("id,pid,v\n10,1,c10\n30,3,c30\n30,3,c30b\n")
    val cfg = SyncConfig(db, Seq(
      TableSyncConfig(name = "pvc_child", filePath = cf, mode = "diff",
        primaryKey = "id", deleteNotInFile = true, dependencies = Seq("pvc_parent")),
      TableSyncConfig(name = "pvc_parent", filePath = pf, mode = "diff",
        primaryKey = "id", deleteNotInFile = true)))
    val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
    assert(e.getMessage ==
      "primary key validation failed for column 'id': duplicate=2 (2 of 3 rows invalid)")
    assert(query("SELECT id, name FROM pvc_parent ORDER BY id") ==
      Seq(Seq(1, "p1"), Seq(2, "p2")))
    assert(query("SELECT id, pid, v FROM pvc_child ORDER BY id") ==
      Seq(Seq(10, 1, "c10"), Seq(20, 2, "c20")))
  }

  test("strict pk validation aborts the sync before any write") {
    dropIfExists("pv_table")
    exec(
      "CREATE TABLE pv_table (id VARCHAR(32) PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO pv_table VALUES ('1', 'keep')")
    val f = csvFile("id,name\ndup,x\ndup,y\n")
    val cfg = SyncConfig(db, Seq(TableSyncConfig(
      name = "pv_table", filePath = f, mode = "diff", primaryKey = "id")))
    val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
    assert(e.getMessage.contains("duplicate"))
    assert(query("SELECT id FROM pv_table") == Seq(Seq("1")))
  }

  for ((key, reason) <- Seq(" 12" -> "invalid_format", "na" -> "null_or_empty"))
    test(s"a BIGINT key is coded as read, before its cast: '$key' is $reason") {
      // the file's key is cast to the DB's BIGINT before the diff; the
      // code must judge the key the file holds, as validateStrict does
      dropIfExists("pvb_table")
      exec(
        "CREATE TABLE pvb_table (id BIGINT PRIMARY KEY, name VARCHAR(50))",
        "INSERT INTO pvb_table VALUES (1, 'keep')")
      import spark.implicits._
      val expected = intercept[IllegalArgumentException](
        PrimaryKeyValidator.validateStrict(Seq("1", key).toDF("id"), "id")).getMessage
      assert(expected.endsWith(s": $reason=1 (1 of 2 rows invalid)"), expected)
      val cfg = SyncConfig(db, Seq(TableSyncConfig(
        name = "pvb_table", filePath = csvFile(s"id,name\n1,a\n$key,b\n"), mode = "diff",
        primaryKey = "id", deleteNotInFile = true)))
      val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
      assert(e.getMessage == expected)
      assert(query("SELECT id, name FROM pvb_table") == Seq(Seq(1L, "keep")))
    }

  test("a failed sync releases the overwrite snapshots it pinned, in compute or in write") {
    // threshold 1 pins snap_a's file snapshot for the post-commit
    // append; snap_b then fails, first in its change-set collect (a
    // duplicate key), then in the write phase (a VARCHAR(5) overflow)
    dropIfExists("snap_a")
    dropIfExists("snap_b")
    exec(
      "CREATE TABLE snap_a (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE snap_b (id INT PRIMARY KEY, name VARCHAR(5))",
      "INSERT INTO snap_a VALUES (9, 'keep')",
      "INSERT INTO snap_b VALUES (9, 'keep')")
    for (bFile <- Seq("id,name\n5,x\n5,y\n", "id,name\n5,waytoolong\n")) {
      val cfg = SyncConfig(db, Seq(
        TableSyncConfig(name = "snap_a", filePath = csvFile("id,name\n1,a\n2,b\n"),
          mode = "overwrite"),
        TableSyncConfig(name = "snap_b", filePath = csvFile(bFile), mode = "diff",
          primaryKey = "id")),
        overwriteDistributedThreshold = 1L)
      spark.catalog.clearCache()
      intercept[Exception](SyncRunner.run(spark, cfg))
      assert(spark.sharedState.cacheManager.isEmpty, bFile)
      assert(query("SELECT id, name FROM snap_a") == Seq(Seq(9, "keep")), bFile)
      assert(query("SELECT id, name FROM snap_b") == Seq(Seq(9, "keep")), bFile)
    }
  }

  test("tables compute at once, but the error is the first failing table's in insert order") {
    // det_a (first in insert order) fails after the collect of a 20k-row
    // file; det_b fails after the collect of a two-row one, sooner
    dropIfExists("det_a")
    dropIfExists("det_b")
    exec(
      "CREATE TABLE det_a (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE det_b (id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO det_a VALUES (1, 'keep')",
      "INSERT INTO det_b VALUES (1, 'keep')")
    val aFile = csvFile("id,name\n" + (1 to 20000).map(i => s"$i,n$i").mkString("\n") + "\n7,dup\n")
    val cfg = SyncConfig(db, Seq(
      TableSyncConfig(name = "det_b", filePath = csvFile("id,name\n2,x\n,y\n"), mode = "diff",
        primaryKey = "id", deleteNotInFile = true),
      TableSyncConfig(name = "det_a", filePath = aFile, mode = "diff",
        primaryKey = "id", deleteNotInFile = true)))
    val messages = (1 to 5).map(_ => intercept[IllegalArgumentException](SyncRunner.run(spark, cfg)).getMessage)
    assert(messages.forall(_ ==
      "primary key validation failed for column 'id': duplicate=2 (2 of 20001 rows invalid)"), messages)
    assert(query("SELECT id, name FROM det_a") == Seq(Seq(1, "keep")))
    assert(query("SELECT id, name FROM det_b") == Seq(Seq(1, "keep")))
  }

  test("a failing multi-table sync cancels the other tables' jobs and ends its pool") {
    // job_b's rows are locked, so its scan stalls until job_a's
    // failure cancels it
    dropIfExists("job_a")
    dropIfExists("job_b")
    exec(
      "CREATE TABLE job_a (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE job_b (id INT PRIMARY KEY, name VARCHAR(50))",
      "INSERT INTO job_a VALUES (1, 'keep')",
      "INSERT INTO job_b VALUES (1, 'keep')")
    val locker = DriverManager.getConnection(db.url)
    locker.setAutoCommit(false)
    locker.createStatement().executeUpdate("UPDATE job_b SET name = 'locked' WHERE id = 1")
    try {
      val cfg = SyncConfig(db, Seq(
        TableSyncConfig(name = "job_a", filePath = csvFile("id,name\n3,x\n3,y\n"), mode = "diff",
          primaryKey = "id"),
        TableSyncConfig(name = "job_b", filePath = csvFile("id,name\n1,changed\n"), mode = "diff",
          primaryKey = "id")))
      val t0 = System.nanoTime()
      val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage.contains("duplicate=2"))
      assert(secs < 30, s"job_b's stalled scan was waited out, not cancelled ($secs s)")
      val pool = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(th => th.getName.matches("graft-sync-\\d+-compute-\\d+") && th.isAlive)
      assert(pool.isEmpty, pool.map(_.getName).mkString(", "))
      // job ends reach the status store through the listener bus; the
      // stalled scan cannot end on its own while the lock is held
      eventually(timeout(10.seconds), interval(50.millis)) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      }
    } finally { locker.rollback(); locker.close() }
    assert(query("SELECT id, name FROM job_a") == Seq(Seq(1, "keep")))
    assert(query("SELECT id, name FROM job_b") == Seq(Seq(1, "keep")))
  }

  test("a two-table sync stalled on its child table aborts at the deadline, both unchanged") {
    dropIfExists("stall_child")
    dropIfExists("stall_parent")
    exec(
      "CREATE TABLE stall_parent (id INT PRIMARY KEY, name VARCHAR(50))",
      "CREATE TABLE stall_child (id INT PRIMARY KEY, pid INT REFERENCES stall_parent(id), " +
        "name VARCHAR(50))",
      "INSERT INTO stall_parent VALUES (1, 'p1'), (2, 'p2')",
      "INSERT INTO stall_child VALUES (10, 1, 'c10'), (20, 2, 'c20')")
    val locker = DriverManager.getConnection(db.url)
    locker.setAutoCommit(false)
    locker.createStatement().executeUpdate(
      "UPDATE stall_child SET name = 'locked' WHERE id = 10")
    try {
      val cfg = SyncConfig(db, Seq(
        TableSyncConfig(name = "stall_child", filePath = csvFile("id,pid,name\n10,1,x\n30,3,y\n"),
          mode = "diff", primaryKey = "id", dependencies = Seq("stall_parent")),
        TableSyncConfig(name = "stall_parent", filePath = csvFile("id,name\n1,p1x\n3,p3\n"),
          mode = "diff", primaryKey = "id")),
        timeoutSeconds = 2)
      val t0 = System.nanoTime()
      intercept[SyncTimeoutException](SyncRunner.run(spark, cfg))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 45, s"deadline did not cut the Derby 60s lock wait short ($secs s)")
    } finally { locker.rollback(); locker.close() }
    assert(query("SELECT id, name FROM stall_parent ORDER BY id") ==
      Seq(Seq(1, "p1"), Seq(2, "p2")))
    assert(query("SELECT id, pid, name FROM stall_child ORDER BY id") ==
      Seq(Seq(10, 1, "c10"), Seq(20, 2, "c20")))
  }

  test("an RFC3339-shaped value that names no instant syncs raw into VARCHAR") {
    // Go's time.Parse rejects both, and convertValue passes the string on
    dropIfExists("badts_v")
    exec("CREATE TABLE badts_v (id INT PRIMARY KEY, ts VARCHAR(40))")
    val f = csvFile("id,ts\n1,2023-02-30T00:00:00Z\n2,2023-01-01T24:00:00Z\n")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "badts_v", filePath = f, mode = "diff", primaryKey = "id")))).head
    assert(r.inserts == 2)
    assert(query("SELECT id, ts FROM badts_v ORDER BY id") ==
      Seq(Seq(1, "2023-02-30T00:00:00Z"), Seq(2, "2023-01-01T24:00:00Z")))
  }

  test("an RFC3339-shaped value that names no instant fails a TIMESTAMP column before any write") {
    dropIfExists("badts_t")
    exec(
      "CREATE TABLE badts_t (id INT PRIMARY KEY, ts TIMESTAMP)",
      "INSERT INTO badts_t VALUES (1, TIMESTAMP('2023-01-01 00:00:00'))")
    val f = csvFile("id,ts\n1,2023-01-02T00:00:00Z\n2,2023-02-30T00:00:00Z\n")
    val e = intercept[Exception](SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "badts_t", filePath = f, mode = "diff", primaryKey = "id",
      deleteNotInFile = true)))))
    assert(e.getMessage.contains("CAST_INVALID_INPUT") &&
      e.getMessage.contains("2023-02-30T00:00:00Z"), e.getMessage)
    assert(query("SELECT id, ts FROM badts_t") ==
      Seq(Seq(1, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"))))
  }

  test("RFC3339 converts per cell: a mixed column keeps its plain cells raw") {
    // the reference's convertValue, per cell; a per-column sniff would
    // leave the mixed column all raw. All-RFC3339 and plain columns keep
    // the per-column result.
    dropIfExists("mixts_t")
    exec("CREATE TABLE mixts_t (id INT PRIMARY KEY, mixed VARCHAR(40), alls VARCHAR(40), " +
      "plain VARCHAR(40), ts TIMESTAMP)")
    val f = csvFile("id,mixed,alls,plain,ts\n" +
      "1,2023-12-25T16:30:45+09:00,2023-12-25T15:30:45Z,a,2023-12-25T15:30:45Z\n" +
      "2,not a time,2023-12-26T10:00:00.5Z,2023-12-25 15:30:45,2023-12-26 10:00:00\n")
    SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "mixts_t", filePath = f, mode = "diff", primaryKey = "id"))))
    assert(query("SELECT id, mixed, alls, plain, ts FROM mixts_t ORDER BY id") == Seq(
      Seq(1, "2023-12-25 07:30:45", "2023-12-25 15:30:45", "a",
        java.sql.Timestamp.valueOf("2023-12-25 15:30:45")),
      Seq(2, "not a time", "2023-12-26 10:00:00.5", "2023-12-25 15:30:45",
        java.sql.Timestamp.valueOf("2023-12-26 10:00:00"))))
  }

  test("a short or long row fails the sync before any write, in diff and overwrite mode") {
    // `extra` is not a sync column, yet every header column is checked,
    // also when the table names its columns
    dropIfExists("shape_t")
    exec("CREATE TABLE shape_t (id INT PRIMARY KEY, name VARCHAR(20))",
      "INSERT INTO shape_t VALUES (9, 'keep')")
    for (mode <- Seq("diff", "overwrite"); bad <- Seq("2,b", "2,y,b,z");
         columns <- Seq(Nil, Seq("id", "name"))) {
      val f = csvFile(s"id,extra,name\n1,x,a\n$bad\n")
      val e = intercept[Exception](SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
        name = "shape_t", filePath = f, mode = mode, primaryKey = "id", columns = columns,
        deleteNotInFile = mode == "diff")))))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.getMessage.contains("MALFORMED_CSV_RECORD")),
        s"$mode $bad $columns: $e")
      assert(query("SELECT id, name FROM shape_t") == Seq(Seq(9, "keep")), s"$mode $bad $columns")
    }
  }

  test("a CSV column casts as it stands into BOOLEAN and numeric columns") {
    // the RFC3339 conversion feeds string, date and timestamp columns
    // only: a timestamp has no BOOLEAN cast, and it is not a number
    dropIfExists("boolcsv_t")
    exec("CREATE TABLE boolcsv_t (id INT PRIMARY KEY, flag BOOLEAN, n INT)")
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "boolcsv_t", filePath = csvFile("id,flag,n\n1,true,5\n2,false,6\n"),
      mode = "diff", primaryKey = "id")))).head
    assert(r.inserts == 2)
    assert(query("SELECT id, flag, n FROM boolcsv_t ORDER BY id") ==
      Seq(Seq(1, true, 5), Seq(2, false, 6)))
    val e = intercept[Exception](SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "boolcsv_t", filePath = csvFile("id,flag,n\n1,true,5\n3,true,2023-01-01T00:00:00Z\n"),
      mode = "diff", primaryKey = "id")))))
    assert(e.getMessage.contains("CAST_INVALID_INPUT") &&
      e.getMessage.contains("2023-01-01T00:00:00Z"), e.getMessage)
    assert(query("SELECT id FROM boolcsv_t ORDER BY id") == Seq(Seq(1), Seq(2)))
  }

  test("a 0-byte CSV follows empty-file semantics") {
    dropIfExists("zb_t")
    exec("CREATE TABLE zb_t (id INT PRIMARY KEY, name VARCHAR(20))",
      "INSERT INTO zb_t VALUES (1, 'a'), (2, 'b')")
    val f = csvFile("")
    val noop = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "zb_t", filePath = f, mode = "diff", primaryKey = "id")))).head
    assert((noop.inserts, noop.updates, noop.deletes) == ((0, 0, 0)))
    val r = SyncRunner.run(spark, SyncConfig(db, Seq(TableSyncConfig(
      name = "zb_t", filePath = f, mode = "diff", primaryKey = "id",
      deleteNotInFile = true)))).head
    assert(r.deletes == 2)
    assert(query("SELECT COUNT(*) FROM zb_t").head.head == 0)
  }

  private def jsonFile(content: String): String = {
    val f = Files.createTempDirectory("graft-sync").resolve("data.json")
    Files.writeString(f, content)
    f.toString
  }

  /** Syncs each JSON file content in diff and both overwrite paths and
    * asserts it fails with its message before any write. The checks are
    * observed by the table's one full action: they must see every
    * record, also where the overwrite path reads a snapshot. */
  private def assertJsonFailsBeforeWrite(inputs: Seq[(String, String => String)]): Unit = {
    dropIfExists("jbad_t")
    exec("CREATE TABLE jbad_t (id INT PRIMARY KEY, name VARCHAR(20))",
      "INSERT INTO jbad_t VALUES (9, 'keep')")
    for ((content, message) <- inputs; (mode, thr) <- Seq(("diff", 500000L),
         ("overwrite", 500000L), ("overwrite", 1L))) {
      val f = jsonFile(content)
      val cfg = SyncConfig(db, Seq(TableSyncConfig(name = "jbad_t", filePath = f, mode = mode,
        primaryKey = "id", deleteNotInFile = mode == "diff")), overwriteDistributedThreshold = thr)
      spark.catalog.clearCache()
      val e = intercept[IllegalArgumentException](SyncRunner.run(spark, cfg))
      assert(e.getMessage == message(f), s"$mode $thr $content")
      assert(query("SELECT id, name FROM jbad_t") == Seq(Seq(9, "keep")), s"$mode $thr $content")
      assert(spark.sharedState.cacheManager.isEmpty, s"$mode $thr $content")
    }
  }

  test("invalid JSON or a missing key fails the sync before any write, in diff and both overwrite paths") {
    assertJsonFailsBeforeWrite(Seq(
      """[{"id": 1, "name": "a"}, {"id": 2, "name": "b"""" -> (p => s"invalid JSON in $p"),
      "[1, 2]" -> (p => s"invalid JSON in $p"),
      """[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}, {"id": 3}]""" ->
        (p => s"JSON file '$p', record 2: missing required key 'name'")))
  }

  test("a null record or text after the JSON value fails the sync before any write") {
    // the reference unmarshals a null element to a nil map, which lacks
    // the first required key, and rejects any text after the value
    assertJsonFailsBeforeWrite(Seq(
      """[{"id": 1, "name": "a"}, null]""" ->
        (p => s"JSON file '$p', record 1: missing required key 'id'"),
      """[{"id": 1, "name": "a"}] x""" -> (p => s"invalid JSON in $p"),
      """[{"id": 1, "name": "a"}] [{"id": 2, "name": "b"}]""" -> (p => s"invalid JSON in $p"),
      """{"id": 1, "name": "a"} }""" -> (p => s"invalid JSON in $p")))
  }

  test("a JSON sync runs no more Spark jobs than its CSV twin, in diff and overwrite mode") {
    dropIfExists("jtwin_t")
    exec("CREATE TABLE jtwin_t (id INT PRIMARY KEY, name VARCHAR(20), score DOUBLE)")
    val rows = Seq((1, "a", 1.5), (2, "b", 2.25), (3, "c", 3.0))
    val csv = csvFile("id,name,score\n" + rows.map { case (i, n, v) => s"$i,$n,$v" }.mkString("\n"))
    val json = jsonFile(rows.map { case (i, n, v) => s"""{"id": $i, "name": "$n", "score": $v}""" }
      .mkString("[", ",", "]"))
    for (mode <- Seq("diff", "overwrite")) {
      def jobs(f: String): Int = {
        exec("DELETE FROM jtwin_t", "INSERT INTO jtwin_t VALUES (1, 'old', 1.5), (9, 'x', 0.0)")
        val n = JobCount(spark, "graft-sync-")(SyncRunner.run(spark, SyncConfig(db, Seq(
          TableSyncConfig(name = "jtwin_t", filePath = f, mode = mode, primaryKey = "id",
            deleteNotInFile = mode == "diff")))))
        assert(query("SELECT id, name, score FROM jtwin_t ORDER BY id") ==
          rows.map { case (i, n, v) => Seq(i, n, v) }, s"$mode $f")
        n
      }
      val (csvJobs, jsonJobs) = (jobs(csv), jobs(json))
      info(s"$mode: JSON $jsonJobs jobs, CSV $csvJobs")
      assert(jsonJobs <= csvJobs, s"$mode: JSON $jsonJobs jobs, CSV $csvJobs")
    }
  }

  test("a two-table FK diff sync runs at most 6 Spark jobs") {
    // one change-set collect per table, 3 jobs each under AQE (two
    // shuffle map stages and the result): the file reads add none
    dropIfExists("jobs_child")
    dropIfExists("jobs_parent")
    exec(
      "CREATE TABLE jobs_parent (id INT PRIMARY KEY, name VARCHAR(50), ts TIMESTAMP)",
      "CREATE TABLE jobs_child (id INT PRIMARY KEY, pid INT REFERENCES jobs_parent(id), " +
        "v VARCHAR(50))",
      "INSERT INTO jobs_parent VALUES (1, 'p1', TIMESTAMP('2023-01-01 00:00:00')), " +
        "(2, 'p2', TIMESTAMP('2023-01-01 00:00:00'))",
      "INSERT INTO jobs_child VALUES (10, 1, 'c10'), (20, 2, 'c20')")
    val cfg = SyncConfig(db, Seq(
      TableSyncConfig(name = "jobs_child", filePath = csvFile("id,pid,v\n10,1,c10x\n30,3,c30\n"),
        mode = "diff", primaryKey = "id", deleteNotInFile = true, dependencies = Seq("jobs_parent")),
      TableSyncConfig(name = "jobs_parent",
        filePath = csvFile("id,name,ts\n1,p1,2023-01-01T00:00:00Z\n3,p3,2023-06-01T12:00:00Z\n"),
        mode = "diff", primaryKey = "id", deleteNotInFile = true)))
    val jobs = JobCount(spark, "graft-sync-")(SyncRunner.run(spark, cfg))
    assert(jobs <= 6, s"$jobs jobs")
    assert(query("SELECT id FROM jobs_parent ORDER BY id") == Seq(Seq(1), Seq(3)))
    assert(query("SELECT id, pid, v FROM jobs_child ORDER BY id") ==
      Seq(Seq(10, 1, "c10x"), Seq(30, 3, "c30")))
  }
}
