package graft.sinks

import java.sql.{Connection, DatabaseMetaData, DriverManager, PreparedStatement, ResultSet, Timestamp}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.config.DbConfig

/** Transactional JDBC sync sink.
  *
  * Spark's built-in JDBC writer can only append/overwrite and commits
  * per partition; the reference requires UPDATE, targeted DELETE, and
  * ALL-OR-NOTHING semantics across every operation (and across every
  * table in multi-table mode — `dbsync.go:917-930`). The design
  * (SURVEY §7.4): diff outputs are *small by construction* (changed
  * rows only), so they are collected to the driver and replayed over
  * ONE JDBC connection in ONE transaction — multi-row INSERT
  * (`dbsync.go:783-827`), prepared-statement UPDATE reuse
  * (`dbsync.go:830-891`), chunked IN-list DELETE (`dbsync.go:895-913`)
  * — then committed once.
  *
  * Scale path: an overwrite whose file is too large to collect
  * deletes inside the transaction, commits, then loads the file with
  * [[appendDistributed]] — Spark's parallel JDBC writer with batched
  * statements (semantics-relaxing: per-partition commits). Diffs take
  * the single-transaction path only, the parity default.
  */
object JdbcSyncWriter {

  /** Rows collected per JDBC batch execution. */
  val BatchSize = 1000
  /** Max keys per DELETE ... IN (...) statement. */
  val DeleteChunk = 1000

  def connect(db: DbConfig): Connection = {
    val c = DriverManager.getConnection(db.url, db.properties)
    c.setAutoCommit(false)
    c
  }

  /** Rolls back `conn`, swallowing a failure of the rollback itself:
    * called while another exception propagates, which must not be
    * replaced. An interrupt-aborted connection is already dead (and
    * rolled back server-side), so its explicit rollback throws too.
    */
  def rollbackQuietly(conn: Connection): Unit =
    try conn.rollback() catch { case _: Throwable => () }

  /** Closes `conn`, swallowing a failure (e.g. of a dead connection). */
  def closeQuietly(conn: Connection): Unit =
    try conn.close() catch { case _: Throwable => () }

  /** Rows of a JDBC metadata query (`getTables`, `getColumns`) for
    * `table`, read by `row`.
    *
    * The metadata calls take LIKE patterns, so `_`/`%` in the names are
    * escaped with the driver's escape string. A `schema.table` name
    * looks in that schema, an unqualified name in the connection's
    * current schema (in any schema only when the driver reports none) —
    * otherwise a same-named table elsewhere would answer for it. The
    * name is tried as given, upper- and lower-cased (unquoted
    * identifiers are case-normalized differently per catalog), and the
    * first variant with a hit wins. Where the driver cannot escape (Derby
    * reports an EMPTY escape string) `_` still matches any character,
    * so every row is re-checked against the exact schema and name.
    */
  private def tableMetadata[A](conn: Connection, table: String)(
      query: (DatabaseMetaData, String, String) => ResultSet)(row: ResultSet => A): Seq[A] = {
    val md = conn.getMetaData
    val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
    def pat(n: String): String = esc match {
      case Some(e) => n.replace(e, e + e).replace("_", e + "_").replace("%", e + "%")
      case None => n
    }
    val (schema, name) = table.split("\\.") match {
      case Array(sc, t) => (Some(sc), t)
      case _ =>
        (try Option(conn.getSchema) catch { case _: Exception => None }, table)
    }
    val variants: Seq[String => String] = Seq(identity, _.toUpperCase, _.toLowerCase)
    variants.iterator.map { v =>
      val sc = schema.map(v)
      val n = v(name)
      val rs = query(md, sc.map(pat).orNull, pat(n))
      try {
        val buf = scala.collection.mutable.ArrayBuffer[A]()
        while (rs.next())
          if (rs.getString("TABLE_NAME") == n &&
              sc.forall(_ == rs.getString("TABLE_SCHEM")))
            buf += row(rs)
        buf.toSeq
      } finally rs.close()
    }.find(_.nonEmpty).getOrElse(Nil)
  }

  /** Live table columns in ordinal order via JDBC metadata
    * ([[tableMetadata]]; reference `getTableColumns`,
    * `dbsync.go:253-279`), lower-cased.
    */
  def tableColumns(conn: Connection, table: String): Seq[String] =
    tableMetadata(conn, table)(_.getColumns(null, _, _, null))(rs =>
      rs.getInt("ORDINAL_POSITION") -> rs.getString("COLUMN_NAME").toLowerCase)
      .sortBy(_._1).map(_._2)

  /** Current DB state as a DataFrame (reference `getCurrentDBData`,
    * `dbsync.go:597-679` — but a lazy scan, not a driver-side map).
    */
  def readTable(spark: SparkSession, db: DbConfig, table: String): DataFrame =
    spark.read.jdbc(db.url, table, db.properties)

  private def setParam(ps: PreparedStatement, i: Int, v: Any): Unit = v match {
    case null => ps.setObject(i, null)
    case t: Timestamp => ps.setTimestamp(i, t)
    case t: java.time.Instant => ps.setTimestamp(i, Timestamp.from(t))
    case t: java.time.LocalDateTime => ps.setTimestamp(i, Timestamp.valueOf(t))
    case d: java.sql.Date => ps.setDate(i, d)
    case other => ps.setObject(i, other)
  }

  /** Multi-row INSERT of collected rows. Timestamp columns not already
    * in the column set are appended and set to now() (reference
    * `dbsync.go:793-818`).
    */
  def bulkInsert(
      conn: Connection,
      table: String,
      cols: Seq[String],
      rows: Seq[Row],
      timestampCols: Seq[String] = Nil): Int = {
    if (rows.isEmpty) return 0
    val extraTs = timestampCols.filterNot(cols.contains)
    val allCols = cols ++ extraTs
    val placeholders = allCols.map(_ => "?").mkString("(", ", ", ")")
    val sql = s"INSERT INTO $table (${allCols.mkString(", ")}) VALUES $placeholders"
    val ps = conn.prepareStatement(sql)
    try {
      val now = Timestamp.from(java.time.Instant.now())
      var n = 0
      rows.foreach { r =>
        cols.zipWithIndex.foreach { case (c, i) =>
          setParam(ps, i + 1, r.getAs[Any](c))
        }
        extraTs.zipWithIndex.foreach { case (_, i) =>
          ps.setTimestamp(cols.size + i + 1, now)
        }
        ps.addBatch()
        n += 1
        if (n % BatchSize == 0) ps.executeBatch()
      }
      ps.executeBatch()
      rows.size
    } finally ps.close()
  }

  /** Prepared-statement UPDATE per row (batched). The SET list excludes
    * the PK and immutable columns; timestamp columns are refreshed to
    * now() except immutable ones (reference `dbsync.go:830-891`).
    */
  def bulkUpdate(
      conn: Connection,
      table: String,
      cols: Seq[String],
      pk: String,
      rows: Seq[Row],
      timestampCols: Seq[String] = Nil,
      immutableCols: Seq[String] = Nil): Int = {
    if (rows.isEmpty) return 0
    val setCols = cols.filterNot(c => c == pk || immutableCols.contains(c))
    val extraTs = timestampCols.filterNot(c => cols.contains(c) || immutableCols.contains(c))
    // A row can reach toUpdate with nothing settable (the reference
    // compares immutable columns too, it just never writes them) —
    // an empty SET list would be malformed SQL, so skip.
    if (setCols.isEmpty && extraTs.isEmpty) return 0
    val setList = (setCols.map(c => s"$c = ?") ++ extraTs.map(c => s"$c = ?")).mkString(", ")
    val sql = s"UPDATE $table SET $setList WHERE $pk = ?"
    val ps = conn.prepareStatement(sql)
    try {
      val now = Timestamp.from(java.time.Instant.now())
      var n = 0
      rows.foreach { r =>
        var i = 1
        setCols.foreach { c => setParam(ps, i, r.getAs[Any](c)); i += 1 }
        extraTs.foreach { _ => ps.setTimestamp(i, now); i += 1 }
        setParam(ps, i, r.getAs[Any](pk))
        ps.addBatch()
        n += 1
        if (n % BatchSize == 0) ps.executeBatch()
      }
      ps.executeBatch()
      rows.size
    } finally ps.close()
  }

  /** Chunked DELETE ... WHERE pk IN (...) (reference `dbsync.go:895-913`). */
  def bulkDelete(
      conn: Connection,
      table: String,
      pk: String,
      keys: Seq[Any]): Int = {
    if (keys.isEmpty) return 0
    keys.grouped(DeleteChunk).foreach { chunk =>
      val sql = s"DELETE FROM $table WHERE $pk IN (${chunk.map(_ => "?").mkString(", ")})"
      val ps = conn.prepareStatement(sql)
      try {
        chunk.zipWithIndex.foreach { case (k, i) => setParam(ps, i + 1, k) }
        ps.executeUpdate()
      } finally ps.close()
    }
    keys.size
  }

  /** Transactional DELETE-all (DELETE, not TRUNCATE, so it stays inside
    * the transaction — reference `dbsync.go:494-518`).
    */
  def deleteAll(conn: Connection, table: String): Int = {
    val st = conn.createStatement()
    try st.executeUpdate(s"DELETE FROM $table")
    finally st.close()
  }

  /** Scale-out append: Spark's parallel JDBC writer (executors write
    * batched inserts concurrently). Use for large insert sets where
    * per-partition commit semantics are acceptable.
    */
  def appendDistributed(df: DataFrame, db: DbConfig, table: String,
      batchSize: Int = BatchSize): Unit =
    df.write
      .mode("append")
      .option("batchsize", batchSize)
      .jdbc(db.url, table, db.properties)
}
