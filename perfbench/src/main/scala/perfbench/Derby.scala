package perfbench

import java.sql.{Connection, DriverManager, Timestamp}

import graft.config.DbConfig

/** The embedded in-memory Derby target: DDL, bulk load, and the reads
  * the correctness gate uses. In-memory Derby has no durable log, so no
  * figure here reflects a storage device.
  */
final class Derby(name: String) {
  import Derby.TableState

  val db: DbConfig = DbConfig(s"jdbc:derby:memory:$name;create=true")

  def connect(): Connection = {
    val c = DriverManager.getConnection(db.url)
    c.setAutoCommit(false)
    c
  }

  def withConn[T](f: Connection => T): T = {
    val c = connect()
    // reads leave a transaction open, and Derby refuses to close then
    try f(c) finally { c.rollback(); c.close() }
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  /** Creates `customer` and `orders` with primary keys; `fkTables` adds
    * the `orders.o_custkey -> customer` foreign key and the sync-managed
    * `created_at`/`updated_at` columns on both tables.
    */
  def createSchema(fkTables: Boolean): Unit = withConn { c =>
    val ts = if (fkTables) ", created_at TIMESTAMP, updated_at TIMESTAMP" else ""
    exec(c, "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, " +
      s"c_name VARCHAR(25), c_nationkey INT, c_acctbal DOUBLE, c_mktsegment VARCHAR(10)$ts)")
    val fkSql = if (fkTables) ", FOREIGN KEY (o_custkey) REFERENCES customer (c_custkey)" else ""
    exec(c, "CREATE TABLE orders (o_orderkey BIGINT NOT NULL PRIMARY KEY, " +
      "o_custkey BIGINT, o_orderstatus VARCHAR(1), o_totalprice DOUBLE, " +
      s"o_orderdate TIMESTAMP, o_orderpriority VARCHAR(15)$ts$fkSql)")
    c.commit()
  }

  /** Replaces both tables' rows with `s` in one transaction. */
  def load(s: Gen.State, tsCols: Boolean): Unit = withConn { c =>
    exec(c, "DELETE FROM orders")
    exec(c, "DELETE FROM customer")
    val ts = if (tsCols) ", created_at, updated_at" else ""
    val tsQ = if (tsCols) ", ?, ?" else ""
    val pc = c.prepareStatement(
      s"INSERT INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment$ts) VALUES (?, ?, ?, ?, ?$tsQ)")
    try {
      s.customers.iterator.zipWithIndex.foreach { case (r, i) =>
        pc.setLong(1, r.key); pc.setString(2, r.name); pc.setInt(3, r.nation)
        pc.setDouble(4, r.acctCents / 100.0); pc.setString(5, r.segment)
        if (tsCols) { pc.setTimestamp(6, Derby.LoadStamp); pc.setTimestamp(7, Derby.LoadStamp) }
        pc.addBatch()
        if (i % 1000 == 999) pc.executeBatch()
      }
      pc.executeBatch()
    } finally pc.close()
    val po = c.prepareStatement(
      "INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
        s"o_orderpriority$ts) VALUES (?, ?, ?, ?, ?, ?$tsQ)")
    try {
      s.orders.iterator.zipWithIndex.foreach { case (r, i) =>
        po.setLong(1, r.key); po.setLong(2, r.cust); po.setString(3, r.status)
        po.setDouble(4, r.priceCents / 100.0)
        po.setTimestamp(5, new Timestamp(Gen.epochMillis(r.day)))
        po.setString(6, r.priority)
        if (tsCols) { po.setTimestamp(7, Derby.LoadStamp); po.setTimestamp(8, Derby.LoadStamp) }
        po.addBatch()
        if (i % 1000 == 999) po.executeBatch()
      }
      po.executeBatch()
    } finally po.close()
    c.commit()
  }

  private def cents(d: Double): Long = math.round(d * 100)

  def orders(tsCols: Boolean): TableState = withConn { c =>
    val ts = if (tsCols) ", created_at, updated_at" else ""
    val st = c.createStatement()
    val rs = st.executeQuery("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
      s"o_orderdate, o_orderpriority$ts FROM orders")
    var sum = Gen.Checksum.Empty
    val stamps = Map.newBuilder[Long, (Timestamp, Timestamp)]
    try while (rs.next()) {
      val day = Math.floorDiv(rs.getTimestamp(5).getTime, 86400000L).toInt
      val o = Gen.Order(rs.getLong(1), rs.getLong(2), rs.getString(3), cents(rs.getDouble(4)),
        day, rs.getString(6))
      sum = sum.add(o.canonical)
      if (tsCols) stamps += o.key -> ((rs.getTimestamp(7), rs.getTimestamp(8)))
    } finally { rs.close(); st.close() }
    TableState(sum, stamps.result())
  }

  def customers(tsCols: Boolean): TableState = withConn { c =>
    val ts = if (tsCols) ", created_at, updated_at" else ""
    val st = c.createStatement()
    val rs = st.executeQuery(
      s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment$ts FROM customer")
    var sum = Gen.Checksum.Empty
    val stamps = Map.newBuilder[Long, (Timestamp, Timestamp)]
    try while (rs.next()) {
      val r = Gen.Customer(rs.getLong(1), rs.getString(2), rs.getInt(3), cents(rs.getDouble(4)),
        rs.getString(5))
      sum = sum.add(r.canonical)
      if (tsCols) stamps += r.key -> ((rs.getTimestamp(6), rs.getTimestamp(7)))
    } finally { rs.close(); st.close() }
    TableState(sum, stamps.result())
  }
}

object Derby {
  /** One table's live state: the checksum of its data columns and, when
    * present, each row's `created_at`/`updated_at`.
    */
  final case class TableState(sum: Gen.Checksum, stamps: Map[Long, (Timestamp, Timestamp)])

  /** `created_at`/`updated_at` of every pre-loaded row. */
  val LoadStamp: Timestamp = Timestamp.valueOf("2020-01-01 00:00:00")
}
