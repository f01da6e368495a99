package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, ZoneOffset}

import scala.util.Random
import scala.util.hashing.MurmurHash3

/** Deterministic input generator. Every table, file and expected state
  * is a pure function of the seed, so one seed always yields the same
  * inputs. Shapes follow the sf0.1 TPC-H-ish test tables: `orders` has
  * the same six columns (one of them an RFC3339 timestamp in the files),
  * `customer` the same five, `documents` the same five with a 31-word
  * vocabulary.
  *
  * Prices and balances are integral cents, rendered with two decimals,
  * so file text, Derby DOUBLE and the checksum agree exactly.
  */
object Gen {

  final case class Customer(key: Long, name: String, nation: Int, acctCents: Long, segment: String) {
    def canonical: String = s"$key|$name|$nation|$acctCents|$segment"
  }

  final case class Order(key: Long, cust: Long, status: String, priceCents: Long, day: Int, priority: String) {
    def canonical: String = s"$key|$cust|$status|$priceCents|$day|$priority"
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** One side of a mirrored pair: the rows of every synced table. */
  final case class State(customers: Vector[Customer], orders: Vector[Order])

  /** Keys that differ between two states of one table. */
  final case class Delta(inserted: Set[Long], updated: Set[Long], deleted: Set[Long]) {
    def reverse: Delta = Delta(deleted, updated, inserted)
  }

  /** A mirrored pair: syncing `b`'s file into a DB holding `a` applies
    * `aToB`; syncing `a`'s file back applies `aToB.reverse`. Both are
    * real syncs with the same insert, update and delete counts.
    */
  final case class Pair(a: State, b: State, orders: Delta, customers: Delta)

  val OrdersPerCustomer = 10
  val Statuses = Vector("O", "F", "P")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Words = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs = Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val Sources = 20
  private val FirstDay = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  private val Days = 2400

  private def customer(r: Random, key: Long): Customer =
    Customer(key, f"Customer#$key%09d", r.nextInt(25),
      r.nextInt(1099999) - 99999L, Segments(r.nextInt(Segments.size)))

  private def order(r: Random, key: Long, cust: Long): Order =
    Order(key, cust, Statuses(r.nextInt(Statuses.size)),
      90000L + r.nextInt(50000000), FirstDay + r.nextInt(Days),
      Priorities(r.nextInt(Priorities.size)))

  /** `nCust` customers with exactly [[OrdersPerCustomer]] orders each,
    * order keys `0 until nCust * 10`, customers assigned by a seeded
    * permutation.
    */
  def base(seed: Long, nCust: Int): State = {
    val r = new Random(seed)
    val customers = Vector.tabulate(nCust)(i => customer(r, i.toLong))
    val owners = r.shuffle(Vector.tabulate(nCust * OrdersPerCustomer)(_ / OrdersPerCustomer))
    val orders = owners.zipWithIndex.map { case (c, i) => order(r, i.toLong, c.toLong) }
    State(customers, orders)
  }

  private def changedOrder(r: Random, o: Order): Order = {
    val bump = 1L + r.nextInt(99999)
    o.copy(priceCents = o.priceCents + (if (r.nextBoolean()) bump else -bump),
      status = Statuses(r.nextInt(Statuses.size)))
  }

  private def changedCustomer(r: Random, c: Customer): Customer = {
    val bump = 1L + r.nextInt(99999)
    c.copy(acctCents = c.acctCents + (if (r.nextBoolean()) bump else -bump),
      segment = Segments(r.nextInt(Segments.size)))
  }

  /** Orders-only churn: `n` orders each inserted, updated and deleted.
    * Inserted orders take fresh keys and reference surviving customers;
    * the customer table does not change.
    */
  def ordersChurn(seed: Long, a: State, n: Int): Pair = {
    val r = new Random(seed ^ 0x5eedL)
    val picked = r.shuffle(a.orders.indices.toVector).take(2 * n)
    val deleted = picked.take(n).map(a.orders(_).key).toSet
    val updated = picked.drop(n).map(a.orders(_).key).toSet
    val next = a.orders.size.toLong
    val survivors = a.orders.filterNot(o => deleted.contains(o.key))
      .map(o => if (updated.contains(o.key)) changedOrder(r, o) else o)
    val custKeys = a.customers.map(_.key)
    val inserted = Vector.tabulate(n)(i =>
      order(r, next + i, custKeys(r.nextInt(custKeys.size))))
    Pair(a, State(a.customers, survivors ++ inserted),
      Delta(inserted.map(_.key).toSet, updated, deleted), Delta(Set.empty, Set.empty, Set.empty))
  }

  /** FK-consistent churn of both tables: `nCust` customers each
    * inserted, updated and deleted, and with them every order of a
    * deleted customer deleted, [[OrdersPerCustomer]] orders inserted
    * for each new customer, and `nOrdUpd` surviving orders updated.
    * Updates never change `o_custkey`, so in both sync directions the
    * child-first deletes and parent-first inserts never violate the
    * FK.
    */
  def fkChurn(seed: Long, a: State, nCust: Int, nOrdUpd: Int): Pair = {
    val r = new Random(seed ^ 0xf00dL)
    val picked = r.shuffle(a.customers.indices.toVector).take(2 * nCust)
    val delCust = picked.take(nCust).map(a.customers(_).key).toSet
    val updCust = picked.drop(nCust).map(a.customers(_).key).toSet
    val delOrd = a.orders.filter(o => delCust.contains(o.cust)).map(_.key).toSet
    val survivingOrd = a.orders.indices.filterNot(i => delOrd.contains(a.orders(i).key))
    val updOrd = r.shuffle(survivingOrd.toVector).take(nOrdUpd).map(a.orders(_).key).toSet
    val nextCust = a.customers.size.toLong
    val newCust = Vector.tabulate(nCust)(i => customer(r, nextCust + i))
    val nextOrd = a.orders.size.toLong
    val newOrd = Vector.tabulate(nCust * OrdersPerCustomer)(i =>
      order(r, nextOrd + i, newCust(i / OrdersPerCustomer).key))
    val customers = a.customers.filterNot(c => delCust.contains(c.key))
      .map(c => if (updCust.contains(c.key)) changedCustomer(r, c) else c) ++ newCust
    val orders = a.orders.filterNot(o => delOrd.contains(o.key))
      .map(o => if (updOrd.contains(o.key)) changedOrder(r, o) else o) ++ newOrd
    Pair(a, State(customers, orders),
      Delta(newOrd.map(_.key).toSet, updOrd, delOrd),
      Delta(newCust.map(_.key).toSet, updCust, delCust))
  }

  /** `n` documents in the sf0.1 `documents` shape: 10 to 100 words
    * each, languages weighted as in sf0.1, sources round-robin.
    */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = new Random(seed ^ 0xd0cL)
    Vector.tabulate(n) { i =>
      val len = 10 + r.nextInt(91)
      val text = Vector.fill(len)(Words(r.nextInt(Words.size))).mkString(" ")
      val u = r.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > u).map(_._1).getOrElse(Langs.last._1)
      Doc(i.toLong, text, lang, s"src${i % Sources}")
    }
  }

  // ---- rendering ----

  def cents(c: Long): String = {
    val sign = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"$sign${a / 100}%d.${a % 100}%02d"
  }

  def rfc3339(day: Int): String = s"${LocalDate.ofEpochDay(day.toLong)}T00:00:00Z"

  def epochMillis(day: Int): Long =
    LocalDate.ofEpochDay(day.toLong).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  val OrderColumns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
  val CustomerColumns = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
  }

  def writeOrdersCsv(f: File, rows: Seq[Order]): Unit = {
    val w = writer(f)
    try {
      w.write(OrderColumns.mkString(",")); w.newLine()
      rows.foreach { o =>
        w.write(s"${o.key},${o.cust},${o.status},${cents(o.priceCents)},${rfc3339(o.day)},${o.priority}")
        w.newLine()
      }
    } finally w.close()
  }

  def writeCustomersCsv(f: File, rows: Seq[Customer]): Unit = {
    val w = writer(f)
    try {
      w.write(CustomerColumns.mkString(",")); w.newLine()
      rows.foreach { c =>
        w.write(s"${c.key},${c.name},${c.nation},${cents(c.acctCents)},${c.segment}")
        w.newLine()
      }
    } finally w.close()
  }

  /** A JSON array of objects, one record per line (the multiLine shape
    * the JSON reader expects).
    */
  def writeOrdersJson(f: File, rows: Seq[Order]): Unit = {
    val w = writer(f)
    try {
      w.write("["); w.newLine()
      rows.iterator.zipWithIndex.foreach { case (o, i) =>
        if (i > 0) { w.write(","); w.newLine() }
        w.write(s"""{"o_orderkey": ${o.key}, "o_custkey": ${o.cust}, "o_orderstatus": "${o.status}", """ +
          s""""o_totalprice": ${cents(o.priceCents)}, "o_orderdate": "${rfc3339(o.day)}", """ +
          s""""o_orderpriority": "${o.priority}"}""")
      }
      w.newLine(); w.write("]"); w.newLine()
    } finally w.close()
  }

  // ---- order-independent checksums ----

  /** 64-bit hash of one row's canonical text. */
  def rowHash(canonical: String): Long =
    (MurmurHash3.stringHash(canonical, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(canonical, 0x2f1b9e3d).toLong & 0xffffffffL)

  /** Row count plus the wrapping sum of row hashes: equal for equal
    * multisets of rows, whatever their order.
    */
  final case class Checksum(rows: Long, sum: Long) {
    def add(canonical: String): Checksum = Checksum(rows + 1, sum + rowHash(canonical))
  }
  object Checksum { val Empty: Checksum = Checksum(0L, 0L) }

  def checksum(canonicals: Iterator[String]): Checksum =
    canonicals.foldLeft(Checksum.Empty)(_ add _)

  def ordersChecksum(rows: Seq[Order]): Checksum = checksum(rows.iterator.map(_.canonical))
  def customersChecksum(rows: Seq[Customer]): Checksum = checksum(rows.iterator.map(_.canonical))
}
