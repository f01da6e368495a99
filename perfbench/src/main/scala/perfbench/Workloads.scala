package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

import graft.config.{SyncConfig, TableSyncConfig}
import graft.core.{SyncResult, SyncRunner}

/** How one op runs: untraced, the real op under the detailed listener,
  * or (sync workloads) the span replica under the detailed listener.
  */
sealed trait Kind
case object Plain extends Kind
case object Listened extends Kind
case object Spanned extends Kind

/** What an op returned, for the correctness gate and the trace. */
final case class Outcome(
    results: Seq[SyncResult] = Nil,
    replica: Option[Replica.Counts] = None,
    hashes: Map[String, Long] = Map.empty)

trait Workload {
  def name: String
  /** Input rows per op: file rows over all tables, or docs x queries. */
  def rowsPerOp: Long
  /** Kinds a traced run cycles through. */
  def tracedKinds: Seq[Kind]
  /** Builds the inputs and the program's starting state. */
  def prepare(): Unit
  /** Runs op `seq` (the timed part). */
  def op(seq: Int, kind: Kind, spans: Spans): Outcome
  /** Checks op `seq`'s outputs; None when correct. */
  def check(seq: Int, out: Outcome, startMs: Long): Option[String]
  /** Puts the program in the state op `seq` expects. */
  def recover(seq: Int): Unit
}

/** The shape of a sync workload's tables, files and mode. */
sealed abstract class Shape(val fkTables: Boolean, val overwriteJson: Boolean)
object Shape {
  /** `customer` <- `orders` with a real FK, `dependencies` and
    * `created_at`/`updated_at` columns; CSV files, diff mode.
    */
  case object FkChurn extends Shape(fkTables = true, overwriteJson = false)
  /** `orders` only; CSV files, diff mode. */
  case object OrdersDiff extends Shape(fkTables = false, overwriteJson = false)
  /** `orders` only; a JSON array file, overwrite mode. */
  case object OrdersOverwriteJson extends Shape(fkTables = false, overwriteJson = true)
}

/** A file -> DB sync workload over mirrored states A and B: even ops
  * sync B's files into a DB holding A, odd ops sync A's files back, so
  * every op is a real sync with the same counts and the DB never needs
  * a reset between ops.
  */
final class SyncWorkload(
    val name: String,
    spark: SparkSession,
    work: File,
    pair: => Gen.Pair,
    shape: Shape) extends Workload {

  private lazy val p = pair
  private val derby = new Derby(s"perfbench_$name")
  private val fk = shape.fkTables
  private val overwrite = shape.overwriteJson
  private val ext = if (overwrite) "json" else "csv"
  private def file(state: String, table: String) = new File(work, s"$state/$table.$ext")
  private val tables = if (fk) Seq("customer", "orders") else Seq("orders")

  val tracedKinds: Seq[Kind] = Seq(Plain, Listened, Spanned)

  def rowsPerOp: Long =
    p.a.orders.size.toLong + (if (fk) p.a.customers.size.toLong else 0L)

  /** Rows per input file, by path. */
  lazy val fileRows: Map[String, Long] = Seq("a" -> p.a, "b" -> p.b).flatMap { case (s, st) =>
    Seq(file(s, "orders").getPath -> st.orders.size.toLong,
      file(s, "customer").getPath -> st.customers.size.toLong)
  }.toMap

  private lazy val sums = Map(
    "a" -> (Gen.ordersChecksum(p.a.orders), Gen.customersChecksum(p.a.customers)),
    "b" -> (Gen.ordersChecksum(p.b.orders), Gen.customersChecksum(p.b.customers)))

  def prepare(): Unit = {
    Seq("a" -> p.a, "b" -> p.b).foreach { case (s, st) =>
      if (overwrite) Gen.writeOrdersJson(file(s, "orders"), st.orders)
      else Gen.writeOrdersCsv(file(s, "orders"), st.orders)
      if (fk) Gen.writeCustomersCsv(file(s, "customer"), st.customers)
    }
    derby.createSchema(fk)
    derby.load(loadedState(p.a), tsCols = fk)
    sums // expected checksums are set-up work, not the first check's
  }

  // without the customer table in the sync, the DB holds orders only
  private def loadedState(s: Gen.State) = if (fk) s else s.copy(customers = Vector.empty)

  private def target(seq: Int) = if (seq % 2 == 0) "b" else "a"

  def config(seq: Int): SyncConfig = {
    val ts = if (fk) Seq("created_at", "updated_at") else Nil
    val imm = if (fk) Seq("created_at") else Nil
    def table(t: String, pk: String, deps: Seq[String]) = TableSyncConfig(
      name = t, filePath = file(target(seq), t).getPath,
      mode = if (overwrite) SyncConfig.ModeOverwrite else SyncConfig.ModeDiff,
      primaryKey = pk, deleteNotInFile = !overwrite,
      timestampColumns = ts, immutableColumns = imm, dependencies = deps)
    SyncConfig(derby.db,
      (if (fk) Seq(table("customer", "c_custkey", Nil)) else Nil) :+
        table("orders", "o_orderkey", if (fk) Seq("customer") else Nil))
  }

  def op(seq: Int, kind: Kind, spans: Spans): Outcome = kind match {
    case Spanned =>
      val (rs, counts) = Replica.run(spark, config(seq), spans, fileRows)
      Outcome(rs, Some(counts))
    case _ => Outcome(SyncRunner.run(spark, config(seq)))
  }

  private def delta(table: String, seq: Int): Gen.Delta = {
    val d = if (table == "orders") p.orders else p.customers
    if (target(seq) == "b") d else d.reverse
  }

  /** Expected (inserts, updates, deletes) of op `seq` on `table`. */
  def expectedCounts(table: String, seq: Int): (Int, Int, Int) =
    if (overwrite) {
      val st = if (target(seq) == "b") p.b else p.a
      (if (table == "orders") st.orders.size else st.customers.size, 0, 0)
    } else {
      val d = delta(table, seq)
      (d.inserted.size, d.updated.size, d.deleted.size)
    }

  def check(seq: Int, out: Outcome, startMs: Long): Option[String] = {
    val errs = Seq.newBuilder[String]
    tables.foreach { t =>
      out.results.find(_.table == t) match {
        case None => errs += s"$t: no SyncResult"
        case Some(r) =>
          val exp = expectedCounts(t, seq)
          if ((r.inserts, r.updates, r.deletes) != exp)
            errs += s"$t: counts ${(r.inserts, r.updates, r.deletes)} != expected $exp"
      }
    }
    val (expO, expC) = sums(target(seq))
    val o = derby.orders(tsCols = fk)
    if (o.sum != expO) errs += s"orders: state ${o.sum} != expected $expO"
    val c = if (fk) Some(derby.customers(tsCols = true)) else None
    c.foreach(cs => if (cs.sum != expC) errs += s"customer: state ${cs.sum} != expected $expC")
    if (fk) {
      errs ++= stampErrors("orders", o.stamps, delta("orders", seq), startMs)
      c.foreach(cs => errs ++= stampErrors("customer", cs.stamps, delta("customer", seq), startMs))
    }
    val e = errs.result()
    if (e.isEmpty) None else Some(e.mkString("; "))
  }

  /** `updated_at` set by this op on inserted and updated rows,
    * `created_at` untouched on updated rows.
    */
  private def stampErrors(table: String, stamps: Map[Long, (java.sql.Timestamp, java.sql.Timestamp)],
      d: Gen.Delta, startMs: Long): Seq[String] = {
    def fresh(t: java.sql.Timestamp) = t != null && t.getTime >= startMs
    val badUpd = d.updated.count { k =>
      stamps.get(k).forall { case (cr, up) => cr != Derby.LoadStamp || !fresh(up) }
    }
    val badIns = d.inserted.count(k => stamps.get(k).forall { case (cr, up) => !fresh(cr) || !fresh(up) })
    Seq(
      if (badUpd > 0) Some(s"$table: $badUpd updated rows with wrong created_at/updated_at") else None,
      if (badIns > 0) Some(s"$table: $badIns inserted rows with stale timestamps") else None).flatten
  }

  def recover(seq: Int): Unit =
    derby.load(loadedState(if (target(seq) == "b") p.a else p.b), tsCols = fk)
}

/** One pass over the stored-artifact LM scoring queries, run through
  * `SparkEntry.queries` over a generated `documents` table. The
  * artifacts the queries read are built by the first (set-up) pass,
  * whose result hashes every later pass must reproduce.
  */
final class LmWorkload(spark: SparkSession, work: File, seed: Long, nDocs: Int,
    val queries: Seq[String]) extends Workload {
  val name = "lm_score"
  private val dir = new File(work, "sf").getPath
  private var expected = Map.empty[String, Long]

  val tracedKinds: Seq[Kind] = Seq(Plain, Spanned)
  def rowsPerOp: Long = nDocs.toLong * queries.size

  def prepare(): Unit = {
    import spark.implicits._
    Gen.documents(seed, nDocs).map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def op(seq: Int, kind: Kind, spans: Spans): Outcome = spans("op") {
    Outcome(hashes = queries.map { q =>
      q -> spans(s"query.$q") {
        LmWorkload.hash(graft.SparkEntry.queries(q)(spark, dir).collect())
      }
    }.toMap)
  }

  def check(seq: Int, out: Outcome, startMs: Long): Option[String] =
    if (expected.isEmpty) { expected = out.hashes; None }
    else {
      val bad = queries.filter(q => out.hashes.get(q) != expected.get(q))
      if (bad.isEmpty) None else Some(s"result hash differs from the set-up pass: ${bad.mkString(", ")}")
    }

  def recover(seq: Int): Unit = ()
}

object LmWorkload {
  /** Order-independent hash of a query result. */
  def hash(rows: Array[Row]): Long = {
    val c = Gen.checksum(rows.iterator.map(_.toSeq.map(String.valueOf).mkString("|")))
    c.sum * 31 + c.rows
  }
}
