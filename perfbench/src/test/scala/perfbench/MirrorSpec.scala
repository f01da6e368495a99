package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The mirrored-file design on a small Derby load: syncing B's files
  * then A's returns the DB to its pre-state, through both the real
  * `SyncRunner.run` and the span replica, and the correctness gate
  * passes each op and rejects a wrong state.
  */
class MirrorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("perfbench-mirror").toFile

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def cycle(w: SyncWorkload): Unit = {
    w.prepare()
    val spans = new Spans
    Seq(Plain, Plain, Spanned, Spanned).zipWithIndex.foreach { case (kind, seq) =>
      val t0 = System.currentTimeMillis()
      val out = w.op(seq, kind, spans)
      assert(w.check(seq, out, t0).isEmpty, s"op $seq ($kind)")
      // the same outcome judged as the opposite direction must fail
      assert(w.check(seq + 1, out, t0).nonEmpty)
    }
    assert(spans.all.exists(_.name == Layers.Differ) || spans.all.exists(_.name == Layers.SyncRunner))
  }

  test("FK churn: mirrored CSV files go A -> B -> A, real run and replica") {
    val base = Gen.base(3L, 40)
    cycle(new SyncWorkload("mirror_fk", spark, new java.io.File(work, "fk"),
      Gen.fkChurn(3L, base, 4, 30), Shape.FkChurn))
  }

  test("low churn: orders-only diff") {
    val base = Gen.base(4L, 40)
    cycle(new SyncWorkload("mirror_low", spark, new java.io.File(work, "low"),
      Gen.ordersChurn(4L, base, 5), Shape.OrdersDiff))
  }

  test("overwrite from JSON arrays") {
    val base = Gen.base(5L, 40)
    cycle(new SyncWorkload("mirror_json", spark, new java.io.File(work, "json"),
      Gen.ordersChurn(5L, base, 5), Shape.OrdersOverwriteJson))
  }
}
