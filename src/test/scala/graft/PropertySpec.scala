package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Differ
import graft.operators.{AsOfJoin, Sessionize}

/** Property-based checks of the relational operators against naive
  * in-memory reference computations on random inputs. Few cases each
  * (every case runs Spark jobs), but the inputs cover duplicates,
  * empties, and collisions that hand-written examples miss.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(8)
    .withWorkers(1)

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("diff partitions keys exactly like set algebra") {
    import spark.implicits._
    // nullable values cover null-safe change detection; the file's
    // String key against the DB's Int key covers cross-type key equality
    val genSide = Gen.mapOf(Gen.zip(Gen.choose(0, 15), Gen.option(Gen.choose(0, 2))))
    check("diff", Prop.forAll(genSide, genSide) { (fileM, dbM) =>
      val file = fileM.toSeq.map { case (k, v) => (k.toString, v) }
      val d = Differ.diff(file.toDF("id", "v"), dbM.toSeq.toDF("id", "v"), "id")
      val ins = d.toInsert.select("id").as[String].collect().toSet
      val upd = d.toUpdate.select("id").as[String].collect().toSet
      val del = d.toDelete.select("id").as[Int].collect().toSet
      val expIns = fileM.keySet.diff(dbM.keySet).map(_.toString)
      val expDel = dbM.keySet.diff(fileM.keySet)
      val expUpd = fileM.keySet.intersect(dbM.keySet)
        .filter(k => fileM(k) != dbM(k)).map(_.toString)
      ins == expIns && del == expDel && upd == expUpd
    })
  }

  test("asof backward equals the naive per-row maximum") {
    import spark.implicits._
    val genLeft = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L)))
    val genRight = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L), Gen.choose(100L, 999L)))
    check("asof", Prop.forAll(genLeft, genRight) { (l0, r0) =>
      val l = l0.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      // unique (key, time) on the right: keep max payload
      val r = r0.groupBy(x => (x._1, x._2)).values.map(_.maxBy(_._3)).toSeq
      val left = l.toDF("lid", "k", "t")
      val right = r.toDF("rk", "rt", "pay")
      val got = AsOfJoin.backward(left, right, "k", "rk", "t", "rt",
          Seq("pay"), inner = false)
        .select("lid", "pay").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      val exp = l.map { case (lid, k, t) =>
        val cands = r.filter(x => x._1 == k && x._2 <= t)
        lid -> (if (cands.isEmpty) None
                else Some(cands.maxBy(x => (x._2, x._3))._3))
      }.toMap
      got == exp
    })
  }

  test("prefix sum equals the sequential scan for any values and order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val genRows = Gen.nonEmptyListOf(Gen.choose(-50L, 50L))
    check("prefixSum", Prop.forAll(genRows) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val got = graft.operators.PrefixSum
        .runningSum(rows.toDF("id", "v").repartition(5), Seq(col("id")), "v")
        .select("id", "cum").as[(Long, Long)].collect().toMap
      val exp = rows.scanLeft((-1L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
        .drop(1).toMap
      got == exp
    })
  }

  test("scd2 invariants: one open row per surviving key, intervals ordered") {
    import spark.implicits._
    val genSide = Gen.mapOf(Gen.zip(Gen.choose(0, 12), Gen.choose(0, 2)))
    check("scd2", Prop.forAll(genSide, genSide) { (oldM, newM) =>
      val old = oldM.toSeq.map { case (k, v) => (k.toLong, v.toLong) }
      val nu = newM.toSeq.map { case (k, v) => (k.toLong, v.toLong) }
      val hist = graft.operators.Scd2
        .fromSnapshots(old.toDF("k", "v"), nu.toDF("k", "v"), "k", Seq("v"))
        .select("k", "v", "valid_from", "valid_to", "is_current")
        .as[(Long, Long, Long, Option[Long], Boolean)].collect().toSeq
      val byKey = hist.groupBy(_._1)
      // every key in new has exactly one open current row carrying new's value;
      // keys only in old have exactly one closed row; no key has more rows
      // than 2; open rows are exactly the is_current ones
      byKey.forall { case (k, rows) =>
        val open = rows.filter(_._4.isEmpty)
        val current = rows.filter(_._5)
        open == current &&
          (newM.contains(k.toInt) match {
            case true => open.size == 1 && open.head._2 == newM(k.toInt).toLong
            case false => open.isEmpty && rows.size == 1 && !rows.head._5
          }) && rows.size <= 2
      } && hist.map(_._1).toSet == (oldM.keySet ++ newM.keySet).map(_.toLong)
    })
  }

  test("scd2 round-trip: asOf(batch) reconstructs each snapshot exactly") {
    import spark.implicits._
    val genSide = Gen.mapOf(Gen.zip(Gen.choose(0, 12), Gen.choose(0, 2)))
    check("scd2AsOf", Prop.forAll(genSide, genSide) { (oldM, newM) =>
      val old = oldM.toSeq.map { case (k, v) => (k.toLong, v.toLong) }
      val nu = newM.toSeq.map { case (k, v) => (k.toLong, v.toLong) }
      val hist = graft.operators.Scd2
        .fromSnapshots(old.toDF("k", "v"), nu.toDF("k", "v"), "k", Seq("v"))
      def snap(batch: Long) = graft.operators.Scd2.asOf(hist, batch)
        .as[(Long, Long)].collect().toSet
      snap(1L) == old.toSet && snap(2L) == nu.toSet
    })
  }

  test("token chunks cover every token at least once") {
    import spark.implicits._
    val genDoc = Gen.choose(0, 40).map(n => (1 to n).map(i => s"w$i").mkString(" "))
    check("chunks", Prop.forAll(genDoc, Gen.choose(1, 6), Gen.choose(1, 6)) {
      (text, size0, stride0) =>
        val (size, stride) = (math.max(size0, stride0), math.min(size0, stride0))
        val n = if (text.isEmpty) 0 else text.split(" ").length
        val starts = graft.operators.TextAnalysis
          .tokenChunks(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text",
            size, stride)
          .select("chunk_id", "n_tokens").as[(Long, Long)].collect()
        val covered = starts.flatMap { case (cid, len) =>
          val st = cid * stride
          (st until st + len)
        }.toSet
        covered == (0L until n.toLong).toSet || (n == 0 && starts.length == 1)
    })
  }

  test("sessionize session count equals the gap count + 1 per key") {
    import spark.implicits._
    val genEvents = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 2000L)))
    check("sessionize", Prop.forAll(genEvents) { ev0 =>
      val ev = ev0.distinct.zipWithIndex.map { case ((k, s), i) =>
        (i.toLong, k, new java.sql.Timestamp(s * 1000L))
      }
      val gap = 300L
      val got = Sessionize.sessions(ev.toDF("event_id", "k", "ts"), "k", "ts", gap, "event_id")
        .groupBy("k").count().as[(Long, Long)].collect().toMap
      val exp = ev.groupBy(_._2).map { case (k, es) =>
        val times = es.map(_._3.getTime / 1000L).sorted
        k -> (1L + times.zip(times.tail).count { case (a, b) => b - a > gap })
      }
      got == exp
    })
  }
}
