package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("call sites map to the layer whose source file issued the action") {
    assert(Layers.of("collect at SyncRunner.scala:322") == Layers.SyncRunner)
    assert(Layers.of("collect at PrimaryKeyValidator.scala:74") == Layers.PkValidator)
    assert(Layers.of("csv at Readers.scala:41") == Layers.Readers)
    assert(Layers.of("collect at Ranking.scala:1200") == Layers.Ranking)
    assert(Layers.of("save at JdbcSyncWriter.scala:260") == Layers.JdbcWrite)
    assert(Layers.of("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") == Layers.Other)
    assert(Layers.of("") == Layers.Other)
    assert(Layers.of(null) == Layers.Other)
  }

  test("interval union counts overlaps once") {
    assert(Spans.unionLength(Nil) == 0L)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Spans.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Spans.unionLength(Seq((5L, 5L))) == 0L)
  }

  test("self time is a span's duration less its children's") {
    val sp = new Spans
    sp("op") {
      sp("a")(Thread.sleep(30))
      sp("b")(sp("c")(Thread.sleep(30)))
    }
    val all = sp.all
    val self = sp.selfTimes(all)
    def id(n: String) = all.find(_.name == n).get.id
    assert(all.find(_.name == "c").get.parent == id("b"))
    assert(self(id("b")) < 0.02)
    assert(self(id("c")) >= 0.025)
    assert(self(id("op")) < all.find(_.name == "op").get.durS - 0.05)
  }

  test("result JSON carries the four contract keys") {
    val j = Main.resultJson(true, 3, 0, Seq("op_s" -> (1.5, "s")))
    assert(j == """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"op_s": {"value": 1.5, "unit": "s"}}}""")
  }
}
