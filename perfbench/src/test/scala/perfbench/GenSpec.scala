package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val base = Gen.base(7L, 200)

  private def apply(s: Gen.State, d: Gen.Delta, target: Gen.State): Vector[Gen.Order] = {
    val byKey = target.orders.map(o => o.key -> o).toMap
    s.orders.filterNot(o => d.deleted.contains(o.key))
      .map(o => if (d.updated.contains(o.key)) byKey(o.key) else o) ++
      d.inserted.toVector.sorted.map(byKey)
  }

  test("base state has ten orders per customer, keys dense from zero") {
    assert(base.customers.map(_.key) == (0L until 200L).toVector)
    assert(base.orders.map(_.key) == (0L until 2000L).toVector)
    assert(base.orders.groupBy(_.cust).values.forall(_.size == Gen.OrdersPerCustomer))
  }

  test("same seed, same inputs; another seed, other inputs") {
    assert(Gen.base(7L, 200) == base)
    assert(Gen.ordersChurn(3L, base, 10) == Gen.ordersChurn(3L, base, 10))
    assert(Gen.base(8L, 200) != base)
    assert(Gen.documents(1L, 50) == Gen.documents(1L, 50))
  }

  test("orders churn hits the requested insert, update and delete counts") {
    val p = Gen.ordersChurn(3L, base, 10)
    val d = p.orders
    assert((d.inserted.size, d.updated.size, d.deleted.size) == (10, 10, 10))
    assert(d.inserted.intersect(base.orders.map(_.key).toSet).isEmpty)
    assert(d.updated.intersect(d.deleted).isEmpty)
    assert(p.b.orders.size == base.orders.size)
    val a = base.orders.map(o => o.key -> o).toMap
    assert(p.b.orders.filter(o => d.updated.contains(o.key)).forall(o => a(o.key) != o))
    assert(p.b.orders.filter(o => a.contains(o.key) && !d.updated.contains(o.key)).forall(o => a(o.key) == o))
    assert(p.b.customers == base.customers)
  }

  test("fk churn hits the requested counts on both tables") {
    val p = Gen.fkChurn(5L, base, 20, 150)
    assert((p.customers.inserted.size, p.customers.updated.size, p.customers.deleted.size) == (20, 20, 20))
    assert(p.orders.deleted.size == 20 * Gen.OrdersPerCustomer)
    assert(p.orders.inserted.size == 20 * Gen.OrdersPerCustomer)
    assert(p.orders.updated.size == 150)
    assert(p.b.customers.size == base.customers.size && p.b.orders.size == base.orders.size)
  }

  test("fk churn keeps both states and every intermediate FK-consistent") {
    val p = Gen.fkChurn(5L, base, 20, 150)
    for (s <- Seq(p.a, p.b)) {
      val custs = s.customers.map(_.key).toSet
      assert(s.orders.forall(o => custs.contains(o.cust)))
    }
    // in both directions: children referencing a deleted parent are
    // deleted with it, and updates never move an order to another parent
    for ((from, d) <- Seq(p.a -> p.customers, p.b -> p.customers.reverse)) {
      val od = if (from eq p.a) p.orders else p.orders.reverse
      assert(from.orders.filter(o => d.deleted.contains(o.cust)).forall(o => od.deleted.contains(o.key)))
    }
    val a = p.a.orders.map(o => o.key -> o).toMap
    assert(p.b.orders.filter(o => p.orders.updated.contains(o.key)).forall(o => a(o.key).cust == o.cust))
    assert(p.b.orders.filter(o => p.orders.inserted.contains(o.key))
      .forall(o => p.customers.inserted.contains(o.cust)))
  }

  test("mirrored deltas map A to B and back to A") {
    for (p <- Seq(Gen.ordersChurn(3L, base, 10), Gen.fkChurn(5L, base, 20, 150))) {
      assert(apply(p.a, p.orders, p.b).sortBy(_.key) == p.b.orders.sortBy(_.key))
      assert(apply(p.b, p.orders.reverse, p.a).sortBy(_.key) == p.a.orders.sortBy(_.key))
      assert(Gen.ordersChecksum(apply(p.b, p.orders.reverse, p.a)) == Gen.ordersChecksum(p.a.orders))
    }
  }

  test("checksums ignore row order and see any changed value") {
    val p = Gen.ordersChurn(3L, base, 10)
    assert(Gen.ordersChecksum(base.orders.reverse) == Gen.ordersChecksum(base.orders))
    assert(Gen.ordersChecksum(p.b.orders) != Gen.ordersChecksum(base.orders))
    assert(Gen.ordersChecksum(base.orders).rows == base.orders.size)
  }

  test("documents have the sf0.1 shape") {
    val ds = Gen.documents(1L, 400)
    assert(ds.map(_.id) == (0L until 400L).toVector)
    assert(ds.forall(d => d.text.split(" ").length >= 10 && d.text.split(" ").length <= 100))
    assert(ds.map(_.lang).toSet == Gen.Langs.map(_._1).toSet)
    assert(ds.map(_.source).distinct.size == Gen.Sources)
  }

  test("file rendering: two-decimal cents and RFC3339 dates") {
    assert(Gen.cents(7546267L) == "75462.67")
    assert(Gen.cents(-5L) == "-0.05")
    assert(Gen.rfc3339(0) == "1970-01-01T00:00:00Z")
  }
}
