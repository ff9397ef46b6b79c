package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SessionModelSpec extends AnyFunSuite {

  private def table: Seq[OrderRow] = (1L to 500L).map(k =>
    OrderRow(k * 4, k % 37, Seq("O", "F", "P")((k % 3).toInt), k * 1.25, "3-MEDIUM"))

  /** The stream a seed yields, with each write applied as the runner does. */
  private def stream(seed: Long, n: Int): Seq[Op] = {
    val model = new TableModel(table)
    val s = new OpStream(seed, model)
    (1 to n).map { _ => val op = s.next(); model.apply(op); op }
  }

  test("one seed yields one stream; another seed another") {
    assert(stream(7, 400) == stream(7, 400))
    assert(stream(7, 400) != stream(8, 400))
  }

  test("every block carries the fixed 60/40 read/write mix") {
    stream(3, 200).grouped(Op.Block.size).foreach { b =>
      assert(b.map(_.kind).sorted == Op.Block.sorted)
      assert(b.count(_.isWrite) == 8)
    }
  }

  test("reads the model answers are accepted; a planted wrong read is caught") {
    val model = new TableModel(table)
    val reads = Seq(Op.PointRead(40), Op.RangeRead(100, 200), Op.GroupRead,
      Op.IndexRead(5), Op.PointRead(41))
    reads.foreach(op => assert(model.check(op, model.expected(op)).isEmpty))
    // a wrong column value, a missing row, an extra row, a wrong count
    val point = model.expected(Op.PointRead(40)).map(r => r.updated(3, 99.0))
    assert(model.check(Op.PointRead(40), point).isDefined)
    assert(model.check(Op.IndexRead(5), model.expected(Op.IndexRead(5)).drop(1)).isDefined)
    assert(model.check(Op.PointRead(41), Seq(Seq(41L, 1L, "O", 1.0, "x"))).isDefined)
    val range = model.expected(Op.RangeRead(100, 200)).map(r => Seq(r(0), 1L))
    assert(model.check(Op.RangeRead(100, 200), range).isDefined)
  }

  test("the check ignores row order and the engine's numeric types") {
    val model = new TableModel(table)
    val idx = model.expected(Op.IndexRead(5))
    assert(idx.size > 1)
    assert(model.check(Op.IndexRead(5), idx.reverse).isEmpty)
    val range = model.expected(Op.RangeRead(100, 200)).map(r =>
      Seq(r(0), new java.math.BigDecimal(r(1).toString)))
    assert(model.check(Op.RangeRead(100, 200), range).isEmpty)
  }

  test("writes change the model the later reads are checked against") {
    val model = new TableModel(table)
    assert(model.apply(Op.Insert(OrderRow(9999, 1, "O", 2.5, "1-URGENT"))) == 1)
    assert(model.expected(Op.PointRead(9999)).nonEmpty)
    assert(model.apply(Op.Delete(9999)) == 1)
    assert(model.apply(Op.Delete(9999)) == 0)
    assert(model.expected(Op.PointRead(9999)).isEmpty)
    assert(model.apply(Op.Txn(OrderRow(10001, 1, "F", 1.5, "2-HIGH"), 4)) == 2)
    assert(model.size == 500 && !model.contains(4) && model.contains(10001))
  }
}
