package perfbench

import scala.collection.mutable

/** One row of the `sql_session` table. */
final case class OrderRow(key: Long, cust: Long, status: String,
    price: Double, priority: String) {
  def values: String = s"($key, $cust, '$status', $price, '$priority')"
}

/** One client operation: a statement group the session runs as a unit.
  * Reads carry the rows the table must return, rendered by [[Render]].
  */
sealed trait Op {
  def kind: String
  def isWrite: Boolean
  def statements: Seq[String]
}

object Op {
  val Table = "ord"
  val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"

  final case class PointRead(key: Long) extends Op {
    val kind = "point"; val isWrite = false
    def statements = Seq(s"SELECT $Cols FROM $Table WHERE o_orderkey = $key")
  }
  final case class RangeRead(lo: Long, width: Long) extends Op {
    val kind = "range"; val isWrite = false
    def statements = Seq(s"SET @lo = $lo",
      s"SELECT count(*) AS n, coalesce(sum(o_custkey), 0) AS s FROM $Table " +
        s"WHERE o_orderkey BETWEEN @lo AND @lo + $width")
  }
  case object GroupRead extends Op {
    val kind = "group"; val isWrite = false
    def statements = Seq(
      s"SELECT o_orderstatus, count(*) AS n FROM $Table GROUP BY o_orderstatus")
  }
  final case class IndexRead(cust: Long) extends Op {
    val kind = "index"; val isWrite = false
    def statements = Seq(s"SELECT o_orderkey FROM $Table WHERE o_custkey = $cust")
  }
  final case class Insert(row: OrderRow) extends Op {
    val kind = "insert"; val isWrite = true
    def statements = Seq(s"INSERT INTO $Table VALUES ${row.values}")
  }
  final case class Replace(row: OrderRow) extends Op {
    val kind = "replace"; val isWrite = true
    def statements = Seq(s"REPLACE INTO $Table VALUES ${row.values}")
  }
  final case class Delete(key: Long) extends Op {
    val kind = "delete"; val isWrite = true
    def statements = Seq(s"DELETE FROM $Table WHERE o_orderkey = $key")
  }
  final case class Txn(ins: OrderRow, del: Long) extends Op {
    val kind = "txn"; val isWrite = true
    def statements = Seq("BEGIN", s"INSERT INTO $Table VALUES ${ins.values}",
      s"DELETE FROM $Table WHERE o_orderkey = $del", "COMMIT")
  }

  /** The op mix of one block: 12 reads and 8 writes (60% / 40%). */
  val Block: Seq[String] =
    Seq.fill(4)("point") ++ Seq.fill(3)("range") ++ Seq.fill(2)("group") ++
      Seq.fill(3)("index") ++ Seq.fill(3)("insert") ++ Seq.fill(2)("replace") ++
      Seq.fill(2)("delete") ++ Seq("txn")
}

/** Canonical rendering of result values, shared by the engine's rows and
  * the model's expectations: numbers by value (a BIGINT sum may come back
  * as DECIMAL), strings and NULL tagged so they never collide.
  */
object Render {
  def value(v: Any): String = v match {
    case null => "N"
    case d: Double => "D:" + BigDecimal(d).underlying.stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case n: java.math.BigDecimal => "D:" + n.stripTrailingZeros.toPlainString
    case n: BigDecimal => value(n.underlying)
    case n: Number => "D:" + new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case s: String => "S:" + s
    case o => "O:" + o.toString
  }
  def row(vs: Seq[Any]): String = vs.map(value).mkString("|")
  /** Rows as a sorted list: the check is order-insensitive. */
  def rows(rs: Seq[Seq[Any]]): Seq[String] = rs.map(row).sorted
}

/** The generator's in-memory model of the table. */
final class TableModel(initial: Iterable[OrderRow]) {
  private val rows = mutable.TreeMap.empty[Long, OrderRow]
  // live keys in an indexable buffer, so a seeded pick is O(1) and the
  // pick sequence depends only on the op history
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  initial.foreach(put)

  def size: Int = rows.size
  def contains(k: Long): Boolean = rows.contains(k)
  def keyAt(i: Int): Long = keys(i)
  def get(k: Long): Option[OrderRow] = rows.get(k)
  def maxKey: Long = if (rows.isEmpty) 0L else rows.lastKey
  def keyChecksum: Long = rows.keysIterator.sum

  def put(r: OrderRow): Unit = {
    if (!rows.contains(r.key)) { slot(r.key) = keys.size; keys += r.key }
    rows(r.key) = r
  }
  def remove(k: Long): Boolean = rows.remove(k).isDefined && {
    val i = slot.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; slot(last) = i }
    true
  }

  /** Rows a read must return. */
  def expected(op: Op): Seq[Seq[Any]] = op match {
    case Op.PointRead(k) =>
      rows.get(k).toSeq.map(r => Seq(r.key, r.cust, r.status, r.price, r.priority))
    case Op.RangeRead(lo, w) =>
      val in = rows.range(lo, lo + w + 1).values
      Seq(Seq(in.size.toLong, in.iterator.map(_.cust).sum))
    case Op.GroupRead =>
      rows.values.groupBy(_.status).map { case (s, rs) => Seq(s, rs.size.toLong) }.toSeq
    case Op.IndexRead(c) =>
      rows.values.filter(_.cust == c).map(r => Seq(r.key)).toSeq
    case _ => Seq.empty
  }

  /** Applies a write; returns the number of rows it changed. */
  def apply(op: Op): Int = op match {
    case Op.Insert(r) => put(r); 1
    case Op.Replace(r) => put(r); 1
    case Op.Delete(k) => if (remove(k)) 1 else 0
    case Op.Txn(r, k) => put(r); 1 + (if (remove(k)) 1 else 0)
    case _ => 0
  }

  /** A mismatch message, or None when `actual` is what `op` must return. */
  def check(op: Op, actual: Seq[Seq[Any]]): Option[String] = {
    val want = Render.rows(expected(op))
    val got = Render.rows(actual)
    if (want == got) None
    else Some(s"${op.kind} ${op.statements.last}: want ${want.take(3)}" +
      s"${if (want.size > 3) s" (+${want.size - 3})" else ""}, got ${got.take(3)}" +
      s"${if (got.size > 3) s" (+${got.size - 3})" else ""}")
  }
}

/** The seeded operation stream. Each op is drawn against the model's
  * state at that point, so one seed and one initial table give one
  * stream. The op kinds come in shuffled blocks of [[Op.Block]], so every
  * run carries exactly the same mix.
  */
final class OpStream(seed: Long, model: TableModel) {
  private val rng = new scala.util.Random(seed)
  private var pending = List.empty[String]
  private var nextKey = model.maxKey + 1
  private val statuses = Vector("O", "F", "P")
  private val priorities =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def liveKey(): Long = model.keyAt(rng.nextInt(model.size))
  private def freshKey(): Long = { val k = nextKey; nextKey += 1; k }
  private def row(key: Long): OrderRow = OrderRow(key,
    model.get(liveKey()).get.cust, statuses(rng.nextInt(statuses.size)),
    (10000 + rng.nextInt(40000000)) / 100.0, priorities(rng.nextInt(priorities.size)))

  def next(): Op = {
    if (pending.isEmpty) pending = rng.shuffle(Op.Block).toList
    val kind = pending.head
    pending = pending.tail
    kind match {
      case "point" =>
        // one point read in five misses
        Op.PointRead(if (rng.nextInt(5) == 0) freshKey() + 1000000L else liveKey())
      case "range" => Op.RangeRead(liveKey(), 200)
      case "group" => Op.GroupRead
      case "index" => Op.IndexRead(model.get(liveKey()).get.cust)
      case "insert" => Op.Insert(row(freshKey()))
      case "replace" => Op.Replace(row(if (rng.nextBoolean()) liveKey() else freshKey()))
      case "delete" => Op.Delete(liveKey())
      case "txn" => Op.Txn(row(freshKey()), liveKey())
    }
  }
}
