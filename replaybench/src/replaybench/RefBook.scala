package replaybench

import java.util.{Map => JMap, TreeMap => JTreeMap}

final class RefBookException(msg: String) extends RuntimeException(msg)

/** One side of the reference book: a sorted price → qty map. It shares no
  * code with the program's kernel, so the benchmark's expected outputs do
  * not inherit a kernel defect. Bids rank highest price first, asks lowest
  * price first. */
final class RefSide(val isBid: Boolean) {
  private val levels = new JTreeMap[java.lang.Long, java.lang.Long]()

  def levelCount: Int = levels.size
  def qtyAt(price: Long): Long = {
    val q = levels.get(price)
    if (q == null) 0L else q.longValue
  }

  private def ranked: java.util.Iterator[JMap.Entry[java.lang.Long, java.lang.Long]] =
    (if (isBid) levels.descendingMap() else levels).entrySet().iterator()

  /** Nearest existing level at or behind `price` (further from the touch),
    * else the nearest ahead of it; null on an empty side. */
  def nearestLevel(price: Long): java.lang.Long = {
    val behind = if (isBid) levels.floorKey(price) else levels.ceilingKey(price)
    if (behind != null) behind
    else if (isBid) levels.ceilingKey(price) else levels.floorKey(price)
  }

  /** True when `price` is among the n best levels. */
  def isTracked(price: Long, n: Int): Boolean = {
    val it = ranked
    var k = 0
    while (k < n && it.hasNext) {
      if (it.next().getKey.longValue == price) return true
      k += 1
    }
    false
  }

  /** Writes (price_1..n, qty_1..n) into vals/nulls from `offset`. */
  def topInto(n: Int, vals: Array[Long], nulls: Array[Boolean], offset: Int): Unit = {
    val it = ranked
    var i = 0
    while (i < n) {
      if (it.hasNext) {
        val e = it.next()
        vals(offset + i) = e.getKey.longValue; nulls(offset + i) = false
        vals(offset + n + i) = e.getValue.longValue; nulls(offset + n + i) = false
      } else {
        nulls(offset + i) = true; nulls(offset + n + i) = true
      }
      i += 1
    }
  }

  def set(price: Long, qty: Long): Unit =
    if (qty == 0L) levels.remove(price) else levels.put(price, qty)

  def add(price: Long, qty: Long): Unit = levels.put(price, qtyAt(price) + qty)

  def delete(price: Long, qty: Long): Unit = {
    val cur = levels.get(price)
    if (cur == null) throw new RefBookException(s"delete of absent level $price")
    if (qty > cur) throw new RefBookException(s"delete of $qty exceeds $cur at $price")
    if (qty == cur.longValue) levels.remove(price) else levels.put(price, cur - qty)
  }
}

/** The reference two-sided book with the three operator semantics and the
  * exact counts the core layer reports: removals of a tracked (top-n)
  * level, and the deepest side seen. */
final class RefBook(val n: Int) {
  val bids = new RefSide(isBid = true)
  val asks = new RefSide(isBid = false)
  var trackedRemovals = 0L
  var levelsMax = 0

  def side(isBid: Boolean): RefSide = if (isBid) bids else asks

  private def removing(s: RefSide, price: Long): Unit =
    if (s.isTracked(price, n)) trackedRemovals += 1

  private def touched(s: RefSide): Unit =
    if (s.levelCount > levelsMax) levelsMax = s.levelCount

  private def delete(s: RefSide, price: Long, qty: Long): Unit = {
    if (qty == s.qtyAt(price)) removing(s, price)
    s.delete(price, qty)
  }

  private def add(s: RefSide, price: Long, qty: Long): Unit = {
    s.add(price, qty); touched(s)
  }

  /** O1: the level's absolute qty; 0 removes it. */
  def update(isBid: Boolean, price: Long, qty: Long): Unit = {
    val s = side(isBid)
    if (qty == 0L) { if (s.qtyAt(price) != 0L) removing(s, price) }
    s.set(price, qty); touched(s)
  }

  /** O2: signed delta; 0 is a no-op. */
  def mutate(isBid: Boolean, price: Long, qty: Long): Unit =
    if (qty > 0) add(side(isBid), price, qty)
    else if (qty < 0) delete(side(isBid), price, -qty)

  /** O3: the nine-case table of mutations with optional prev price/qty. */
  def mutateWithModify(isBid: Boolean, price: Long, qty: Long,
                       prevPrice: java.lang.Long, prevQty: java.lang.Long): Unit = {
    val s = side(isBid)
    if (prevQty == null && prevPrice != null)
      throw new RefBookException("prev_price without prev_qty")
    if (qty > 0) {
      if (prevQty != null && prevPrice != null) {
        delete(s, prevPrice, prevQty); add(s, price, qty)
      } else if (prevQty == null) add(s, price, qty)
      else delete(s, price, prevQty - qty)
    } else if (qty == 0) {
      if (prevQty != null) delete(s, if (prevPrice == null) price else prevPrice.longValue, prevQty)
    } else {
      if (prevQty != null || prevPrice != null)
        throw new RefBookException("negative qty with prev columns")
      delete(s, price, -qty)
    }
  }

  /** Grouped snapshot: bid_price_1..n, bid_qty_1..n, ask_price_1..n,
    * ask_qty_1..n. */
  def snapshot(vals: Array[Long], nulls: Array[Boolean]): Unit = {
    bids.topInto(n, vals, nulls, 0)
    asks.topInto(n, vals, nulls, 2 * n)
  }
}

/** Order-independent digest of replay output rows: the row count and the
  * wrapping sum of one 64-bit hash per (product, seq, 4n level values). */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
}

object RowHash {
  private final val NullTag = 0x5bd1e9955bd1e995L

  def mix(z0: Long): Long = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def start(product: Long, seq: Long): Long = mix(mix(product) ^ seq)

  def add(h: Long, v: Long, isNull: Boolean): Long =
    mix(h ^ (if (isNull) NullTag else v + 1L))

  def of(product: Long, seq: Long, vals: Array[Long], nulls: Array[Boolean]): Long = {
    var h = start(product, seq)
    var i = 0
    while (i < vals.length) { h = add(h, vals(i), nulls(i)); i += 1 }
    h
  }
}
