package replaybench

import java.util.SplittableRandom

/** One order-book event. `prevPrice`/`prevQty` are null except for
  * modifies (O3 streams only). */
final class Event(val product: Long, val seq: Long, val price: Long, val qty: Long,
                  val isBid: Boolean, val prevPrice: java.lang.Long,
                  val prevQty: java.lang.Long)

/** A workload's input shape. `mode` 0 is O1 price updates, 2 is O3
  * mutations with modify. `depth` is the price range, in ticks, that each
  * side's levels are drawn from. `batchEvents` > 0 makes a stream. */
final case class Spec(name: String, mode: Int, products: Int, eventsPerProduct: Int,
                      depth: Int, n: Int, batchEvents: Int = 0) {
  def events: Long = products.toLong * eventsPerProduct
}

object Spec {
  val Updates = 0
  val Modify = 2

  /** Sizes keep one pass near a second on a 4-core box, so a run holds
    * several passes and replay work dominates the driver's fixed cost. */
  def of(workload: String): Spec = workload match {
    case "many_books" => Spec("many_books", Updates, 256, 8000, 60, 1)
    case "deep_book" => Spec("deep_book", Modify, 1, 300000, 3000, 10)
    case "sql_window" => Spec("sql_window", Updates, 256, 5000, 60, 1)
    // 80 events per product per batch; eventsPerProduct bounds the
    // pre-generated batches (125)
    case "stream_book" => Spec("stream_book", Updates, 64, 10000, 1000, 5, batchEvents = 5120)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  val names: Seq[String] = Seq("many_books", "deep_book", "sql_window", "stream_book")
}

/** Seeded event generators. The same (seed, product) always yields the same
  * events. Prices are drawn nearer the touch more often than deep in the
  * book, as in real order flow. */
object Gen {
  private def rng(seed: Long, product: Int): SplittableRandom =
    new SplittableRandom(RowHash.mix(seed) ^ RowHash.mix(product + 1L))

  private def mid(product: Int): Long = 1000000L + product * 100000L

  def events(spec: Spec, seed: Long, product: Int): Iterator[Event] =
    if (spec.mode == Spec.Updates) updates(spec, seed, product) else modifies(spec, seed, product)

  /** O1: absolute level quantities around a slowly wandering mid; a quarter
    * of the events remove their level. */
  def updates(spec: Spec, seed: Long, book: Int): Iterator[Event] = new Iterator[Event] {
    private val r = rng(seed, book)
    private val center = mid(book)
    private var walk = 0L
    private var i = 0
    def hasNext: Boolean = i < spec.eventsPerProduct
    def next(): Event = {
      if (i % 64 == 0) walk = math.max(-8L, math.min(8L, walk + r.nextInt(3) - 1))
      val isBid = r.nextBoolean()
      val u = r.nextDouble()
      val off = (u * u * spec.depth).toLong
      val price = if (isBid) center + walk - 1 - off else center + walk + off
      val qty = if (r.nextInt(4) == 0) 0L else 1L + r.nextInt(1000)
      val e = new Event(book, i.toLong * spec.products + book, price, qty, isBid, null, null)
      i += 1
      e
    }
  }

  /** O3: first a ladder of `depth` levels per side, then adds, deletes and
    * modifies drawn near the mid, which is where the touch stays. Every
    * delete and modify names a level and a quantity the book holds, so no
    * event fails. */
  def modifies(spec: Spec, seed: Long, book: Int): Iterator[Event] = new Iterator[Event] {
    private val r = rng(seed, book)
    private val center = mid(book)
    private val state = new RefBook(spec.n)
    private var i = 0
    def hasNext: Boolean = i < spec.eventsPerProduct

    private def seqNo: Long = i.toLong * spec.products + book
    private def inRange(isBid: Boolean, p: Long): Long =
      if (isBid) math.max(center - spec.depth, math.min(center - 1, p))
      else math.max(center, math.min(center + spec.depth - 1, p))

    private def add(isBid: Boolean, price: Long): Event = {
      val qty = 1L + r.nextInt(100)
      state.mutateWithModify(isBid, price, qty, null, null)
      new Event(book, seqNo, price, qty, isBid, null, null)
    }

    def next(): Event = {
      val e =
        if (i < 2 * spec.depth) {
          val isBid = i % 2 == 0
          add(isBid, if (isBid) center - 1 - i / 2 else center + i / 2)
        } else {
          val isBid = r.nextBoolean()
          val kind = r.nextInt(10)
          val side = state.side(isBid)
          val u = r.nextDouble()
          if (kind < 4 || side.levelCount == 0) {
            val off = (u * u * spec.depth).toLong
            add(isBid, if (isBid) center - 1 - off else center + off)
          } else {
            // drawn from the mid, not the current touch, so the book's shape
            // stays stationary and one seed costs about what another does
            val off = (u * u * u * spec.depth).toLong
            val price = side.nearestLevel(if (isBid) center - 1 - off else center + off).longValue
            val avail = side.qtyAt(price)
            if (kind < 7) {
              val d = if (r.nextBoolean()) avail else 1L + r.nextLong(avail)
              state.mutateWithModify(isBid, price, -d, null, null)
              new Event(book, seqNo, price, -d, isBid, null, null)
            } else {
              val prevQty = 1L + r.nextLong(avail)
              val newPrice = inRange(isBid, price + r.nextInt(5) - 2)
              val newQty = 1L + r.nextInt(100)
              state.mutateWithModify(isBid, newPrice, newQty, price, prevQty)
              new Event(book, seqNo, newPrice, newQty, isBid, price, prevQty)
            }
          }
        }
      i += 1
      e
    }
  }
}

/** Folds events through the reference book and digests each output row the
  * way the program's output is digested. One instance per product. */
final class RefFold(spec: Spec) {
  private val book = new RefBook(spec.n)
  private val vals = new Array[Long](4 * spec.n)
  private val nulls = new Array[Boolean](4 * spec.n)

  def trackedRemovals: Long = book.trackedRemovals
  def levelsMax: Int = book.levelsMax

  /** Applies one event and returns its output row's hash. */
  def apply(e: Event): Long = {
    if (spec.mode == Spec.Updates) book.update(e.isBid, e.price, e.qty)
    else book.mutateWithModify(e.isBid, e.price, e.qty, e.prevPrice, e.prevQty)
    book.snapshot(vals, nulls)
    RowHash.of(e.product, e.seq, vals, nulls)
  }
}

/** Expected output of one product's whole stream, with the exact core-layer
  * counts. */
final case class Expected(digest: Digest, trackedRemovals: Long, levelsMax: Int) {
  def +(o: Expected): Expected =
    Expected(digest + o.digest, trackedRemovals + o.trackedRemovals,
      math.max(levelsMax, o.levelsMax))
}

object Expected {
  val empty: Expected = Expected(Digest.empty, 0L, 0)

  def of(spec: Spec, seed: Long, product: Int): Expected = {
    val fold = new RefFold(spec)
    var rows = 0L
    var sum = 0L
    Gen.events(spec, seed, product).foreach { e => sum += fold(e); rows += 1 }
    Expected(Digest(rows, sum), fold.trackedRemovals, fold.levelsMax)
  }
}
