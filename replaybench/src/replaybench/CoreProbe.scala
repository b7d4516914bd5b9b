package replaybench

import graft.core.{BookCodec, BookKernel, OrderBook, Transitions}

/** The `core` layer alone: the program's book kernel driven directly,
  * single-threaded, on the workload's own events, after warm-up. */
object CoreProbe {
  private final class Events(val starts: Array[Int], val price: Array[Long], val qty: Array[Long],
                             val isBid: Array[Boolean], val pp: Array[Long], val pq: Array[Long],
                             val hasPrev: Array[Boolean])

  /** Loads whole products' streams, up to about `budget` events. */
  private def load(spec: Spec, seed: Long, budget: Int): Events = {
    val products = math.max(1, math.min(spec.products, budget / spec.eventsPerProduct))
    val total = products * spec.eventsPerProduct
    val ev = new Events(new Array[Int](products + 1), new Array[Long](total), new Array[Long](total),
      new Array[Boolean](total), new Array[Long](total), new Array[Long](total), new Array[Boolean](total))
    var i = 0
    (0 until products).foreach { p =>
      ev.starts(p) = i
      Gen.events(spec, seed, p).foreach { e =>
        ev.price(i) = e.price; ev.qty(i) = e.qty; ev.isBid(i) = e.isBid
        ev.hasPrev(i) = e.prevQty != null
        if (ev.hasPrev(i)) { ev.pp(i) = e.prevPrice; ev.pq(i) = e.prevQty }
        i += 1
      }
    }
    ev.starts(products) = i
    ev
  }

  private def fold(spec: Spec, ev: Events, book: BookKernel, from: Int, until: Int,
                   snap: Array[Any]): Unit = {
    var i = from
    while (i < until) {
      if (spec.mode == Spec.Updates) Transitions.applyUpdate(book, ev.isBid(i), ev.price(i), ev.qty(i))
      else Transitions.applyMutationWithModify(book, ev.isBid(i), ev.price(i), ev.qty(i),
        ev.hasPrev(i), ev.pp(i), ev.hasPrev(i), ev.pq(i))
      book.snapshotInto(snap, 0)
      i += 1
    }
  }

  /** Repeats `body` until `minNs` has passed; returns ns per call. */
  private def timed(minNs: Long)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    var calls = 0L
    var t = t0
    while (t - t0 < minNs) { body; calls += 1; t = System.nanoTime() }
    (t - t0).toDouble / calls
  }

  /** Returns core.fold_ns_per_event, core.codec_bytes and core.codec_us:
    * medians of five samples after two warm-up samples. */
  def run(spec: Spec, seed: Long, budget: Int = 300000): Map[String, Double] = {
    val ev = load(spec, seed, budget)
    val books = ev.starts.length - 1
    val events = ev.starts(books)
    val snap = new Array[Any](4 * spec.n)
    def foldAll(): Unit =
      (0 until books).foreach(b => fold(spec, ev, BookKernel(spec.n), ev.starts(b), ev.starts(b + 1), snap))
    val foldNs = (0 until 7).map(_ => timed(50000000L)(foldAll()) / events).drop(2)

    val finals = (0 until books).map { b =>
      val book = new OrderBook(spec.n)
      fold(spec, ev, book, ev.starts(b), ev.starts(b + 1), snap)
      book
    }
    val bytes = finals.map(b => BookCodec.serialize(b).length.toDouble)
    val codecUs = (0 until 7).map { _ =>
      timed(50000000L)(finals.foreach(b => BookCodec.deserialize(BookCodec.serialize(b)))) / 1e3 / books
    }.drop(2)

    Map(
      "core.fold_ns_per_event" -> Stats.quantile(foldNs, 0.5),
      "core.codec_bytes" -> bytes.sum / books,
      "core.codec_us" -> Stats.quantile(codecUs, 0.5))
  }
}
