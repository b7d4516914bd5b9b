package replaybench

import graft.core.{BookKernel, Transitions}
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's own tests: the reference model against the canonical
  * goldens and against the program's kernel, the generators' validity and
  * determinism, and the output check on real replays, including that a
  * corrupted expected digest is reported as a failure.
  *
  * Run: python3 replaybench/run.py --self-test */
object SelfTest {
  private val failures = new ArrayBuffer[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch {
      case NonFatal(e) =>
        failures += name
        println(s"FAIL $name: $e")
    }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private type Snap = Seq[Option[Long]]

  private def snap(b: RefBook): Snap = {
    val vals = new Array[Long](4 * b.n)
    val nulls = new Array[Boolean](4 * b.n)
    b.snapshot(vals, nulls)
    vals.indices.map(i => if (nulls(i)) None else Some(vals(i)))
  }

  private def kernelSnap(k: BookKernel, n: Int): Snap = {
    val out = new Array[Any](4 * n)
    k.snapshotInto(out, 0)
    out.toSeq.map(v => Option(v).map(_.asInstanceOf[Long]))
  }

  private def some(xs: Long*): Seq[Option[Long]] = xs.map(Some(_))
  private val none = Option.empty[Long]

  // FIXTURES F1/F2: the 12-event fill-and-drain pattern and its expected
  // top of book per row (bid_price_1, ask_price_1, bid_qty_1, ask_qty_1).
  private val p12 = Seq(1L, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6)
  private val bid12 = Seq(true, true, true, false, false, false, true, true, true, false, false, false)
  private val upd12 = Seq(1L, 2, 3, 6, 5, 4, 0, 0, 0, 0, 0, 0)
  private val mut12 = Seq(1L, 2, 3, 6, 5, 4, -3, -1, -2, -5, -4, -6)
  private val top12 = Seq(
    (Some(1L), None, Some(1L), None), (Some(2L), None, Some(2L), None),
    (Some(3L), None, Some(3L), None), (Some(3L), Some(6L), Some(3L), Some(6L)),
    (Some(3L), Some(5L), Some(3L), Some(5L)), (Some(3L), Some(4L), Some(3L), Some(4L)),
    (Some(2L), Some(4L), Some(2L), Some(4L)), (Some(2L), Some(4L), Some(2L), Some(4L)),
    (None, Some(4L), None, Some(4L)), (None, Some(4L), None, Some(4L)),
    (None, Some(6L), None, Some(6L)), (None, None, None, None))

  private def top1(s: Snap, n: Int) = (s(0), s(2 * n), s(n), s(3 * n))

  private def goldens(): Unit = {
    for (n <- Seq(1, 2, 4); reps <- Seq(1, 10, 100)) {
      test(s"F1 updates 12-event pattern n=$n reps=$reps") {
        val b = new RefBook(n)
        for (r <- 0 until reps; i <- 0 until 12) {
          b.update(bid12(i), p12(i), upd12(i))
          assertEq(top1(snap(b), n), top12(i), s"rep $r row $i")
        }
      }
      test(s"F2 mutations 12-event pattern n=$n reps=$reps") {
        val b = new RefBook(n)
        for (r <- 0 until reps; i <- 0 until 12) {
          b.mutate(bid12(i), p12(i), mut12(i))
          assertEq(top1(snap(b), n), top12(i), s"rep $r row $i")
        }
      }
      test(s"F3 all-null prevs equal plain mutations n=$n reps=$reps") {
        val b = new RefBook(n)
        for (r <- 0 until reps; i <- 0 until 12) {
          b.mutateWithModify(bid12(i), p12(i), mut12(i), null, null)
          assertEq(top1(snap(b), n), top12(i), s"rep $r row $i")
        }
      }
    }

    val ladderP = Seq(1L, 2, 3, 4, 5, 9, 8, 7, 6)
    val ladderQ = Seq(10L, 20, 30, 40, 50, 90, 80, 70, 60)
    val ladderB = Seq(true, true, true, true, true, false, false, false, false)
    test("F2 one-sided ladders n=1") {
      val b = new RefBook(1)
      val want = Seq(
        (1L, 10L, none, none), (2L, 20L, none, none), (3L, 30L, none, none), (4L, 40L, none, none),
        (5L, 50L, none, none), (5L, 50L, Some(9L), Some(90L)), (5L, 50L, Some(8L), Some(80L)),
        (5L, 50L, Some(7L), Some(70L)), (5L, 50L, Some(6L), Some(60L)))
      ladderP.indices.foreach { i =>
        b.mutate(ladderB(i), ladderP(i), ladderQ(i))
        val (bp, bq, ap, aq) = want(i)
        assertEq(snap(b), Seq(Some(bp), Some(bq), ap, aq), s"row $i")
      }
    }
    test("F2 one-sided ladders n=2") {
      val b = new RefBook(2)
      val bp2 = Seq(none, Some(1L), Some(2L), Some(3L), Some(4L), Some(4L), Some(4L), Some(4L), Some(4L))
      val bq2 = bp2.map(_.map(_ * 10))
      val ap1 = Seq(none, none, none, none, none, Some(9L), Some(8L), Some(7L), Some(6L))
      val ap2 = Seq(none, none, none, none, none, none, Some(9L), Some(8L), Some(7L))
      val bp1 = some(1, 2, 3, 4, 5, 5, 5, 5, 5)
      ladderP.indices.foreach { i =>
        b.mutate(ladderB(i), ladderP(i), ladderQ(i))
        assertEq(snap(b), Seq(bp1(i), bp2(i), bp1(i).map(_ * 10), bq2(i),
          ap1(i), ap2(i), ap1(i).map(_ * 10), ap2(i).map(_ * 10)), s"row $i")
      }
    }

    test("F3 modify ladder n=1") {
      val prices = Seq(1L, 2, 3, 4, 5, 9, 8, 7, 6, 1, 9)
      val qtys = Seq(10L, 20, 30, 40, 50, 90, 80, 70, 60, 1, 1)
      val isBid = Seq(true, true, true, true, true, false, false, false, false, true, false)
      val pp = Seq(none, Some(1L), Some(2L), Some(3L), Some(4L), none, Some(9L), Some(8L), Some(7L), Some(5L), Some(6L))
      val pq = Seq(none, Some(10L), Some(20L), Some(30L), Some(40L), none, Some(90L), Some(80L), Some(70L), Some(50L), Some(60L))
      val bp = some(1, 2, 3, 4, 5, 5, 5, 5, 5, 1, 1)
      val bq = some(10, 20, 30, 40, 50, 50, 50, 50, 50, 1, 1)
      val ap = Seq(none, none, none, none, none, Some(9L), Some(8L), Some(7L), Some(6L), Some(6L), Some(9L))
      val aq = Seq(none, none, none, none, none, Some(90L), Some(80L), Some(70L), Some(60L), Some(60L), Some(1L))
      val b = new RefBook(1)
      prices.indices.foreach { i =>
        b.mutateWithModify(isBid(i), prices(i), qtys(i), boxed(pp(i)), boxed(pq(i)))
        assertEq(snap(b), Seq(bp(i), bq(i), ap(i), aq(i)), s"row $i")
      }
    }
    test("F3 cyclic modifies n=1 and n=2") {
      val prices = Seq(1L, 6, 2, 3, 1, 5, 4, 6)
      val isBid = Seq(true, false, true, true, true, false, false, false)
      val prev = Seq(none, none, Some(1L), Some(2L), Some(3L), Some(6L), Some(5L), Some(4L))
      val bp1 = some(1, 1, 2, 3, 1, 1, 1, 1)
      val ap1 = Seq(none, Some(6L), Some(6L), Some(6L), Some(6L), Some(5L), Some(4L), Some(6L))
      for (n <- Seq(1, 2)) {
        val b = new RefBook(n)
        prices.indices.foreach { i =>
          b.mutateWithModify(isBid(i), prices(i), prices(i), boxed(prev(i)), boxed(prev(i)))
          val s = snap(b)
          assertEq(top1(s, n), (bp1(i), ap1(i), bp1(i), ap1(i)), s"row $i n=$n")
          if (n == 2) assertEq(Seq(s(1), s(3), s(5), s(7)), Seq(none, none, none, none), s"row $i level 2")
        }
      }
    }
    test("F3 modify pattern with repeated cycles n=1,2,4") {
      // qty equals price throughout: two adds, then ten cycles of six
      // modifies that move each side's orders around the ladder
      val cycle = Seq((2L, true, 1L), (3L, true, 2L), (1L, true, 3L), (5L, false, 6L), (4L, false, 5L), (6L, false, 4L))
      val want = Seq((Some(2L), Some(6L)), (Some(3L), Some(6L)), (Some(1L), Some(6L)),
        (Some(1L), Some(5L)), (Some(1L), Some(4L)), (Some(1L), Some(6L)))
      for (n <- Seq(1, 2, 4)) {
        val b = new RefBook(n)
        b.mutateWithModify(true, 1L, 1L, null, null)
        assertEq((snap(b)(0), snap(b)(2 * n)), (Some(1L), none), s"first add n=$n")
        b.mutateWithModify(false, 6L, 6L, null, null)
        assertEq((snap(b)(0), snap(b)(2 * n)), (Some(1L), Some(6L)), s"second add n=$n")
        for (r <- 0 until 10; ((p, bid, prev), i) <- cycle.zipWithIndex) {
          b.mutateWithModify(bid, p, p, prev, prev)
          val s = snap(b)
          assertEq((s(0), s(2 * n)), want(i), s"cycle $r row $i n=$n prices")
          assertEq((s(n), s(3 * n)), want(i), s"cycle $r row $i n=$n qtys")
        }
      }
    }
    for (isBid <- Seq(true, false)) test(s"F3 multiple orders per level, is_bid=$isBid") {
      val base = Seq((1L, 1L, none), (1L, 1L, none), (2L, 2L, Some(1L)), (2L, 2L, Some(1L)))
      val cyc = Seq((1L, Some(2L)), (1L, Some(2L)), (2L, Some(1L)), (2L, Some(1L)))
      val (bestPx, bestQty) =
        if (isBid) (Seq(1L, 1, 2, 2, 2, 1), Seq(1L, 2, 2, 4, 2, 2))
        else (Seq(1L, 1, 1, 2, 1, 1), Seq(1L, 2, 1, 4, 1, 2))
      val ids = Seq(1, 2, 3, 4) ++ (0 until 10).flatMap(_ => Seq(5, 6, 3, 4))
      val rows = base ++ (0 until 10).flatMap(_ => cyc.map { case (p, prev) => (p, p, prev) })
      for (n <- Seq(1, 2, 4)) {
        val b = new RefBook(n)
        rows.zip(ids).foreach { case ((p, q, prev), id) =>
          b.mutateWithModify(isBid, p, q, boxed(prev), boxed(prev))
          val s = snap(b)
          val (px, qty, other) = if (isBid) (s(0), s(n), s(2 * n)) else (s(2 * n), s(3 * n), s(0))
          assertEq((px, qty, other), (Some(bestPx(id - 1)), Some(bestQty(id - 1)), none), s"id $id n=$n")
        }
      }
    }
  }

  private def boxed(v: Option[Long]): java.lang.Long = v.map(java.lang.Long.valueOf).orNull

  private def small(name: String): Spec = name match {
    case "many_books" => Spec(name, Spec.Updates, 8, 3000, 60, 1)
    case "deep_book" => Spec(name, Spec.Modify, 2, 20000, 300, 10)
    case "sql_window" => Spec(name, Spec.Updates, 8, 2000, 60, 1)
    case "stream_book" => Spec(name, Spec.Updates, 4, 2000, 200, 5, batchEvents = 400)
  }

  private def generators(): Unit = {
    for (w <- Spec.names; spec = small(w)) test(s"reference agrees with graft.core on generated $w events") {
      for (p <- 0 until spec.products) {
        val ref = new RefBook(spec.n)
        val kernel = BookKernel(spec.n)
        Gen.events(spec, 7L, p).zipWithIndex.foreach { case (e, i) =>
          if (spec.mode == Spec.Updates) {
            ref.update(e.isBid, e.price, e.qty)
            Transitions.applyUpdate(kernel, e.isBid, e.price, e.qty)
          } else {
            ref.mutateWithModify(e.isBid, e.price, e.qty, e.prevPrice, e.prevQty)
            Transitions.applyMutationWithModify(kernel, e.isBid, e.price, e.qty,
              e.prevPrice != null, if (e.prevPrice != null) e.prevPrice else 0L,
              e.prevQty != null, if (e.prevQty != null) e.prevQty else 0L)
          }
          assertEq(kernelSnap(kernel, spec.n), snap(ref), s"product $p event $i")
        }
      }
    }
    test("deep_book stream holds adds, deletes and modifies, and rescans at the touch") {
      val spec = small("deep_book")
      val evs = Gen.events(spec, 3L, 0).toSeq
      val modifies = evs.count(_.prevPrice != null)
      val deletes = evs.count(_.qty < 0)
      val adds = evs.count(e => e.qty > 0 && e.prevPrice == null)
      assert(modifies > 1000 && deletes > 1000 && adds > 1000, s"adds=$adds deletes=$deletes modifies=$modifies")
      val exp = Expected.of(spec, 3L, 0)
      assert(exp.trackedRemovals > 100, s"tracked removals ${exp.trackedRemovals}")
      assert(exp.levelsMax >= spec.depth, s"levels ${exp.levelsMax}")
    }
    test("same seed gives the same events; another seed does not") {
      val spec = small("many_books")
      def sig(seed: Long) = Gen.events(spec, seed, 3).map(e => (e.seq, e.price, e.qty, e.isBid)).toSeq
      assertEq(sig(11L), sig(11L), "same seed")
      assert(sig(11L) != sig(12L), "seeds 11 and 12 gave the same stream")
      assertEq(Expected.of(spec, 11L, 3), Expected.of(spec, 11L, 3), "expected digest")
    }
  }

  private def replays(cores: Int, work: String): Unit = {
    val o = Opts("self-test", 5L, 1.0, trace = false, cores, work, work, "unknown")
    val spark: SparkSession = Main.session(o)
    try {
      for (w <- Seq("many_books", "deep_book", "sql_window"); spec = small(w)) {
        val replay = new BatchReplay(spark, spec, 5L, s"$work/self-test-$w", cores)
        val expected = replay.generate()
        val got = Some(replay.digest())
        test(s"$w replay output matches the reference") {
          assert(Main.matches(got, expected.digest), s"$got != ${expected.digest}")
        }
        test(s"$w corrupted expected digest is reported as a failure") {
          val corrupt = expected.digest.copy(sum = expected.digest.sum + 1)
          assert(!Main.matches(got, corrupt), "corrupted digest accepted")
          assert(!Main.matches(None, expected.digest), "a failed pass accepted")
        }
      }
      val spec = small("stream_book")
      val stream = new StreamReplay(spark, spec, 5L, s"$work/self-test-stream", cores)
      stream.generate()
      stream.start()
      try {
        test("stream_book batches match the reference") {
          (0 until 3).foreach(b => assert(stream.batch(b), s"batch $b"))
        }
        test("stream_book corrupted batch digest is reported as a failure") {
          stream.expected(3) = stream.expected(3).copy(sum = stream.expected(3).sum + 1)
          assert(!stream.batch(3), "corrupted batch digest accepted")
          assert(stream.batch(4), "batch after the corrupted one")
        }
      } finally stream.stop()
    } finally spark.stop()
  }

  private def benchmarkFile(): Unit = {
    val f = new File("BENCHMARK.json")
    if (f.isFile) test("BENCHMARK.json names the metrics the result line carries") {
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      def entries(key: String): Seq[(String, String)] = {
        val it = json.get(key).elements()
        val out = new ArrayBuffer[(String, String)]
        while (it.hasNext) { val m = it.next(); out += m.get("name").asText -> m.get("unit").asText }
        out.toSeq
      }
      assertEq(entries("end_to_end"), Metrics.endToEnd, "end_to_end")
      assertEq(entries("per_layer"), Metrics.perLayer, "per_layer")
      val names = json.get("workloads").elements()
      val ws = new ArrayBuffer[String]
      while (names.hasNext) ws += names.next().get("name").asText
      assert(ws.nonEmpty && ws.forall(Spec.names.contains), s"unknown workloads in $ws")
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
    goldens()
    generators()
    benchmarkFile()
    val work = new File(kv("work-dir"), "self-test")
    Main.deleteTree(work)
    try replays(kv("cores").toInt, work.getAbsolutePath)
    finally Main.deleteTree(work)
    println(s"${passed} passed, ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
