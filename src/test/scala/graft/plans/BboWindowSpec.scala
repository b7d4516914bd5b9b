package graft.plans

import graft.SparkTestSession
import graft.core.OrderBookException
import graft.operators.{FlatMapGroupsOracle, OrderBookOps}
import graft.queries.EventStreams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The window forms — SQL `bbo_from_price_*(…) OVER (…)` and the
  * [[BboWindow]] Column API — plan as the replay exec and must produce
  * exactly the test-side flatMapSortedGroups oracle's output (SURVEY.md
  * §7.2 step 4); any frame other than the running ROWS frame, and any use
  * outside a window, fails at planning. */
class BboWindowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def flatten(n: Int) =
    OrderBookOps.bboFieldNames(n).map(f => col(s"bbo.$f").as(f))

  /** Three interleaved books of price updates; every fifth qty is 0. */
  private def smallUpdates = (0 until 240).map { i =>
    (i % 3L, i.toLong, 50L + (i * 7) % 11, (i * 13L) % 5, i % 2 == 0)
  }.toDF("product", "seq", "price", "qty", "is_bid")

  /** (product, seq, levels) rows of the oracle's updates replay. */
  private def oracleUpdates(df: DataFrame, n: Int, partitionBy: Seq[String],
                            orderBy: Seq[String]): Seq[Row] =
    FlatMapGroupsOracle.topNLevelsFromPriceUpdatesViaGroups(
        df, "price", "qty", "is_bid", n, partitionBy, orderBy)
      .select(col("product") +: col("seq") +: OrderBookOps.bboFieldNames(n).map(col): _*)
      .orderBy("product", "seq").collect().toSeq

  private def assertReplayExec(plan: SparkPlan): Unit = {
    assert(plan.collect { case e: BboReplayExec => e }.nonEmpty, plan.toString)
    assert(!plan.collect { case w: WindowExec => w }
      .exists(_.windowExpression.exists(BboWindowAggregate.in)), plan.toString)
  }

  private def assertFrameError(plan: => SparkPlan): Unit = {
    val e = intercept[OrderBookException](plan)
    assert(e.getMessage.contains("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW") &&
      e.getMessage.contains("associative"), e.getMessage)
  }

  test("window form == flatMapGroups form on derived events (updates, n=2)") {
    val stream = EventStreams.bookStream(spark, "/root/testdata/sf0.001", qtyZeroEvery5 = true)
    // (window partition keys, window order keys) and the oracle's input
    // and key columns for the same books and order
    val inputs = Seq(
      (Seq(col("product")), Seq(col("seq")), stream, Seq("product"), Seq("seq")),
      (Seq(col("product")), Seq(col("seq").desc),
        stream.withColumn("neg_seq", -col("seq")), Seq("product"), Seq("neg_seq")),
      (Seq(col("product") % 2), Seq(col("seq")),
        stream.withColumn("pk", col("product") % 2), Seq("pk"), Seq("seq")),
      (Nil, Seq(col("seq")), stream, Nil, Seq("seq")))
    for ((partitionBy, orderBy, oracleIn, oraclePartitionBy, oracleOrderBy) <- inputs) {
      val viaWindow = stream.withColumn("bbo",
          BboWindow.fromPriceUpdates(col("price"), col("qty"), col("is_bid"), 2,
            partitionBy, orderBy))
      assertReplayExec(viaWindow.queryExecution.sparkPlan)
      val a = oracleUpdates(oracleIn, 2, oraclePartitionBy, oracleOrderBy)
      val b = viaWindow.select(col("product") +: col("seq") +: flatten(2): _*)
        .orderBy("product", "seq").collect().toSeq
      assert(a.length == b.length && a.length == 1000)
      a.zip(b).foreach { case (x, y) => assert(x == y, s"$partitionBy $orderBy") }
    }
  }

  test("window form == flatMapGroups form (mutations, n=1)") {
    val stream = EventStreams.bookStream(spark, "/root/testdata/sf0.001", qtyZeroEvery5 = false)
    val viaGroups = FlatMapGroupsOracle.topNLevelsFromPriceMutationsViaGroups(
        stream, "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
      .select(col("product") +: col("seq") +: OrderBookOps.bboFieldNames(1).map(col): _*)
    val viaWindow = stream.withColumn("bbo",
        BboWindow.fromPriceMutations(col("price"), col("qty"), col("is_bid"), 1,
          Seq(col("product")), Seq(col("seq"))))
      .select(col("product") +: col("seq") +: flatten(1): _*)
    assert(viaGroups.orderBy("product", "seq").collect().toSeq ==
      viaWindow.orderBy("product", "seq").collect().toSeq)
  }

  test("window form modify golden (cyclic fixture)") {
    val rows = Seq(
      (0, 1L, 1L, true, None, None),
      (1, 6L, 6L, false, None, None),
      (2, 2L, 2L, true, Some(1L), Some(1L)),
      (3, 3L, 3L, true, Some(2L), Some(2L)),
      (4, 1L, 1L, true, Some(3L), Some(3L)),
      (5, 5L, 5L, false, Some(6L), Some(6L)),
      (6, 4L, 4L, false, Some(5L), Some(5L)),
      (7, 6L, 6L, false, Some(4L), Some(4L)))
    val df = rows.toDF("seq", "price", "qty", "is_bid", "prev_price", "prev_qty")
    val out = df.withColumn("bbo",
        BboWindow.fromPriceMutationsWithModify(col("price"), col("qty"), col("is_bid"),
          col("prev_price"), col("prev_qty"), 1, Nil, Seq(col("seq"))))
      .select(col("seq"), col("bbo.bid_price_1"), col("bbo.ask_price_1"))
      .orderBy("seq").collect()
    val expBid = Seq(1L, 1, 2, 3, 1, 1, 1, 1)
    val expAsk = Seq(None, Some(6L), Some(6L), Some(6L), Some(6L), Some(5L), Some(4L), Some(6L))
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) == expBid(i), s"row $i bid")
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == expAsk(i), s"row $i ask")
    }
  }

  test("using the aggregate without a window frame fails (no merge)") {
    graft.functions.GraftFunctions.registerAll(spark)
    smallUpdates.createOrReplaceTempView("bbo_window_spec")
    def sqlPlan(over: String) = spark.sql(
      s"""SELECT seq, bbo_from_price_updates(price, qty, is_bid, 1) $over AS bbo
         |FROM bbo_window_spec""".stripMargin).queryExecution.sparkPlan
    val df = Seq((1L, 1L, true)).toDF("price", "qty", "is_bid")
    val c = org.apache.spark.sql.GraftColumnBridge.column(
      BboWindowAggregate(graft.core.ReplayMode.Updates, 1, Seq(
        org.apache.spark.sql.GraftColumnBridge.expression(col("price")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("qty")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("is_bid"))))
        .toAggregateExpression())
    // every case is rejected by the planner, before any job runs
    assertFrameError(df.agg(c).queryExecution.sparkPlan)
    // sliding frame: a partial book
    assertFrameError(sqlPlan("OVER (PARTITION BY product ORDER BY seq ROWS 5 PRECEDING)"))
    // the default RANGE frame: tied peers would share one value
    assertFrameError(sqlPlan("OVER (PARTITION BY product ORDER BY seq)"))
    // no ORDER BY: no replay order
    assertFrameError(sqlPlan(
      "OVER (PARTITION BY product ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
  }

  test("bbo beside lag(price) over the same window: lag stays in a WindowExec") {
    graft.functions.GraftFunctions.registerAll(spark)
    smallUpdates.createOrReplaceTempView("bbo_window_spec")
    val df = spark.sql(
      """SELECT product, seq, price,
        |  bbo_from_price_updates(price, qty, is_bid, 2) OVER (
        |    PARTITION BY product ORDER BY seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo,
        |  lag(price) OVER (PARTITION BY product ORDER BY seq) AS prev_price
        |FROM bbo_window_spec""".stripMargin)
    val plan = df.queryExecution.sparkPlan
    assertReplayExec(plan)
    assert(plan.collect { case w: WindowExec => w }.exists(_.windowExpression
      .exists(_.exists(_.prettyName == "lag"))), plan.toString)
    val got = df.select(col("product") +: col("seq") +: flatten(2): _*)
      .orderBy("product", "seq").collect().toSeq
    assert(got.length == 240 &&
      got == oracleUpdates(smallUpdates, 2, Seq("product"), Seq("seq")))
    val prev = df.select("product", "seq", "price", "prev_price")
      .orderBy("product", "seq").collect()
    prev.sliding(2).foreach { case Array(a, b) =>
      if (a.getLong(0) == b.getLong(0)) assert(b.get(3) == a.get(2))
      else assert(b.isNullAt(3))
    }
    assert(prev.head.isNullAt(3))
  }

  test("codec round-trips book state") {
    import graft.core._
    val book = new OrderBook(3)
    Seq((true, 5L, 10L), (true, 4L, 7L), (true, 6L, 1L), (false, 9L, 2L))
      .foreach { case (b, p, q) => book.addQty(b, p, q) }
    val back = BookCodec.deserialize(BookCodec.serialize(book))
    val a = new Array[Any](12); val c = new Array[Any](12)
    book.snapshotInto(a, 0); back.snapshotInto(c, 0)
    assert(a.toSeq == c.toSeq)
    // state continues correctly after round-trip
    back.deleteQty(isBid = true, 6L, 1L)
    book.deleteQty(isBid = true, 6L, 1L)
    val a2 = new Array[Any](12); val c2 = new Array[Any](12)
    book.snapshotInto(a2, 0); back.snapshotInto(c2, 0)
    assert(a2.toSeq == c2.toSeq)
  }
}
