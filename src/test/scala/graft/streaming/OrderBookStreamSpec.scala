package graft.streaming

import graft.SparkTestSession
import graft.operators.OrderBookOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming replay must match the batch replay when events arrive in
  * order across micro-batches (state carried in the state store). */
class OrderBookStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("two micro-batches == one batch replay (updates, n=2, two products)") {
    val price = Seq(1L, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6)
    val qty = Seq(1L, 2, 3, 6, 5, 4, 0, 0, 0, 0, 0, 0)
    val isBid = Seq(true, true, true, false, false, false, true, true, true, false, false, false)
    // (product, seq, price, qty, is_bid) for two products interleaved
    val events = for (p <- Seq(1L, 2L); i <- 0 until 12)
      yield (p, i.toLong, price(i), qty(i), isBid(i))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Boolean)]
    val sdf = mem.toDF.toDF("product", "seq", "price", "qty", "is_bid")
    val out = OrderBookStream.topNLevelsFromPriceUpdates(
      sdf, "price", "qty", "is_bid", n = 2, partitionBy = "product", orderBy = "seq")
    val query = out.writeStream.format("memory").queryName("bbo_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = events.splitAt(14)
      mem.addData(b1); query.processAllAvailable()
      mem.addData(b2); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("bbo_stream")
      .orderBy("product", "seq").collect()

    val batch = OrderBookOps.topNLevelsFromPriceUpdates(
        events.toDF("product", "seq", "price", "qty", "is_bid"),
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
      .select(col("product") +: col("seq") +: OrderBookOps.bboFieldNames(2).map(col): _*)
      .orderBy("product", "seq").collect()

    assert(streamed.length == 24 && batch.length == 24)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("idle book state is evicted after the processing-time timeout") {
    // A timeout-armed query re-triggers continuously (it must, to fire
    // wall-clock timeouts), which makes processAllAvailable never settle
    // — so this test polls the memory sink instead of waiting for
    // engine idleness.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Boolean)]
    val sdf = mem.toDF.toDF("product", "seq", "price", "qty", "is_bid")
    val out = OrderBookStream.topNLevelsFromPriceUpdates(
      sdf, "price", "qty", "is_bid", n = 1, partitionBy = "product", orderBy = "seq",
      idleTimeout = Some("1 second"))
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("bbo_ttl_stream").count() < n) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $n rows")
        Thread.sleep(250)
      }
    }
    val query = out.writeStream.format("memory").queryName("bbo_ttl_stream")
      .outputMode("append").start()
    try {
      mem.addData((7L, 0L, 10L, 5L, true))
      awaitRows(1)
      // wait until a batch REPORTS the state removal (numRowsRemoved>0)
      // instead of sleeping blind — the timeout-armed engine re-triggers
      // continuously, so the eviction batch shows up on its own
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def removed: Boolean = query.recentProgress.exists(p =>
        p.stateOperators != null && p.stateOperators.exists(_.numRowsRemoved > 0))
      while (!removed) {
        assert(System.nanoTime() < deadline, "state was never evicted")
        Thread.sleep(250)
      }
      // re-appear and drain the new level: a FRESH book has nothing
      // underneath; a stale (unevicted) one would surface 10/5
      mem.addData((7L, 2L, 20L, 3L, true), (7L, 3L, 20L, 0L, true))
      awaitRows(3)
    } finally query.stop()
    val rows = spark.table("bbo_ttl_stream").orderBy("seq").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(2) == 10L && rows(0).getLong(3) == 5L)
    assert(rows(1).getLong(2) == 20L && rows(1).getLong(3) == 3L)
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3),
      s"book state was not evicted: ${rows(2)}")
  }

  test("O3 (modify) idle state is evicted after the processing-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Boolean, Option[Long], Option[Long])]
    val sdf = mem.toDF.toDF("product", "seq", "price", "qty", "is_bid", "pp", "pq")
    val out = OrderBookStream.topNLevelsFromPriceMutationsWithModify(
      sdf, "price", "qty", "is_bid", "pp", "pq", n = 1,
      partitionBy = "product", orderBy = "seq", idleTimeout = Some("1 second"))
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("bbo_ttl_o3").count() < n) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $n rows")
        Thread.sleep(250)
      }
    }
    val query = out.writeStream.format("memory").queryName("bbo_ttl_o3")
      .outputMode("append").start()
    try {
      mem.addData((9L, 0L, 10L, 5L, true, None, None)) // plain add
      awaitRows(1)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def removed: Boolean = query.recentProgress.exists(p =>
        p.stateOperators != null && p.stateOperators.exists(_.numRowsRemoved > 0))
      while (!removed) {
        assert(System.nanoTime() < deadline, "state was never evicted")
        Thread.sleep(250)
      }
      // after eviction the book is fresh: an add then a full qty-only
      // delete (prev_qty set, qty 0) must leave an EMPTY book — with
      // stale state the original 10/5 level would surface
      mem.addData((9L, 2L, 20L, 3L, true, None, None),
        (9L, 3L, 20L, 0L, true, None, Some(3L)))
      awaitRows(3)
    } finally query.stop()
    val rows = spark.table("bbo_ttl_o3").orderBy("seq").collect()
    assert(rows.length == 3)
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3),
      s"O3 book state was not evicted: ${rows(2)}")
  }

  test("streaming mutations across three micro-batches == batch") {
    val events = for (p <- Seq(7L); i <- 0 until 12)
      yield (p, i.toLong,
        Seq(1L, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6)(i),
        Seq(1L, 2, 3, 6, 5, 4, -3, -1, -2, -5, -4, -6)(i),
        Seq(true, true, true, false, false, false, true, true, true, false, false, false)(i))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Boolean)]
    val sdf = mem.toDF.toDF("product", "seq", "price", "qty", "is_bid")
    val out = OrderBookStream.topNLevelsFromPriceMutations(
      sdf, "price", "qty", "is_bid", n = 1, partitionBy = "product", orderBy = "seq")
    val query = out.writeStream.format("memory").queryName("bbo_stream_mut")
      .outputMode("append").start()
    try {
      events.grouped(5).foreach { b => mem.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val streamed = spark.table("bbo_stream_mut").orderBy("seq").collect()
    val batch = OrderBookOps.topNLevelsFromPriceMutations(
        events.toDF("product", "seq", "price", "qty", "is_bid"),
        "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
      .select(col("product") +: col("seq") +: OrderBookOps.bboFieldNames(1).map(col): _*)
      .orderBy("seq").collect()
    assert(streamed.length == 12)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming modify (O3) across micro-batches == batch") {
    // cyclic modify fixture (calculate_bbo.rs:338-370) on one product
    val rows = Seq(
      (9L, 0L, 1L, 1L, true, None, None),
      (9L, 1L, 6L, 6L, false, None, None),
      (9L, 2L, 2L, 2L, true, Some(1L), Some(1L)),
      (9L, 3L, 3L, 3L, true, Some(2L), Some(2L)),
      (9L, 4L, 1L, 1L, true, Some(3L), Some(3L)),
      (9L, 5L, 5L, 5L, false, Some(6L), Some(6L)),
      (9L, 6L, 4L, 4L, false, Some(5L), Some(5L)),
      (9L, 7L, 6L, 6L, false, Some(4L), Some(4L)))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Boolean, Option[Long], Option[Long])]
    val sdf = mem.toDF.toDF("product", "seq", "price", "qty", "is_bid", "prev_price", "prev_qty")
    val out = OrderBookStream.topNLevelsFromPriceMutationsWithModify(
      sdf, "price", "qty", "is_bid", "prev_price", "prev_qty", n = 1,
      partitionBy = "product", orderBy = "seq")
    val query = out.writeStream.format("memory").queryName("bbo_stream_mod")
      .outputMode("append").start()
    try {
      rows.grouped(3).foreach { b => mem.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val streamed = spark.table("bbo_stream_mod").orderBy("seq").collect()
    val batch = OrderBookOps.topNLevelsFromPriceMutationsWithModify(
        rows.toDF("product", "seq", "price", "qty", "is_bid", "prev_price", "prev_qty"),
        "price", "qty", "is_bid", "prev_price", "prev_qty", 1,
        Seq("product"), Seq("seq"))
      .select(col("product") +: col("seq") +: OrderBookOps.bboFieldNames(1).map(col): _*)
      .orderBy("seq").collect()
    assert(streamed.length == 8)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  // Every streaming entry point casts its keys to long; a DOUBLE order key
  // would scramble the replay order, so each must reject one up front.
  private val entryPoints: Seq[(String, org.apache.spark.sql.DataFrame => Any)] = Seq(
    "topNLevelsFromPriceUpdates" -> (df => OrderBookStream.topNLevelsFromPriceUpdates(
      df, "price", "qty", "is_bid", 1, "product", "seq")),
    "topNLevelsFromPriceMutations" -> (df => OrderBookStream.topNLevelsFromPriceMutations(
      df, "price", "qty", "is_bid", 1, "product", "seq")),
    "topNLevelsFromPriceMutationsWithModify" -> (df =>
      OrderBookStream.topNLevelsFromPriceMutationsWithModify(
        df, "price", "qty", "is_bid", "prev_price", "prev_qty", 1, "product", "seq")),
    "ofiFromPriceUpdates" -> (df => OrderBookStream.ofiFromPriceUpdates(
      df, "price", "qty", "is_bid", "product", "seq")),
    "analyticsSummaryStream" -> (df => OrderBookStream.analyticsSummaryStream(
      df, "price", "qty", "is_bid", "product", "seq")))

  // A null event value must fail the query with the batch replay's
  // missing-value error naming the column, not an encoder assertion.
  for ((name, entry) <- entryPoints)
    test(s"$name raises the batch error for a null price, qty or is_bid") {
      implicit val sqlCtx = spark.sqlContext
      for (missing <- Seq("price", "qty", "is_bid")) {
        val mem = MemoryStream[(Long, Long, Option[Long], Option[Long], Option[Boolean],
          Option[Long], Option[Long])]
        val sdf = mem.toDF.toDF("product", "seq", "price", "qty", "is_bid",
          "prev_price", "prev_qty")
        val query = entry(sdf).asInstanceOf[org.apache.spark.sql.DataFrame]
          .writeStream.format("memory").queryName(s"null_${name}_$missing")
          .outputMode("append").start()
        try {
          mem.addData((1L, 0L,
            if (missing == "price") None else Some(10L),
            if (missing == "qty") None else Some(5L),
            if (missing == "is_bid") None else Some(true), None, None))
          val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
            query.processAllAvailable())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).toList
          assert(msgs.exists(m => m != null &&
            m.contains(s"Missing value in required column: $missing")), msgs.mkString("\n"))
        } finally query.stop()
      }
    }

  for ((name, entry) <- entryPoints)
    test(s"$name rejects a DOUBLE orderBy") {
      val df = Seq((1L, 0.5, 10L, 1L, true, Option.empty[Long], Option.empty[Long]))
        .toDF("product", "seq", "price", "qty", "is_bid", "prev_price", "prev_qty")
      val e = intercept[IllegalArgumentException](entry(df))
      assert(e.getMessage.contains("'seq' must be an integral type"), e.getMessage)
    }
}
