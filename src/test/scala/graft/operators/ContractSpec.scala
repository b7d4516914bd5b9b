package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** API-contract parity with the reference:
  * - n outside 1..=20 is rejected with the reference's exact message
  *   (calculate_bbo.rs:117-127 "Unsupported number of levels");
  * - the SQL-registered bbo_* functions cast their event children, so
  *   INT-typed columns resolve cleanly instead of failing at execution;
  * - parallel replay requires an integral order column (cast(long) on a
  *   timestamp would truncate to seconds and break determinism).
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stream = Seq(
    (1L, 0L, true, 10L, 5L), (2L, 0L, false, 12L, 3L), (3L, 0L, true, 11L, 2L))
    .toDF("seq", "product", "is_bid", "price", "qty")

  test("n outside 1..=20 is rejected with the reference message") {
    import graft.streaming.OrderBookStream
    val withPrev = stream.withColumn("prev_price", lit(null).cast("long"))
      .withColumn("prev_qty", lit(null).cast("long"))
    val entries: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "exec" -> (n => OrderBookOps.topNLevelsFromPriceUpdates(
        stream, "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))),
      "stream updates" -> (n => OrderBookStream.topNLevelsFromPriceUpdates(
        stream, "price", "qty", "is_bid", n, "product", "seq")),
      "stream mutations" -> (n => OrderBookStream.topNLevelsFromPriceMutations(
        stream, "price", "qty", "is_bid", n, "product", "seq")),
      "stream modify" -> (n => OrderBookStream.topNLevelsFromPriceMutationsWithModify(
        withPrev, "price", "qty", "is_bid", "prev_price", "prev_qty", n, "product", "seq")))
    for ((name, entry) <- entries) {
      for (bad <- Seq(0, -1, 21, 100)) {
        val e = intercept[IllegalArgumentException](entry(bad))
        assert(e.getMessage.contains(s"Unsupported number of levels: $bad"), name)
      }
      // boundary values are accepted
      for (ok <- Seq(1, 20)) assert(entry(ok).collect().length == 3, name)
    }
  }

  test("SQL bbo function accepts INT-typed price/qty columns") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq((1, 0, true, 10, 5), (2, 0, false, 12, 3), (3, 0, true, 11, 2))
      .toDF("seq", "product", "is_bid", "price", "qty")
      .createOrReplaceTempView("contract_int_stream")
    val out = spark.sql(
      """SELECT seq, bbo_from_price_updates(price, qty, is_bid, 1) OVER (
        |  PARTITION BY product ORDER BY seq
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo
        |FROM contract_int_stream""".stripMargin)
      .select(col("seq"), col("bbo.bid_price_1"), col("bbo.bid_qty_1"))
      .orderBy("seq").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 10L && out(0).getLong(2) == 5L)
    assert(out(2).getLong(1) == 11L && out(2).getLong(2) == 2L)

    // a computed event expression, in SQL and through BboWindow, equals
    // the replay of the pre-doubled column
    def sqlBbo(price: String) = spark.sql(
      s"""SELECT seq, bbo_from_price_updates($price, qty, is_bid, 1) OVER (
         |  PARTITION BY product ORDER BY seq
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo
         |FROM contract_int_doubled""".stripMargin)
    spark.table("contract_int_stream").withColumn("price2", col("price") * 2)
      .createOrReplaceTempView("contract_int_doubled")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("seq"), col("bbo.*")).orderBy("seq").collect().toSeq
    val doubled = rows(sqlBbo("price2"))
    assert(doubled.length == 3 && doubled(0).getLong(1) == 20L)
    assert(rows(sqlBbo("price * 2")) == doubled)
    val viaWindow = spark.table("contract_int_doubled").select(col("seq"),
      graft.plans.BboWindow.fromPriceUpdates(col("price") * 2, col("qty"), col("is_bid"), 1,
        Seq(col("product")), Seq(col("seq"))).as("bbo"))
    assert(rows(viaWindow) == doubled)
  }

  test("Column-typed overloads equal the string API, including expressions") {
    // prices arrive scaled ×100 as doubles; the Column overload can
    // normalize inline (the reference accepts pl.Expr the same way)
    val raw = Seq(
      (1L, 0L, true, 1000.0, 5L), (2L, 0L, false, 1200.0, 3L),
      (3L, 0L, true, 1100.0, 2L), (4L, 1L, true, 900.0, 7L))
      .toDF("seq", "product", "is_bid", "px100", "qty")
    val viaColumns = OrderBookOps.topNLevelsFromPriceUpdates(
        raw, round(col("px100") / 100).cast("long"), col("qty"), col("is_bid"), 1,
        Seq(col("product")), Seq(col("seq")))
      .orderBy("product", "seq").collect()
    val viaStrings = OrderBookOps.topNLevelsFromPriceUpdates(
        raw.withColumn("price", round(col("px100") / 100).cast("long")),
        "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
      .drop("price").orderBy("product", "seq").collect()
    assert(viaColumns.length == 4)
    assert(viaColumns.toSeq == viaStrings.toSeq)
    // output columns: input unchanged + bbo fields, no temp leakage
    val cols = OrderBookOps.topNLevelsFromPriceUpdates(
      raw, col("px100").cast("long"), col("qty"), col("is_bid"), 1,
      Seq(col("product")), Seq(col("seq"))).columns.toSeq
    assert(cols == raw.columns.toSeq ++ OrderBookOps.bboFieldNames(1))
  }

  test("parallel replay rejects non-integral order columns") {
    val ts = stream.withColumn("ts", timestamp_seconds(col("seq")))
    val e = intercept[IllegalArgumentException] {
      ParallelReplay.topNLevelsFromPriceUpdatesParallel(
        ts, "price", "qty", "is_bid", 1, "product", "ts", segments = 2)
    }
    assert(e.getMessage.contains("integral"))
  }
}
