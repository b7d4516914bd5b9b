package replaybench

import graft.operators.OrderBookOps
import graft.streaming.OrderBookStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Digest of a replay output whose columns are (product, seq, 4n level
  * columns), all bigint, computed in the executors. */
object OutputDigest {
  def apply(df: DataFrame): Digest = {
    val width = df.schema.size - 2
    df.queryExecution.toRdd.mapPartitions { it =>
      val vals = new Array[Long](width)
      val nulls = new Array[Boolean](width)
      var rows = 0L
      var sum = 0L
      it.foreach { r =>
        var i = 0
        while (i < width) {
          nulls(i) = r.isNullAt(2 + i)
          vals(i) = if (nulls(i)) 0L else r.getLong(2 + i)
          i += 1
        }
        sum += RowHash.of(r.getLong(0), r.getLong(1), vals, nulls)
        rows += 1
      }
      Iterator(Digest(rows, sum))
    }.collect().foldLeft(Digest.empty)(_ + _)
  }
}

/** The three batch workloads: generated parquet in, one replay per pass
  * into a noop sink. */
final class BatchReplay(spark: SparkSession, spec: Spec, seed: Long, dir: String, cores: Int) {
  private val input = s"$dir/input.parquet"
  private val levelCols = OrderBookOps.bboFieldNames(spec.n)

  private val schema = StructType(Seq(
    StructField("product", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("price", LongType, nullable = false),
    StructField("qty", LongType, nullable = false),
    StructField("is_bid", BooleanType, nullable = false)) ++
    (if (spec.mode == Spec.Modify)
      Seq(StructField("prev_price", LongType), StructField("prev_qty", LongType))
    else Nil))

  /** Writes the seeded input and returns the reference model's expected
    * output, both computed product by product in parallel. */
  def generate(): Expected = {
    val sp = spec; val sd = seed
    val slices = math.min(spec.products, cores)
    val rows = spark.sparkContext.parallelize(0 until spec.products, slices).flatMap { p =>
      Gen.events(sp, sd, p).map { e =>
        if (sp.mode == Spec.Modify) Row(e.product, e.seq, e.price, e.qty, e.isBid, e.prevPrice, e.prevQty)
        else Row(e.product, e.seq, e.price, e.qty, e.isBid)
      }
    }
    // the reference fold runs beside the write; a single-book workload
    // then uses two cores instead of one
    val expected = Future(spark.sparkContext.parallelize(0 until spec.products, slices)
      .map(p => Expected.of(sp, sd, p)).reduce(_ + _))(ExecutionContext.global)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(input)
    Await.result(expected, Duration.Inf)
  }

  /** The API call under test; returns (product, seq, ...) plus the level
    * columns, or for SQL a `bbo` struct of them. */
  def build(): DataFrame = {
    // an explicit schema keeps schema inference, a job of its own, out of
    // the measured API call
    val events = spark.read.schema(schema).parquet(input)
    spec.name match {
      case "many_books" =>
        OrderBookOps.topNLevelsFromPriceUpdates(events, "price", "qty", "is_bid", spec.n,
          Seq("product"), Seq("seq"))
      case "deep_book" =>
        OrderBookOps.topNLevelsFromPriceMutationsWithModify(events, "price", "qty", "is_bid",
          "prev_price", "prev_qty", spec.n, Seq("product"), Seq("seq"))
      case "sql_window" =>
        graft.functions.GraftFunctions.registerAll(spark)
        events.createOrReplaceTempView("replaybench_events")
        spark.sql(
          s"""SELECT product, seq, bbo_from_price_updates(price, qty, is_bid, ${spec.n}) OVER (
             |  PARTITION BY product ORDER BY seq
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo
             |FROM replaybench_events""".stripMargin)
    }
  }

  def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def digest(): Digest = {
    val out = build()
    val levels = if (spec.name == "sql_window") levelCols.map(c => s"bbo.$c") else levelCols
    OutputDigest(out.selectExpr(Seq("product", "seq") ++ levels: _*))
  }
}

/** `stream_book`: micro-batches through the streaming replay, one client
  * waiting for each batch. The sink digests every batch, and each batch's
  * digest is checked against the reference model's. */
final class StreamReplay(spark: SparkSession, spec: Spec, seed: Long, dir: String, cores: Int) {
  private val perProduct = spec.batchEvents / spec.products
  val maxBatches: Int = spec.eventsPerProduct / perProduct

  private val product = new Array[Long](maxBatches * spec.batchEvents)
  private val seqs = new Array[Long](product.length)
  private val prices = new Array[Long](product.length)
  private val qtys = new Array[Long](product.length)
  private val bids = new Array[Boolean](product.length)
  /** Expected digest of each batch's output rows. */
  val expected: Array[Digest] = Array.fill(maxBatches)(Digest.empty)
  /** Exact reference counts after each batch, summed (tracked removals)
    * or maxed (levels) over products. */
  val trackedAfter = new Array[Long](maxBatches)
  val levelsAfter = new Array[Int](maxBatches)

  /** Generates every batch the run may use, one thread per product slice.
    * Batch b holds events b*k until (b+1)*k of each product, so a batch
    * carries `perProduct` consecutive events of every book. */
  def generate(): Unit = {
    val pool = Executors.newFixedThreadPool(cores)
    val parts = (0 until spec.products).grouped(math.max(1, spec.products / cores)).toSeq
    val results = parts.map { ps =>
      pool.submit(new java.util.concurrent.Callable[(Array[Long], Array[Long], Array[Long], Array[Int])] {
        def call() = {
          val sums = new Array[Long](maxBatches); val rows = new Array[Long](maxBatches)
          val tracked = new Array[Long](maxBatches); val levels = new Array[Int](maxBatches)
          ps.foreach { p =>
            val fold = new RefFold(spec)
            val it = Gen.events(spec, seed, p)
            var b = 0
            while (b < maxBatches) {
              var j = 0
              while (j < perProduct) {
                val e = it.next()
                val at = b * spec.batchEvents + j * spec.products + p
                product(at) = e.product; seqs(at) = e.seq; prices(at) = e.price
                qtys(at) = e.qty; bids(at) = e.isBid
                sums(b) += fold(e); rows(b) += 1
                j += 1
              }
              tracked(b) += fold.trackedRemovals
              levels(b) = math.max(levels(b), fold.levelsMax)
              b += 1
            }
          }
          (sums, rows, tracked, levels)
        }
      })
    }
    results.map(_.get()).foreach { case (sums, rows, tracked, levels) =>
      var b = 0
      while (b < maxBatches) {
        expected(b) = expected(b) + Digest(rows(b), sums(b))
        trackedAfter(b) += tracked(b)
        levelsAfter(b) = math.max(levelsAfter(b), levels(b))
        b += 1
      }
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
  }

  private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  private var mem: MemoryStream[(Long, Long, Long, Long, Boolean)] = _
  private var query: StreamingQuery = _
  @volatile private var sinkTotal = Digest.empty
  private var checked = Digest.empty

  /** Builds the streaming replay (the API call under test) and starts it. */
  def start(): Unit = {
    import spark.implicits._
    mem = MemoryStream[(Long, Long, Long, Long, Boolean)]
    val events = mem.toDF().toDF("product", "seq", "price", "qty", "is_bid")
    val out = OrderBookStream.topNLevelsFromPriceUpdates(
      events, "price", "qty", "is_bid", spec.n, "product", "seq")
    val sink: (DataFrame, Long) => Unit = (batch, _) => { sinkTotal = sinkTotal + OutputDigest(batch) }
    query = out.writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch(sink)
      .start()
  }

  /** Feeds batch `b`, waits for it, and reports whether its output matched. */
  def batch(b: Int): Boolean = {
    val from = b * spec.batchEvents
    val rows = (from until from + spec.batchEvents).map(i => (product(i), seqs(i), prices(i), qtys(i), bids(i)))
    mem.addData(rows)
    query.processAllAvailable()
    val total = sinkTotal
    val got = Digest(total.rows - checked.rows, total.sum - checked.sum)
    checked = total
    got == expected(b)
  }

  def lastProgress: StreamingQueryProgress = query.lastProgress

  def lastPlan: SparkPlan =
    query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  def stop(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}
