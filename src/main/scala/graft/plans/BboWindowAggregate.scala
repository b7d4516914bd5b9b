package graft.plans

import graft.core.{OrderBookException, ReplayMode}
import graft.operators.OrderBookOps
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnevaluableAggregateFunc}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types._

/** The reference's expression form (a Polars expression plugin,
  * calculate_bbo.rs:127-268) as a Catalyst aggregate function that only
  * analysis sees: it carries the mode, n, the event expressions and the
  * result's struct type, and has no evaluation of its own.
  *
  * [[BboReplayStrategy]] plans every use over the running frame
  * `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` (with an ORDER BY)
  * as a [[BboReplayExec]]. Any other use — another frame, or a plain
  * aggregate — fails at planning with [[BboWindowAggregate.unsupported]]:
  * the fold is NOT associative (SURVEY.md §7.4), so a partial or shared
  * frame value is not a book replay.
  *
  * `children` are the mode's event expressions, `mode.arity` of them:
  * (price, qty, is_bid[, prev_price, prev_qty]).
  */
case class BboWindowAggregate(mode: ReplayMode, n: Int, children: Seq[Expression])
  extends UnevaluableAggregateFunc {

  ReplayMode.requireLevels(n)
  require(children.size == mode.arity,
    s"$prettyName takes ${mode.arity} event columns, got ${children.size}")

  override def nullable: Boolean = false

  override val dataType: DataType =
    StructType(OrderBookOps.bboFieldNames(n)
      .map(StructField(_, LongType, nullable = true)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BboWindowAggregate =
    copy(children = newChildren)

  override def prettyName: String = s"bbo_from_${mode.name}"
}

object BboWindowAggregate {
  def in(e: Expression): Boolean = e.exists(_.isInstanceOf[BboWindowAggregate])

  /** The event expressions cast to the fold's types: is_bid (the third)
    * to boolean, the others to long. */
  def castEvents(events: Seq[Expression]): Seq[Expression] =
    events.zipWithIndex.map {
      case (e, 2) => Cast(e, BooleanType)
      case (e, _) => Cast(e, LongType)
    }

  /** The error for any use the replay exec cannot plan; `e` is the
    * offending (window or aggregate) expression. */
  def unsupported(e: Expression): Nothing = {
    val fn = e.collectFirst { case b: BboWindowAggregate => b.prettyName }.get
    throw new OrderBookException(
      s"$fn must run as a window function with an ORDER BY over the frame " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW: the book replay " +
        "is an ordered fold with no associative merge, so another frame or " +
        s"a plain aggregate is not a replay (got ${e.sql})")
  }
}

/** Column-level API for the window form: returns a struct column
  * (`bid_price_1..n, bid_qty_1..n, ask_price_1..n, ask_qty_1..n`) — the
  * reference's pre-`unnest` shape, composable inside any windowed
  * DataFrame expression. It plans as [[BboReplayExec]], like the SQL form. */
object BboWindow {

  private def runningFrame(partitionBy: Seq[Column], orderBy: Seq[Column]): WindowSpec = {
    require(orderBy.nonEmpty, "orderBy must be non-empty (order-sensitive fold)")
    val base = if (partitionBy.isEmpty) Window.partitionBy() else Window.partitionBy(partitionBy: _*)
    base.orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
  }

  private def agg(mode: ReplayMode, n: Int, cols: Seq[Column],
                  partitionBy: Seq[Column], orderBy: Seq[Column]): Column = {
    SparkSession.getActiveSession.foreach(BboReplayStrategy.ensureRegistered)
    val children = BboWindowAggregate.castEvents(cols.map(GraftColumnBridge.expression))
    val e = BboWindowAggregate(mode, n, children).toAggregateExpression()
    GraftColumnBridge.column(e).over(runningFrame(partitionBy, orderBy))
  }

  def fromPriceUpdates(price: Column, qty: Column, isBid: Column, n: Int,
                       partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    agg(ReplayMode.Updates, n, Seq(price, qty, isBid), partitionBy, orderBy)

  def fromPriceMutations(price: Column, qty: Column, isBid: Column, n: Int,
                         partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    agg(ReplayMode.Mutations, n, Seq(price, qty, isBid), partitionBy, orderBy)

  def fromPriceMutationsWithModify(price: Column, qty: Column, isBid: Column,
                                   prevPrice: Column, prevQty: Column, n: Int,
                                   partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    agg(ReplayMode.Modify, n, Seq(price, qty, isBid, prevPrice, prevQty),
      partitionBy, orderBy)
}
