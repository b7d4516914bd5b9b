package graft.plans

import graft.core.{BookKernel, OrderBookException, ReplayMode, Transitions}
import graft.operators.OrderBookOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.LongType

/** The batch book replay: a custom LogicalPlan + SparkStrategy + SparkPlan
  * (SURVEY.md §4 "custom pieces actually needed"), and the only batch
  * engine — the `OrderBookOps` API and the `bbo_from_*` window forms (SQL
  * and [[BboWindow]]) all plan as [[BboReplayExec]]. The fold runs
  * directly over UnsafeRows with Spark-planned exchange + sort.
  *
  * Planner contract: `requiredChildDistribution` = clustered on the
  * partition keys (AllTuples when none → single global book) and
  * `requiredChildOrdering` = (partition keys ascending, order keys as
  * given — direction and null ordering included), so EnsureRequirements
  * inserts exactly one hash exchange and one in-partition sort — the same
  * minimal plan as a window function, with a straight-line fold instead
  * of frame machinery.
  */
case class BboReplayNode(
    mode: ReplayMode,
    n: Int,
    price: Expression, qty: Expression, isBid: Expression,
    prevPrice: Option[Expression], prevQty: Option[Expression],
    partitionKeys: Seq[Expression],
    orderKeys: Seq[SortOrder],
    bboAttrs: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output ++ bboAttrs

  override def producedAttributes: AttributeSet = AttributeSet(bboAttrs)

  override protected def withNewChildInternal(newChild: LogicalPlan): BboReplayNode =
    copy(child = newChild)
}

object BboReplayNode {
  /** Fresh output attributes for the 4·n level columns. */
  def mkBboAttrs(n: Int): Seq[Attribute] =
    OrderBookOps.bboFieldNames(n)
      .map(f => AttributeReference(f, LongType, nullable = true)())
}

case class BboReplayExec(
    mode: ReplayMode, n: Int,
    price: Expression, qty: Expression, isBid: Expression,
    prevPrice: Option[Expression], prevQty: Option[Expression],
    partitionKeys: Seq[Expression],
    orderKeys: Seq[SortOrder],
    bboAttrs: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ bboAttrs

  override def producedAttributes: AttributeSet = AttributeSet(bboAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionKeys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionKeys.map(SortOrder(_, Ascending)) ++ orderKeys)

  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numBooks" -> SQLMetrics.createMetric(sparkContext, "number of books replayed"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numBooks = longMetric("numBooks")
    val modeL = mode; val nL = n
    val childOutput = child.output
    // price, qty, is_bid, prev_price, prev_qty (null when absent)
    val eventExprs = Seq(price, qty, isBid) ++
      Seq(prevPrice, prevQty).map(_.getOrElse(Literal(null, LongType)))
    val keyExprs = partitionKeys
    val outputAttrs = output

    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // one generated reader for the event columns, whatever their
      // expressions: casts, arithmetic or bare attributes
      val eventProj = UnsafeProjection.create(eventExprs, childOutput)
      // identity projection materializing (input ++ bbo) to one UnsafeRow
      val outProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val bboRow = new GenericInternalRow(4 * nL)
      val joined = new JoinedRow
      var book: BookKernel = null
      var curKey: UnsafeRow = null
      val snap = new Array[Any](4 * nL)

      it.map { row =>
        if (keyExprs.nonEmpty) {
          val k = keyProj(row)
          if (curKey == null || !curKey.equals(k)) {
            curKey = k.copy()
            book = BookKernel(nL)
            numBooks += 1
          }
        } else if (book == null) {
          book = BookKernel(nL)
          numBooks += 1
        }

        val ev = eventProj(row)
        if (ev.isNullAt(2)) OrderBookException.missingValue("is_bid")
        if (ev.isNullAt(0)) OrderBookException.missingValue("price")
        if (ev.isNullAt(1)) OrderBookException.missingValue("qty")
        val hasPP = !ev.isNullAt(3)
        val hasPQ = !ev.isNullAt(4)
        Transitions(modeL, book, ev.getBoolean(2), ev.getLong(0), ev.getLong(1),
          hasPP, if (hasPP) ev.getLong(3) else 0L,
          hasPQ, if (hasPQ) ev.getLong(4) else 0L)
        book.snapshotInto(snap, 0)
        var i = 0
        while (i < 4 * nL) {
          if (snap(i) == null) bboRow.setNullAt(i)
          else bboRow.setLong(i, snap(i).asInstanceOf[Long])
          i += 1
        }
        numOutputRows += 1
        outProj(joined(row, bboRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BboReplayExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to its exec. A `Window`
  * holding `bbo_from_*` functions is rewritten into stacked
  * [[BboReplayNode]]s first; any other plan node carrying one is rejected.
  * Registered idempotently on the session by the OrderBookOps API, the
  * [[BboWindow]] API and `GraftFunctions.registerAll` (and available via
  * `GraftExtensions` for spark.sql.extensions-based setups). */
object BboReplayStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BboReplayNode(mode, n, p, q, b, pp, pq, keys, ord, attrs, child) =>
      BboReplayExec(mode, n, p, q, b, pp, pq, keys, ord, attrs,
        planLater(child)) :: Nil
    case w: Window if w.windowExpressions.exists(BboWindowAggregate.in) =>
      planLater(replayWindow(w)) :: Nil
    case other => other.expressions.find(BboWindowAggregate.in) match {
      case Some(e) => BboWindowAggregate.unsupported(e)
      case None => Nil
    }
  }

  /** Each running-frame `bbo_from_*` becomes a BboReplayNode over the
    * window's partition and order keys; a Project re-packs its 4·n level
    * columns into the struct under the window column's attribute id. Other
    * window functions stay in a Window above the replay, which already
    * satisfies its distribution and ordering. */
  private def replayWindow(w: Window): LogicalPlan = {
    val (bbos, others) = w.windowExpressions.partition(BboWindowAggregate.in)
    var replayed = w.child
    val structs = bbos.map { e =>
      val agg = e match {
        case Alias(WindowExpression(
            AggregateExpression(agg: BboWindowAggregate, _, false, None, _),
            WindowSpecDefinition(_, order,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)
            if order.nonEmpty => agg
        case _ => BboWindowAggregate.unsupported(e)
      }
      val ev = agg.children
      val node = BboReplayNode(agg.mode, agg.n, ev(0), ev(1), ev(2),
        ev.lift(3), ev.lift(4), w.partitionSpec, w.orderSpec,
        BboReplayNode.mkBboAttrs(agg.n), replayed)
      replayed = node
      e.exprId -> e.withNewChildren(Seq(CreateStruct(node.bboAttrs)))
        .asInstanceOf[NamedExpression]
    }.toMap
    Project(
      w.child.output ++ w.windowExpressions.map(e => structs.getOrElse(e.exprId, e.toAttribute)),
      if (others.isEmpty) replayed else w.copy(windowExpressions = others, child = replayed))
  }

  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(this))
      spark.experimental.extraStrategies = cur :+ this
  }
}
