package graft.operators

import graft.core.{OrderBook, OrderBookException, Transitions}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-implementation oracle for the replay exec: the same three
  * operators as a Row-based `groupByKey(partitionBy)
  * .flatMapSortedGroups(orderBy)` fold. It shares only the book kernel
  * with `BboReplayExec` — not the planner, the exchange/sort contract or
  * the UnsafeRow field readers — so agreement checks the exec's plan and
  * row handling. */
object FlatMapGroupsOracle {

  private sealed trait Mode
  private case object Updates extends Mode
  private case object Mutations extends Mode
  private case object Modify extends Mode

  def topNLevelsFromPriceUpdatesViaGroups(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    replay(df, price, qty, isBid, None, None, n, partitionBy, orderBy, Updates)

  def topNLevelsFromPriceMutationsViaGroups(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    replay(df, price, qty, isBid, None, None, n, partitionBy, orderBy, Mutations)

  def topNLevelsFromPriceMutationsWithModifyViaGroups(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    replay(df, price, qty, isBid, Some(prevPrice), Some(prevQty), n,
      partitionBy, orderBy, Modify)

  private def replay(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: Option[String], prevQty: Option[String], n: Int,
      partitionBy: Seq[String], orderBy: Seq[String], mode: Mode): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      OrderBookOps.bboFieldNames(n).map(StructField(_, LongType, nullable = true)))
    val numIn = df.schema.size

    // Internal casted event columns appended after the passthrough columns;
    // they are read by the fold and never emitted.
    val withEv0 = df
      .withColumn("__g_price", col(price).cast(LongType))
      .withColumn("__g_qty", col(qty).cast(LongType))
      .withColumn("__g_isbid", col(isBid).cast(BooleanType))
    val withEv = mode match {
      case Modify => withEv0
        .withColumn("__g_pprice", col(prevPrice.get).cast(LongType))
        .withColumn("__g_pqty", col(prevQty.get).cast(LongType))
      case _ => withEv0
    }
    val iPrice = numIn; val iQty = numIn + 1; val iBid = numIn + 2
    val iPPrice = numIn + 3; val iPQty = numIn + 4

    def replayGroup(it: Iterator[Row]): Iterator[Row] = {
      val book = new OrderBook(n)
      val width = numIn + 4 * n
      it.map { row =>
        if (row.isNullAt(iBid)) OrderBookException.missingValue(isBid)
        if (row.isNullAt(iPrice)) OrderBookException.missingValue(price)
        if (row.isNullAt(iQty)) OrderBookException.missingValue(qty)
        val b = row.getBoolean(iBid)
        val p = row.getLong(iPrice)
        val q = row.getLong(iQty)
        mode match {
          case Updates   => Transitions.applyUpdate(book, b, p, q)
          case Mutations => Transitions.applyMutation(book, b, p, q)
          case Modify =>
            val hasPP = !row.isNullAt(iPPrice)
            val hasPQ = !row.isNullAt(iPQty)
            Transitions.applyMutationWithModify(book, b, p, q,
              hasPP, if (hasPP) row.getLong(iPPrice) else 0L,
              hasPQ, if (hasPQ) row.getLong(iPQty) else 0L)
        }
        val out = new Array[Any](width)
        var i = 0
        while (i < numIn) { out(i) = row.get(i); i += 1 }
        book.snapshotInto(out, numIn)
        new GenericRowWithSchema(out, outSchema): Row
      }
    }

    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val sortCols = orderBy.map(col)

    if (partitionBy.isEmpty) {
      // Single global book: one group, one task.
      withEv.groupByKey(_ => 0)(Encoders.scalaInt)
        .flatMapSortedGroups(sortCols: _*)((_, it) => replayGroup(it))
    } else {
      val keySchema = StructType(partitionBy.map(c =>
        df.schema(df.schema.fieldIndex(c))).toArray)
      val keyIdx = partitionBy.map(withEv.schema.fieldIndex).toArray
      val keyEnc: Encoder[Row] = Encoders.row(keySchema)
      withEv.groupByKey { r =>
        val vs = new Array[Any](keyIdx.length)
        var i = 0
        while (i < keyIdx.length) { vs(i) = r.get(keyIdx(i)); i += 1 }
        new GenericRowWithSchema(vs, keySchema): Row
      }(keyEnc).flatMapSortedGroups(sortCols: _*)((_, it) => replayGroup(it))
    }
  }
}
