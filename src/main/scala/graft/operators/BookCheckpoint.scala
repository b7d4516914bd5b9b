package graft.operators

import graft.core.{BookCodec, OrderBook, ReplayMode}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Checkpoint / resume for O1/O2/O3 book replays — the serving lifecycle of
  * the order-book side, mirroring the corpus artifacts' build-once /
  * consume-daily discipline: [[bookStateSnapshots]] replays a day's
  * stream and emits ONE row per group holding the final book serialized
  * with [[graft.core.BookCodec]] (the persistable end-of-day state);
  * [[resumeTopNLevelsFromPriceUpdates]] continues the NEXT day's replay
  * from that state without re-reading any history. Resuming from the
  * day-1 checkpoint over day-2 events is output-identical to replaying
  * day1+day2 and keeping the day-2 rows (BookCheckpointSpec pins it;
  * the registry row's oracle IS the full-replay oracle with a seq
  * filter).
  *
  * Scale model matches the replay operators: one group = one book = one
  * task; the checkpoint relation is one narrow row per group (bounded
  * by live levels, independent of event count), so the state side of
  * the resume cogroup is broadcast-small in any real regime. The
  * stored state pins n — resuming at a different n fails loudly (the
  * pinned-geometry discipline every persisted artifact here follows).
  */
object BookCheckpoint {

  import OrderBookOps.{applyRow, bboFieldNames}
  import ReplayMode.{Modify, Mutations, Updates}

  /** Final book state per group after replaying `df` (O1 level-snapshot
    * transitions) in `orderBy` order: (partition cols..., book_state).
    * Empty `partitionBy` folds one global book into a single row. */
  def bookStateSnapshots(df: DataFrame, price: String, qty: String,
                         isBid: String, n: Int, partitionBy: Seq[String],
                         orderBy: Seq[String]): DataFrame =
    snapshots(df, price, qty, isBid, n, partitionBy, orderBy, Updates, None)

  /** [[bookStateSnapshots]] for the O2 transition (signed quantity
    * MUTATIONS fold into levels) — the checkpoint for mutation-stream
    * replays. */
  def bookStateSnapshotsFromMutations(df: DataFrame, price: String,
                                      qty: String, isBid: String, n: Int,
                                      partitionBy: Seq[String],
                                      orderBy: Seq[String]): DataFrame =
    snapshots(df, price, qty, isBid, n, partitionBy, orderBy, Mutations, None)

  /** [[bookStateSnapshots]] for the O3 transition (mutation-with-modify,
    * the reference's 9-case table at update.rs:132-161) — completes the
    * checkpoint lifecycle for all three public entry points. */
  def bookStateSnapshotsFromMutationsWithModify(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    snapshots(df, price, qty, isBid, n, partitionBy, orderBy, Modify,
      Some((prevPrice, prevQty)))

  private def snapshots(df: DataFrame, price: String, qty: String,
                        isBid: String, n: Int, partitionBy: Seq[String],
                        orderBy: Seq[String], mode: ReplayMode,
                        prev: Option[(String, String)]): DataFrame = {
    ReplayMode.requireLevels(n)
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(!df.columns.contains("book_state"),
      "Input already has output column book_state")
    val withEv = withEvents(df, price, qty, isBid, prev)
    val numIn = df.schema.size
    val keySchema = StructType(partitionBy.map(c =>
      df.schema(df.schema.fieldIndex(c))).toArray)
    val outSchema = StructType(keySchema.fields :+
      StructField("book_state", BinaryType, nullable = false))
    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val sortCols = orderBy.map(col)
    val width = keySchema.size + 1

    def fold(keyVals: Seq[Any], it: Iterator[Row]): Iterator[Row] = {
      val book = new OrderBook(n)
      it.foreach(applyRow(mode, book, _, numIn, price, qty, isBid))
      val out = new Array[Any](width)
      var i = 0
      while (i < keyVals.length) { out(i) = keyVals(i); i += 1 }
      out(width - 1) = BookCodec.serialize(book)
      Iterator.single(new GenericRowWithSchema(out, outSchema): Row)
    }

    if (partitionBy.isEmpty) {
      withEv.groupByKey(_ => 0)(Encoders.scalaInt)
        .flatMapSortedGroups(sortCols: _*)((_, it) => fold(Nil, it))
    } else {
      val keyIdx = partitionBy.map(withEv.schema.fieldIndex).toArray
      withEv.groupByKey(rowKey(keyIdx, keySchema))(Encoders.row(keySchema))
        .flatMapSortedGroups(sortCols: _*)(
          (k, it) => fold(k.toSeq, it))
    }
  }

  /** Roll a checkpoint FORWARD one day: per-group, the book initializes
    * from the stored state (absent groups start fresh), folds the new
    * events, and emits the NEW end-of-day state — the daily leg of a
    * multi-day checkpoint chain (state_d = fold(state_{d−1}, day_d)),
    * so day N's state costs one day of events, never a replay of the
    * whole history. Groups with a stored state but NO events today
    * CARRY FORWARD unchanged (a product that doesn't trade still has a
    * book tomorrow). Same loud contracts as resume: one state row per
    * group, stored n must match. CheckpointChainSoakMain measures a
    * 7-day chain at scale; BookCheckpointSpec pins chain ≡ one-shot. */
  def bookStateSnapshotsResumed(df: DataFrame, states: DataFrame,
                                price: String, qty: String, isBid: String,
                                n: Int, partitionBy: Seq[String],
                                orderBy: Seq[String],
                                stateCol: String = "book_state"): DataFrame =
    resumedSnapshots(df, states, price, qty, isBid, n, partitionBy,
      orderBy, stateCol, Updates, None)

  /** [[bookStateSnapshotsResumed]] for the O2 mutation transition. */
  def bookStateSnapshotsResumedFromMutations(
      df: DataFrame, states: DataFrame, price: String, qty: String,
      isBid: String, n: Int, partitionBy: Seq[String],
      orderBy: Seq[String], stateCol: String = "book_state"): DataFrame =
    resumedSnapshots(df, states, price, qty, isBid, n, partitionBy,
      orderBy, stateCol, Mutations, None)

  /** [[bookStateSnapshotsResumed]] for the O3 modify transition. */
  def bookStateSnapshotsResumedFromMutationsWithModify(
      df: DataFrame, states: DataFrame, price: String, qty: String,
      isBid: String, prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String],
      stateCol: String = "book_state"): DataFrame =
    resumedSnapshots(df, states, price, qty, isBid, n, partitionBy,
      orderBy, stateCol, Modify, Some((prevPrice, prevQty)))

  private def resumedSnapshots(df: DataFrame, states: DataFrame,
                               price: String, qty: String, isBid: String,
                               n: Int, partitionBy: Seq[String],
                               orderBy: Seq[String], stateCol: String,
                               mode: ReplayMode,
                               prev: Option[(String, String)]): DataFrame = {
    ReplayMode.requireLevels(n)
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(partitionBy.nonEmpty,
      "resumed snapshots require partition keys; add a constant key " +
        "column for a single global book")
    // the OUTPUT state column is `stateCol` too — day N's snapshots
    // must feed day N+1 with the same argument, or a non-default
    // stateCol chain breaks on its second day
    require(!df.columns.contains(stateCol),
      s"Input already has output column $stateCol")
    val withEv = withEvents(df, price, qty, isBid, prev)
    val numIn = df.schema.size
    val keySchema = StructType(partitionBy.map(c =>
      df.schema(df.schema.fieldIndex(c))).toArray)
    val outSchema = StructType(keySchema.fields :+
      StructField(stateCol, BinaryType, nullable = false))
    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val evKeyIdx = partitionBy.map(withEv.schema.fieldIndex).toArray
    val stKeyIdx = partitionBy.map(states.schema.fieldIndex).toArray
    val stStateIdx = states.schema.fieldIndex(stateCol)
    val sortCols = orderBy.map(col)
    val width = keySchema.size + 1

    withEv.groupByKey(rowKey(evKeyIdx, keySchema))(keyEnc)
      .cogroupSorted(
        states.groupByKey(rowKey(stKeyIdx, keySchema))(keyEnc))(
        sortCols: _*)() { (key, evIt, stIt) =>
        val (book, stored) = restore("resumed snapshots", key, stIt, stStateIdx, n)
        var sawEvent = false
        evIt.foreach { row =>
          sawEvent = true
          applyRow(mode, book, row, numIn, price, qty, isBid)
        }
        // carry-forward: a stored group with no events today keeps its
        // state; a fresh group with no events (impossible via cogroup,
        // but defensive) emits nothing
        if (!sawEvent && !stored) Iterator.empty
        else {
          val out = new Array[Any](width)
          var i = 0
          while (i < key.length) { out(i) = key.get(i); i += 1 }
          out(width - 1) = BookCodec.serialize(book)
          Iterator.single(new GenericRowWithSchema(out, outSchema): Row)
        }
      }
  }

  /** Continue an O1 replay from a [[bookStateSnapshots]] relation:
    * per-group, the book initializes from the stored state (groups
    * absent from `states` start fresh — a product that first trades
    * today) and each event row emits the usual top-N columns. The
    * stored state's n must equal the requested n. `states` must carry
    * the partition columns plus `book_state`; a group with more than
    * one state row fails loudly (a keyed checkpoint, not a multiset —
    * the snapshotDiff discipline). */
  def resumeTopNLevelsFromPriceUpdates(df: DataFrame, states: DataFrame,
                                       price: String, qty: String,
                                       isBid: String, n: Int,
                                       partitionBy: Seq[String],
                                       orderBy: Seq[String],
                                       stateCol: String = "book_state"): DataFrame =
    resume(df, states, price, qty, isBid, n, partitionBy, orderBy,
      stateCol, Updates, None)

  /** [[resumeTopNLevelsFromPriceUpdates]] for the O2 transition. */
  def resumeTopNLevelsFromPriceMutations(df: DataFrame, states: DataFrame,
                                         price: String, qty: String,
                                         isBid: String, n: Int,
                                         partitionBy: Seq[String],
                                         orderBy: Seq[String],
                                         stateCol: String = "book_state"): DataFrame =
    resume(df, states, price, qty, isBid, n, partitionBy, orderBy,
      stateCol, Mutations, None)

  /** [[resumeTopNLevelsFromPriceUpdates]] for the O3 transition —
    * day-2 modify streams continue from the day-1 state. Rows whose
    * prev refers to day-1 history fold correctly because the modify
    * transition only reads the CURRENT book (which the checkpoint
    * restored), never the event history. */
  def resumeTopNLevelsFromPriceMutationsWithModify(
      df: DataFrame, states: DataFrame,
      price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String],
      stateCol: String = "book_state"): DataFrame =
    resume(df, states, price, qty, isBid, n, partitionBy, orderBy,
      stateCol, Modify, Some((prevPrice, prevQty)))

  private def resume(df: DataFrame, states: DataFrame,
                     price: String, qty: String,
                     isBid: String, n: Int,
                     partitionBy: Seq[String],
                     orderBy: Seq[String],
                     stateCol: String,
                     mode: ReplayMode,
                     prev: Option[(String, String)]): DataFrame = {
    ReplayMode.requireLevels(n)
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(partitionBy.nonEmpty,
      "resume requires partition keys; add a constant key column for a " +
        "single global book")
    val clash = df.columns.toSet.intersect(bboFieldNames(n).toSet)
    require(clash.isEmpty, s"Input already has output columns: $clash")

    val withEv = withEvents(df, price, qty, isBid, prev)
    val numIn = df.schema.size
    val outSchema = StructType(df.schema.fields ++
      bboFieldNames(n).map(StructField(_, LongType, nullable = true)))
    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val keySchema = StructType(partitionBy.map(c =>
      df.schema(df.schema.fieldIndex(c))).toArray)
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val evKeyIdx = partitionBy.map(withEv.schema.fieldIndex).toArray
    val stKeyIdx = partitionBy.map(states.schema.fieldIndex).toArray
    val stStateIdx = states.schema.fieldIndex(stateCol)
    val sortCols = orderBy.map(col)
    val width = numIn + 4 * n

    withEv.groupByKey(rowKey(evKeyIdx, keySchema))(keyEnc)
      .cogroupSorted(
        states.groupByKey(rowKey(stKeyIdx, keySchema))(keyEnc))(
        sortCols: _*)() { (key, evIt, stIt) =>
        val (book, _) = restore("resume", key, stIt, stStateIdx, n)
        evIt.map { row =>
          applyRow(mode, book, row, numIn, price, qty, isBid)
          val out = new Array[Any](width)
          var i = 0
          while (i < numIn) { out(i) = row.get(i); i += 1 }
          book.snapshotInto(out, numIn)
          new GenericRowWithSchema(out, outSchema): Row
        }
      }
  }

  /** `df` with [[OrderBookOps.eventColumns]] appended after its own
    * columns (read by the folds, never emitted). */
  private def withEvents(df: DataFrame, price: String, qty: String,
                         isBid: String, prev: Option[(String, String)]): DataFrame =
    df.select(col("*") +: OrderBookOps.eventColumns(price, qty, isBid, prev): _*)

  /** The book a resumed group starts from, and whether it was stored: the
    * group's state row decoded, or a fresh book when it has none. Several
    * state rows, or a state stored at another n, fail loudly; `what` names
    * the caller in the message. */
  private def restore(what: String, key: Row, stIt: Iterator[Row],
                      stateIdx: Int, n: Int): (OrderBook, Boolean) = {
    val stateRows = stIt.take(2).toList
    require(stateRows.size <= 1,
      s"$what: multiple checkpoint rows for group ${key.toSeq.mkString(",")}")
    val book = stateRows.headOption.fold(new OrderBook(n))(r =>
      BookCodec.deserialize(r.getAs[Array[Byte]](stateIdx)))
    require(book.n == n,
      s"checkpoint was built at n=${book.n}; $what requested n=$n " +
        "(the stored state pins n — rebuild the checkpoint to change it)")
    (book, stateRows.nonEmpty)
  }

  private def rowKey(keyIdx: Array[Int], keySchema: StructType): Row => Row =
    r => {
      val vs = new Array[Any](keyIdx.length)
      var i = 0
      while (i < keyIdx.length) { vs(i) = r.get(keyIdx(i)); i += 1 }
      new GenericRowWithSchema(vs, keySchema): Row
    }
}
