package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A block's buffered payloads while it is open: the group state of
  * [[BlockBuffer.closeBlocks]]. */
case class OpenBlock[E](events: List[E])

/** The watermark block buffer the live POI forms ([[PoiStream]],
  * [[PoiStableHashStream]]) share: rows keyed by block accumulate in
  * `flatMapGroupsWithState` state, and an EVENT-TIME TIMEOUT finalizes
  * a block exactly once. State per executor = the open blocks only.
  *
  * Contract: the caller applies a watermark on the event time (the
  * delay IS the block-completion horizon), and every row of one block
  * carries the BLOCK'S timestamp. The block then closes exactly when
  * the watermark passes it, when any straggler is late by definition
  * and the guard drops it.
  */
object BlockBuffer {

  /** One `finish(block, payloads)` row per closed block that buffered
    * at least one on-time row. */
  def closeBlocks[R, E: TypeTag, O <: Product: TypeTag](rows: Dataset[R])(
      block: R => Long, eventTime: R => Timestamp, payload: R => E)(
      finish: (Long, List[E]) => O): Dataset[O] = {
    implicit val se = Encoders.product[OpenBlock[E]]
    implicit val oe = Encoders.product[O]
    def accumulate(key: Long, it: Iterator[R], state: GroupState[OpenBlock[E]]): Iterator[O] =
      if (state.hasTimedOut) {
        val evs = state.getOption.map(_.events).getOrElse(Nil)
        state.remove()
        if (evs.isEmpty) Iterator.empty else Iterator.single(finish(key, evs))
      } else {
        // flatMapGroupsWithState does NOT auto-drop late rows (unlike
        // aggregations/dedup) — a row arriving after its block
        // finalized would re-open the key and emit a second, partial
        // result. Enforce the watermark contract explicitly.
        val wm = state.getCurrentWatermarkMs()
        val onTime = it.filter(r => eventTime(r).getTime > wm).toSeq
        if (onTime.nonEmpty) {
          val prev = state.getOption.map(_.events).getOrElse(Nil)
          state.update(OpenBlock(prev ++ onTime.map(payload)))
          // finalize when the watermark passes the BLOCK'S OWN event
          // time, not merely when it next advances: a wm+1 timeout
          // would let a block finalize while still inside the
          // watermark horizon, where an on-time straggler could
          // re-open it and emit a second result
          state.setTimeoutTimestamp(onTime.map(eventTime(_).getTime).max + 1)
        }
        Iterator.empty
      }
    rows
      .groupByKey(block)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(accumulate)
  }
}
