package graft.streaming

import java.sql.Timestamp

import graft.operators.PoiStableHash
import graft.stablehash.StableHash
import graft.stablehash.StableHash.U192
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming graph-node-compatible proof of indexing (SURVEY.md §2
  * #43b) — the live form of `gl_poi_stablehash`: the reference's `run`
  * stage writes xxh3/FldMix POI digests continuously as blocks close
  * (reference sinker/sinker.go poiBundler + poi/poi.go:48-101), not
  * just in batch.
  *
  * Two-tier design, mirroring the batch operator's parallel/sequential
  * split:
  *
  *   1. **Distributed**: per-block changes accumulate in the
  *      [[BlockBuffer]] keyed by block, which finalizes a block once the
  *      watermark passes it (the buffer [[PoiStream]] runs too); its
  *      FastHasher local is built from the batch operator's own
  *      [[PoiStableHash.blockEvents]]. All the xxh3 hashing happens
  *      here, sharded.
  *   2. **Driver fold**: finalized locals are 4 longs per block; a
  *      `foreachBatch` sink folds them into the running FldMix chain in
  *      block order — O(closed blocks) tiny rows per micro-batch, the
  *      streaming analogue of the batch operator's bounded driver fold
  *      over bundle offsets. Blocks finalize in watermark order, so the
  *      fold never sees a block before its predecessors.
  *
  * The chain state lives in the folder; on restart it must be re-seeded
  * from the last emitted POI (exactly the reference's cursor/resume
  * model). StreamingSpec gates stream == sequential reference chain.
  */
object PoiStableHashStream {

  case class ChangeEvent(blockNum: Long, id: String, op: String, value: String,
                         ts: Timestamp)
  /** One finalized block's local mixer — 4 longs, no payload. */
  case class BlockLocal(block_num: Long, v0: Long, v1: Long, v2: Long, cnt: Long)

  /** `changes` must carry an event-time `ts` with a watermark applied
    * by the caller (the delay = block-completion horizon). */
  def blockLocals(changes: Dataset[ChangeEvent]): Dataset[BlockLocal] =
    BlockBuffer.closeBlocks(changes)(_.blockNum, _.ts, e => (e.id, e.op, e.value)) { (bn, evs) =>
      val h = PoiStableHash.blockLocal(bn, PoiStableHash.blockEvents(evs))
      BlockLocal(bn, h.mixer.v0, h.mixer.v1, h.mixer.v2, h.count)
    }

  /** Driver-held running chain. Fold input per batch = finalized block
    * locals (tiny); output = (block_num, chained 32-byte POI hex) in
    * block order, byte-identical to the batch chain.
    *
    * Retry/restart safety: `foreachBatch` is at-least-once, so the
    * cursor must not advance until the batch's POIs are durably
    * emitted. `foldAndEmit` computes from the committed cursor (pure —
    * a failed emit leaves the cursor untouched and the retry
    * recomputes identically) and commits cursor + batch id only after
    * `emit` returns. On restart, construct with the (mixer, count,
    * batchId) triple the sink recorded atomically beside its last
    * write — the reference's cursor-next-to-output model — and a
    * replay of an already-committed batch id becomes a no-op. */
  final class ChainFolder(seed: (U192, Long) = (StableHash.MixInit, 0L),
                          seedBatchId: Long = -1L) {
    private var state = seed
    private var committedBatch: Long = seedBatchId

    /** Committed resume cursor: chain state after the last committed
      * batch (persist together with [[committedBatchId]]); a fresh
      * folder's is `(MixInit, 0)`, the identity of the chain fold. */
    def cursor: (U192, Long) = state
    def committedBatchId: Long = committedBatch

    private def compute(locals: Seq[BlockLocal]): (Seq[(Long, String)], (U192, Long)) = {
      var (m, c) = state
      val out = locals.sortBy(_.block_num).map { l =>
        m = StableHash.mix(m, U192(l.v0, l.v1, l.v2))
        c += l.cnt
        l.block_num -> PoiStableHash.hex(StableHash.FastHasher.from(m, c).toBytes)
      }
      (out, (m, c))
    }

    /** Immediate-commit fold (batch/spec use where delivery is exact). */
    def fold(locals: Seq[BlockLocal]): Seq[(Long, String)] = {
      val (out, next) = compute(locals)
      state = next
      out
    }

    /** At-least-once-safe fold: replays of committed ids no-op; a
      * throwing `emit` leaves the cursor unchanged for the retry. */
    def foldAndEmit(batchId: Long, locals: Seq[BlockLocal])
                   (emit: Seq[(Long, String)] => Unit): Unit =
      if (batchId > committedBatch) {
        val (out, next) = compute(locals)
        emit(out)
        state = next; committedBatch = batchId
      }
  }

  /** Wire the two tiers: distributed locals → foreachBatch chain fold →
    * `emit` (a sink callback: object-store append, kafka, test buffer). */
  def start(changes: Dataset[ChangeEvent], folder: ChainFolder)
           (emit: Seq[(Long, String)] => Unit): StreamingQuery =
    blockLocals(changes).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[BlockLocal], batchId: Long) =>
        folder.foldAndEmit(batchId, batch.collect().toSeq)(emit)
      }
      .start()
}
