package graft.streaming

import java.security.MessageDigest

import graft.operators.PoiStableHash
import org.apache.spark.sql.Dataset

/** Streaming proof-of-indexing block digests (reference poi/poi.go:
  * the sinker hashes each block's events in order as they stream in,
  * emitting the digest when the block completes).
  *
  * Structured-Streaming re-expression: events keyed by block
  * accumulate in the [[BlockBuffer]]; an EVENT-TIME TIMEOUT tied to the
  * watermark finalizes a block — once the watermark passes the block's
  * horizon no more events can arrive (late ones are dropped), so the
  * ordered digest is emitted exactly once.
  *
  * The digest matches the batch [[graft.operators.Poi.blockDigest]]
  * exactly: md5 over '|'-joined reprs in block_num order.
  */
object PoiStream {

  case class BlockEvent(block: Long, blockNum: Long, repr: String,
                        ts: java.sql.Timestamp)
  case class BlockDigest(block: Long, digest: String, nEvents: Int)

  def md5Hex(s: String): String =
    PoiStableHash.hex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  // sort by (blockNum, repr) — the batch digest array_sorts structs,
  // which tie-breaks equal block_nums on repr; sorting by blockNum
  // alone would keep arbitrary arrival order on ties and diverge
  def digestOf(events: Seq[(Long, String)]): String =
    md5Hex(events.sortBy(e => (e._1, e._2)).map(_._2).mkString("|"))

  /** `events` must carry an event-time `ts` with a watermark applied by
    * the caller, every event of one block carrying the BLOCK'S
    * timestamp — the [[BlockBuffer]] contract that makes finalization
    * safe. */
  def blockDigests(events: Dataset[BlockEvent]): Dataset[BlockDigest] =
    BlockBuffer.closeBlocks(events)(_.block, _.ts, e => (e.blockNum, e.repr)) { (block, evs) =>
      BlockDigest(block, digestOf(evs), evs.length)
    }
}
