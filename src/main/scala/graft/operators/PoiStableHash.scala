package graft.operators

import graft.stablehash.StableHash
import graft.stablehash.StableHash.{Address, FastHasher, U192}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** mixer-state rows for the distributed chain — top level so Spark's
  * encoder codegen can instantiate them. */
final case class PoiLocalRow(block_num: Long, bundle: Long,
                             v0: Long, v1: Long, v2: Long, cnt: Long)
final case class PoiPrefixRow(block_num: Long, bundle: Long,
                              v0: Long, v1: Long, v2: Long, cnt: Long,
                              is_last: Boolean)

/** Graph-node-compatible proof-of-indexing over the entity-change
  * stream — the digests graph-node itself would compute, so a user
  * migrating from the reference can cross-check their subgraph.
  *
  * Behavior from the reference (cited file:line):
  *   - event address path [1, 0, blockNum, 0, vecIdx] and the
  *     per-block vec-length finalization — poi/poi.go:48-73, 86-101
  *   - SetEntity/RemoveEntity encodings (variant bytes 0x2/0x1) —
  *     poi/event.go:34-43, 61-68
  *   - entity value encodings (string 0x1, bigdecimal 0x3, ...) —
  *     poi/entity.go:15-83
  *   - chaining: each block's POI mixes in the previous block's
  *     (`Pause(prev)`) — poi/poi.go:48-73
  *
  * Spark-first realization: the FldMix fold is commutative AND
  * associative, with `MixInit` as its identity
  * ([[graft.stablehash.StableHash]]), so
  *   poi(b) = MixInit ○ local(1) ○ local(2) ○ … ○ local(b)
  * where local(i) is block i's self-contained event fold. That turns
  * the reference's inherently sequential chain into
  *   1. one shuffle keyed by block: per-block local mixers in parallel
  *      (the only pass over the data),
  *   2. one shuffle of |blocks| tiny mixer rows keyed by bundle:
  *      in-bundle prefix folds,
  *   3. a driver fold over |bundles| bundle totals (bounded, like
  *      [[VidAssigner]]'s offsets) broadcast back and mixed into each
  *      block's prefix.
  * The imperative hashing runs in mapGroups — the documented
  * last-resort path, justified here because the kernel is a custom
  * 128-bit hash chain no Catalyst expression composes.
  */
object PoiStableHash {

  // ---- event model ----------------------------------------------------

  sealed trait EValue
  final case class EString(v: String) extends EValue
  final case class EBigDecimal(v: String) extends EValue
  final case class EBigInt(v: java.math.BigInteger) extends EValue
  final case class EBool(v: Boolean) extends EValue
  final case class EBytes(v: Array[Byte]) extends EValue
  final case class EInt32(v: Int) extends EValue
  final case class EArray(v: Seq[EValue]) extends EValue

  sealed trait PoiEvent
  final case class SetEntity(entityType: String, id: String,
                             data: Seq[(String, EValue)]) extends PoiEvent
  final case class RemoveEntity(entityType: String, id: String) extends PoiEvent

  /** entity.go:15-27 — typed value at child(0), variant byte at the
    * parent slot. */
  def hashEntityValue(v: EValue, addr: Address, h: FastHasher): Unit = {
    val variant: Byte = v match {
      case EString(s) =>
        // Postgres NUL stripping — entity.go:32-37
        StableHash.hashString(s.replace("\u0000", ""), addr.child(0), h); 0x1
      case EInt32(i) =>
        StableHash.hashI32(i, addr.child(0), h); 0x2
      case EBigDecimal(s) =>
        StableHash.hashBigDecimal(StableHash.parseBigDecimal(s), addr.child(0), h); 0x3
      case EBool(b) =>
        StableHash.hashBool(b, addr.child(0), h); 0x4
      case EArray(xs) =>
        StableHash.hashList(xs.length,
          (i, a) => hashEntityValue(xs(i), a, h), addr.child(0), h); 0x5
      case EBytes(bytes) =>
        StableHash.hashBytes(bytes, addr.child(0), h); 0x6
      case EBigInt(bi) =>
        StableHash.hashBigInt(bi, addr.child(0), h); 0x7
    }
    h.write(addr, Array[Byte](variant))
  }

  /** poi/event.go — type at child(0), id at child(1), data map at
    * child(2) (SetEntity only), variant byte at the parent. */
  def hashEvent(e: PoiEvent, addr: Address, h: FastHasher): Unit = e match {
    case SetEntity(tpe, id, data) =>
      StableHash.hashString(tpe, addr.child(0), h)
      StableHash.hashString(id, addr.child(1), h)
      val dataAddr = addr.child(2)
      data.foreach { case (k, v) =>
        StableHash.hashMapEntry(
          (a, ih) => StableHash.hashString(k, a, ih),
          (a, ih) => hashEntityValue(v, a, ih),
          dataAddr, h)
      }
      h.write(addr, Array[Byte](0x2))
    case RemoveEntity(tpe, id) =>
      StableHash.hashString(tpe, addr.child(0), h)
      StableHash.hashString(id, addr.child(1), h)
      h.write(addr, Array[Byte](0x1))
  }

  /** One block's self-contained POI state: events at
    * [1,0,blockNum,0,i], then the vec-length finalization write at
    * [1,0,blockNum,0] — poi.go Write + Pause without the prev mixin. */
  def blockLocal(blockNum: Long, events: Seq[PoiEvent]): FastHasher = {
    val h = FastHasher()
    val base = Address.root(1L, 0L, blockNum, 0L)
    var i = 0
    events.foreach { e => hashEvent(e, base.child(i.toLong), h); i += 1 }
    StableHash.hashU64(events.length.toLong, base, h)
    h
  }

  /** Reference-faithful sequential chain (testing/small inputs): each
    * block's Pause(prev) — poi.go:48-73. */
  def chainSequential(blocks: Seq[(Long, Seq[PoiEvent])]): Seq[(Long, String)] = {
    var prev: Option[FastHasher] = None
    blocks.sortBy(_._1).map { case (bn, evs) =>
      val h = blockLocal(bn, evs)
      prev.foreach(h.mixin)
      prev = Some(h)
      bn -> hex(h.toBytes)
    }
  }

  def hex(bytes: Array[Byte]): String =
    new String(hexAscii(bytes), java.nio.charset.StandardCharsets.US_ASCII)

  private val HexChars = "0123456789abcdef".toCharArray

  /** Lower-case hex of `bytes` as ASCII bytes — the one encoder behind
    * [[hex]] and `graft_poi_hex`. */
  def hexAscii(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexChars(b >>> 4).toByte
      out(i * 2 + 1) = HexChars(b & 0xf).toByte
      i += 1
    }
    out
  }

  /** One block's `user_state` events from its `(id, op, value)`
    * changes, ordered by (id, op) — the deterministic stand-in for the
    * reference's stream arrival order. A null value reads as "0", the
    * [[valueText]] default, so batch and live build identical events. */
  def blockEvents(changes: Seq[(String, String, String)]): Seq[PoiEvent] =
    changes.sortBy(c => (c._1, c._2)).map { case (id, op, value) =>
      if (op == "DELETE") RemoveEntity("user_state", id)
      else SetEntity("user_state", id,
        Seq("last_op" -> EString(op), "value" -> EBigDecimal(Option(value).getOrElse("0"))))
    }

  // ---- Spark integration ------------------------------------------------

  /** Canonical text of the non-nullable decimal `value` column: the
    * decimal(20,2) rendering with NULL mapped to "0", the typed-CSV
    * default the gl oracles use for non-nullable decimals. EVERY POI
    * surface — the batch chain, the streaming locals, and the spec
    * reference reconstructions — must extract the value through this
    * one definition, or stream and batch digests silently diverge on a
    * NULL input (and parseBigDecimal NPEs on a null string). */
  def valueText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(c.cast("decimal(20,2)").cast("string"), lit("0"))

  /** Chained per-block POIs for the standard entity-change stream:
    * one [[blockEvents]] event per change, entity type `user_state`,
    * data = {value: BigDecimal, last_op: String}. Output: (block_num,
    * poi, chain_digest) rows.
    */
  def poiChain(changes: DataFrame, bundleSize: Long): DataFrame =
    chainTable(changes, bundleSize).frame

  /** [[poiChain]]'s frame with the prefix frame it persists, so a
    * standing owner can unpersist what the chain pins. */
  private[graft] final case class ChainTable(frame: DataFrame, prefixes: Dataset[PoiPrefixRow])

  private[graft] def chainTable(changes: DataFrame, bundleSize: Long): ChainTable = {
    val spark = changes.sparkSession
    import spark.implicits._

    val locals: Dataset[PoiLocalRow] = changes
      .select($"block_num".as[Long], $"id".as[String], $"op".as[String],
        valueText($"value").as[String])
      .groupByKey(_._1)
      .mapGroups { (bn, it) =>
        val h = blockLocal(bn, blockEvents(it.map(r => (r._2, r._3, r._4)).toSeq))
        PoiLocalRow(bn, bn / bundleSize, h.mixer.v0, h.mixer.v1, h.mixer.v2, h.count)
      }

    // each chain fold starts from (MixInit, 0), the fold's identity.
    // spill-safe persist: the bundle-totals collect below and the
    // returned dataframe both consume this stage — without it the
    // scan + both shuffles + all xxh3 hashing run TWICE per query
    val prefixes: Dataset[PoiPrefixRow] = locals
      .groupByKey(_.bundle)
      .flatMapGroups { (bundle, it) =>
        val rows = it.toSeq.sortBy(_.block_num)
        var m = StableHash.MixInit
        var c = 0L
        rows.zipWithIndex.map { case (r, i) =>
          m = StableHash.mix(m, U192(r.v0, r.v1, r.v2))
          c += r.cnt
          PoiPrefixRow(r.block_num, bundle, m.v0, m.v1, m.v2, c, i == rows.length - 1)
        }.iterator
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // bundle totals: |bundles| rows only (height / bundleSize — the
    // same bounded driver set VidAssigner collects); a bundle's offset
    // is the fold of every earlier bundle's total
    val totals = prefixes.filter(_.is_last).collect().sortBy(_.bundle)
    val offsets = totals.scanLeft((StableHash.MixInit, 0L)) { case ((m, c), t) =>
      (StableHash.mix(m, U192(t.v0, t.v1, t.v2)), c + t.cnt)
    }

    // serve readoff as a codegen'd expression over the CACHED columnar
    // prefix rows: the per-bundle offsets (|bundles| rows, (MixInit, 0)
    // for the first bundle) broadcast-join in,
    // and `graft_poi_hex` computes mix+finalize+hex inside Tungsten —
    // the previous Dataset.map closure deserialized every prefix row
    // to a case class and re-serialized the result on EVERY pass of
    // both per-serve jobs (the digest agg and the output scan); the
    // expression form keeps the whole readoff in whole-stage codegen
    // (round 12, guide §1.2 per-task work). Same math, same
    // sequential-chain spec gate (PoiStableHashSparkSpec).
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val offsetRows = totals.zip(offsets).map { case (t, (m, c)) =>
      (t.bundle, m.v0, m.v1, m.v2, c)
    }.toSeq.toDF("bundle", "ov0", "ov1", "ov2", "ocnt")
    val chain = prefixes.toDF()
      .join(broadcast(offsetRows), Seq("bundle"))
      .select(col("block_num"),
        call_function("graft_poi_hex",
          col("v0"), col("v1"), col("v2"), col("cnt"),
          col("ov0"), col("ov1"), col("ov2"), col("ocnt")).as("poi"))

    // digest-of-digests: an order-free XOR set-digest over every
    // (block_num, poi) row, stamped onto each output row. The driver's
    // gate for this key is rows-only (no SQL engine computes
    // xxh3/FldMix), so the dumped parquet itself now carries a single
    // value that certifies ALL rows: StableHashSpec pins it against
    // the sequential Pause(prev) reference chain at sf0.01, and
    // SURVEY records the literal. XOR (not SUM) because block_num is
    // unique per row — any single wrong row flips the digest — and
    // ANSI-mode sum(long) would throw on wrap. Cost: one extra pass
    // over the PERSISTED |blocks|-row mixer frame, never the data.
    val digest = chain.agg(
      bit_xor(xxhash64(col("block_num"), col("poi"))).as("chain_digest"))
    ChainTable(chain.crossJoin(broadcast(digest)), prefixes)
  }
}
