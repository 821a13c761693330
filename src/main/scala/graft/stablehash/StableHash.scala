package graft.stablehash

import java.math.BigInteger

/** graph-node-compatible stable hashing (the reference's `stablehash`
  * package): a FastHasher mixes xxh3-128 digests of field values into a
  * 192-bit commutative-associative polynomial mixer (FldMix), addressed
  * by a 128-bit field-address path. A user migrating from the reference
  * can cross-check their subgraph's proof-of-indexing against
  * graph-node with these digests.
  *
  * Behavior derived from the reference (cited file:line):
  *   - FastHasher / Write / Mixin / Finish — stablehash/fast_hasher.go:1-106
  *   - FldMix constants and u(x,y) = P + Q(x+y) + Rxy over U192 —
  *     stablehash/fld.go:14-105
  *   - wrapping U192 add/mul — stablehash/u192.go:96-174
  *   - Address: root=17, child = a*486187739 + n over u128 —
  *     stablehash/address.go:20-52
  *   - value encodings (string/bytes/bool/int/bigint/bigdecimal/
  *     list/map/optional) — stablehash/impls.go, big_decimal.go
  *
  * The FldMix fold is COMMUTATIVE AND ASSOCIATIVE (the constants satisfy
  * R·P + Q = Q² mod 2^192, making x○y = P+Q(x+y)+Rxy an affine image of
  * multiplication), and `MixInit` is its IDENTITY (Q + R·MixInit ≡ 1
  * and P + Q·MixInit ≡ 0 mod 2^192, so x○MixInit = x). That is what
  * lets Spark compute block POIs in parallel and fold prefixes from
  * `(MixInit, 0)` with no first-block case — see
  * [[graft.operators.PoiStableHash]].
  */
object StableHash {

  /** high 64 bits of the UNSIGNED 128-bit product (Java 17 lacks
    * Math.unsignedMultiplyHigh). */
  private def umulHi(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + (if (a < 0) b else 0L) + (if (b < 0) a else 0L)

  // ---- U192 (wrapping, 3 little-endian 64-bit limbs) ---------------------

  final case class U192(v0: Long, v1: Long, v2: Long) {
    def +(o: U192): U192 = {
      val r0 = v0 + o.v0
      val c0 = if (java.lang.Long.compareUnsigned(r0, v0) < 0) 1L else 0L
      val r1a = v1 + o.v1
      val c1a = if (java.lang.Long.compareUnsigned(r1a, v1) < 0) 1L else 0L
      val r1 = r1a + c0
      val c1b = if (java.lang.Long.compareUnsigned(r1, r1a) < 0) 1L else 0L
      U192(r0, r1, v2 + o.v2 + c1a + c1b)
    }

    def *(o: U192): U192 = {
      // schoolbook with the top limb truncated (wrapping) —
      // u192.go:96-141
      val r0 = v0 * o.v0
      val h00 = umulHi(v0, o.v0)
      val l10 = v1 * o.v0
      val h10 = umulHi(v1, o.v0)
      val r1a = l10 + h00
      val ov0 = if (java.lang.Long.compareUnsigned(r1a, l10) < 0) 1L else 0L
      val l01 = v0 * o.v1
      val h01 = umulHi(v0, o.v1)
      val r1 = l01 + r1a
      val ov1 = if (java.lang.Long.compareUnsigned(r1, l01) < 0) 1L else 0L
      val r2 = (h10 + ov0) + (h01 + ov1) + v2 * o.v0 + v1 * o.v1 + v0 * o.v2
      U192(r0, r1, r2)
    }

    def toBytesLE: Array[Byte] = {
      val out = new Array[Byte](24)
      var i = 0
      while (i < 8) {
        out(i) = ((v0 >>> (8 * i)) & 0xFF).toByte
        out(8 + i) = ((v1 >>> (8 * i)) & 0xFF).toByte
        out(16 + i) = ((v2 >>> (8 * i)) & 0xFF).toByte
        i += 1
      }
      out
    }

    def toBigInteger: BigInteger =
      new BigInteger(1, toBytesLE.reverse)
  }

  object U192 {
    def fromBytesLE(b: Array[Byte], off: Int): U192 = {
      def rd(o: Int): Long = {
        var v = 0L; var i = 7
        while (i >= 0) { v = (v << 8) | (b(off + o + i) & 0xFFL); i -= 1 }
        v
      }
      U192(rd(0), rd(8), rd(16))
    }
  }

  // ---- FldMix -------------------------------------------------------------

  /** fld.go:14-24 constants. */
  private val MixP = U192(0x2000000000000007L, 0x1FFFFFFFFFFFFFFEL, 0L)
  private val MixQ = U192(-7L, 0L, 0L) // 2^64 - 7
  private val MixR = U192(8L, 0L, 0L)
  /** initial mixer state — fld.go FLDMIX_I; the identity of [[mix]]. */
  val MixInit: U192 = U192(0xE000000000000001L, -1L, -1L)

  /** the mix fold u(x,y) = P + Q·(x+y) + (R·x)·y — fld.go:98-105.
    * Commutative and associative, with identity [[MixInit]] (see object
    * doc). */
  def mix(x: U192, y: U192): U192 = MixP + (MixQ * (x + y)) + ((MixR * x) * y)

  /** fld.go Mix: fold a 128-bit value hash with its address-high seed. */
  def mixValue(state: U192, hashLo: Long, hashHi: Long, seed: Long): U192 =
    mix(state, U192(seed & Long.MaxValue, hashLo, hashHi))

  // ---- field addresses (u128, wrapping) -----------------------------------

  /** address.go:20-52 — root 17, child = a·486187739 + n. */
  final case class Address(hi: Long, lo: Long) {
    def child(n: Long): Address = {
      val m = 486187739L
      val newLo = lo * m
      val newHi = hi * m + umulHi(lo, m)
      val rLo = newLo + n
      val carry = if (java.lang.Long.compareUnsigned(rLo, newLo) < 0) 1L else 0L
      Address(newHi + carry, rLo)
    }
    /** unordered() = (root, this) — address.go:55-57. */
    def unordered: (Address, Address) = (Address.Root, this)
  }

  object Address {
    val Root: Address = Address(0L, 17L)
    def root(children: Long*): Address = children.foldLeft(Root)(_.child(_))
  }

  // ---- FastHasher -----------------------------------------------------------

  /** fast_hasher.go — mutable accumulator. State is (mixer, count);
    * ToBytes = 24-byte LE mixer ++ 8-byte LE count. */
  final class FastHasher private (var mixer: U192, var count: Long) {

    /** Write: hash = xxh3_128(bytes, seed = addr.low);
      * mixer.mix(hash, addr.high) — fast_hasher.go:83-98. */
    def write(addr: Address, bytes: Array[Byte]): Unit = {
      val h = XxHash3.hash128(bytes, addr.lo)
      mixer = StableHash.mixValue(mixer, h.lo, h.hi, addr.hi)
      count += 1
    }

    /** Mixin another hasher's state — fast_hasher.go:50-63. */
    def mixin(other: FastHasher): Unit = {
      mixer = StableHash.mix(mixer, other.mixer)
      count += other.count
    }

    def toBytes: Array[Byte] = {
      val out = new Array[Byte](32)
      System.arraycopy(mixer.toBytesLE, 0, out, 0, 24)
      var i = 0
      while (i < 8) { out(24 + i) = ((count >>> (8 * i)) & 0xFF).toByte; i += 1 }
      out
    }

    /** Finish = xxh3_128(mixer LE bytes, seed = count) — fast_hasher.go:100-103. */
    def finish: XxHash3.Hash128 = XxHash3.hash128(mixer.toBytesLE, count)

    /** decimal string of the 128-bit digest (test-vector format). */
    def finishString: String = {
      val h = finish
      val bytes = new Array[Byte](16)
      var i = 0
      while (i < 8) {
        bytes(i) = ((h.hi >>> (8 * (7 - i))) & 0xFF).toByte
        bytes(8 + i) = ((h.lo >>> (8 * (7 - i))) & 0xFF).toByte
        i += 1
      }
      new BigInteger(1, bytes).toString
    }
  }

  object FastHasher {
    def apply(): FastHasher = new FastHasher(MixInit, 0L)
    /** Rebuild from serialized state — the distributed POI paths carry
      * (mixer, count) through shuffles/folds and re-enter here so the
      * 32-byte ToBytes layout lives in exactly one place. */
    def from(mixer: U192, count: Long): FastHasher = new FastHasher(mixer, count)
    def fromBytes(b: Array[Byte]): FastHasher = {
      require(b.length == 32, s"accepting exactly 32 bytes, got ${b.length}")
      var count = 0L
      var i = 7
      while (i >= 0) { count = (count << 8) | (b(24 + i) & 0xFFL); i -= 1 }
      new FastHasher(U192.fromBytesLE(b, 0), count)
    }
  }

  // ---- value encodings (impls.go) -------------------------------------------

  private val Empty = Array.emptyByteArray

  def hashBytes(bytes: Array[Byte], addr: Address, h: FastHasher): Unit =
    if (bytes.nonEmpty) h.write(addr, bytes)

  def hashString(s: String, addr: Address, h: FastHasher): Unit =
    hashBytes(s.getBytes("UTF-8"), addr, h)

  def hashBool(b: Boolean, addr: Address, h: FastHasher): Unit =
    h.write(addr, Array[Byte](if (b) 1 else 0))

  private def trimZeros(bytes: Array[Byte]): Array[Byte] = {
    var end = bytes.length
    while (end != 0 && bytes(end - 1) == 0) end -= 1
    if (end == bytes.length) bytes else bytes.take(end)
  }

  /** impls.go stableHashInt: sign as child(0), LE magnitude with high
    * zero bytes trimmed written at the parent slot. */
  def hashInt(negative: Boolean, leMagnitude: Array[Byte], addr: Address, h: FastHasher): Unit = {
    if (negative) h.write(addr.child(0), Empty)
    val canon = trimZeros(leMagnitude)
    if (canon.nonEmpty) h.write(addr, canon)
  }

  def hashI32(v: Int, addr: Address, h: FastHasher): Unit = {
    val abs = Math.abs(v.toLong)
    hashInt(v < 0, Array.tabulate(4)(i => ((abs >>> (8 * i)) & 0xFF).toByte), addr, h)
  }

  def hashI64(v: Long, addr: Address, h: FastHasher): Unit = {
    val abs = if (v < 0) -v else v // wrapping |Long.MinValue| like the reference's float-abs path never occurs for POI scales
    hashInt(v < 0, Array.tabulate(8)(i => ((abs >>> (8 * i)) & 0xFF).toByte), addr, h)
  }

  def hashU64(v: Long, addr: Address, h: FastHasher): Unit =
    hashInt(negative = false, Array.tabulate(8)(i => ((v >>> (8 * i)) & 0xFF).toByte), addr, h)

  def hashU8(v: Int, addr: Address, h: FastHasher): Unit =
    hashInt(negative = false, Array[Byte]((v & 0xFF).toByte), addr, h)

  /** BigInt: sign child + little-endian magnitude — impls.go:168-180. */
  def hashBigInt(v: BigInteger, addr: Address, h: FastHasher): Unit = {
    val neg = v.signum() == -1
    val mag = v.abs().toByteArray // big-endian, may carry a leading 0x00
    val be = if (mag.length > 1 && mag(0) == 0) mag.tail else mag
    val le = be.reverse
    // BigInteger(0).toByteArray = [0] — trimZeros drops it, matching Go's
    // empty Bytes() for zero
    hashInt(neg, le, addr, h)
  }

  /** Option: Some hashes the value at child(0) then writes an empty
    * marker at the parent — impls.go:96-101. None writes nothing. */
  def hashOptional(value: Option[Address => Unit], addr: Address, h: FastHasher): Unit =
    value.foreach { f => f(addr.child(0)); h.write(addr, Empty) }

  /** List: element i at child(i), then U64(len) at the parent —
    * impls.go:283-297. */
  def hashList(n: Int, hashAt: (Int, Address) => Unit, addr: Address, h: FastHasher): Unit = {
    var i = 0
    while (i < n) { hashAt(i, addr.child(i.toLong)); i += 1 }
    hashU64(n.toLong, addr, h)
  }

  /** Map entry (unordered): an independent hasher takes the key at
    * root.child(0) and the value at root.child(1); its 32-byte state is
    * written at this address — impls.go:225-246. Entry order is
    * irrelevant because the mixer fold is commutative. */
  def hashMapEntry(hashKey: (Address, FastHasher) => Unit,
                   hashValue: (Address, FastHasher) => Unit,
                   addr: Address, h: FastHasher): Unit = {
    val inner = FastHasher()
    val (a, b) = addr.unordered
    hashKey(a.child(0), inner)
    hashValue(a.child(1), inner)
    h.write(b, inner.toBytes)
  }

  // ---- BigDecimal (graph-node normalized) -----------------------------------

  /** graph-node's BigDecimal normal form: (unscaled BigInteger, scale)
    * rounded to 34 significant digits with the reference's exact quirky
    * rounding (toward +∞ via a digit-guess loop; negatives escape the
    * precision cut when the bit-length guess underestimates) —
    * big_decimal.go:33-292 ported faithfully, including the guess
    * arithmetic, because graph-node hashes the POST-normalization pair.
    */
  final case class BigDec(unscaled: BigInteger, scale: Long)

  private val MaxSigDigits = 34L
  private val Ten = BigInteger.TEN

  def parseBigDecimal(s: String): BigDec = {
    var basePart = s
    var exponent = 0L
    val eLoc = s.indexWhere(c => c == 'e' || c == 'E')
    if (eLoc != -1) {
      basePart = s.substring(0, eLoc)
      val expRaw = s.substring(eLoc + 1).stripPrefix("+")
      exponent = java.lang.Long.parseLong(expRaw)
    }
    require(basePart.nonEmpty, "failed to parse empty string")
    var digits = basePart
    var decimalOffset = 0L
    // NOTE: the reference searches the dot in the ORIGINAL string `s`
    // (big_decimal.go:62) — faithfully reproduced
    val dotLoc = s.indexOf('.')
    if (dotLoc != -1) {
      val lead = basePart.substring(0, dotLoc)
      val trail = basePart.substring(dotLoc + 1)
      digits = lead + trail
      decimalOffset = trail.length.toLong
    }
    normalize(BigDec(new BigInteger(digits), decimalOffset - exponent))
  }

  private def tenToThe(pow: Long): BigInteger = Ten.pow(pow.toInt)

  /** big_decimal.go digits(): bit-length guess then correction loop —
    * the loop never runs for negative values (cmp < 0), reproducing the
    * reference's signed behavior exactly. */
  private def numDigits(v: BigInteger): Long = {
    if (v.signum() == 0) return 1L
    val bits = v.bitLength()
    var digits = (bits.toDouble / 3.3219280949).toLong
    var num = tenToThe(digits)
    while (v.compareTo(num) >= 0) {
      num = num.multiply(Ten)
      digits += 1
    }
    digits
  }

  /** big_decimal.go get_rounding_term. */
  private def roundingTerm(num: BigInteger): BigInteger = {
    if (num.signum() == 0) return BigInteger.ZERO
    val bits = num.bitLength() - num.getLowestSetBit
    val digits = (bits.toDouble / 3.3219280949).toLong
    var n = tenToThe(digits)
    while (true) {
      if (num.compareTo(n) < 0) return BigInteger.ONE
      n = n.multiply(BigInteger.valueOf(5))
      if (num.compareTo(n) < 0) return BigInteger.ZERO
      n = n.multiply(BigInteger.TWO)
    }
    BigInteger.ZERO // unreachable
  }

  private def normalize(in: BigDec): BigDec = {
    if (in.unscaled.signum() == 0) return BigDec(BigInteger.ZERO, 0L)
    // withPrecision(34)
    var bi = in.unscaled
    var scale = in.scale
    val digits = numDigits(bi)
    if (digits > MaxSigDigits) {
      val diff = digits - MaxSigDigits
      val p = tenToThe(diff)
      val qr = bi.divideAndRemainder(p)
      var q = qr(0)
      val r = qr(1)
      if (p.compareTo(Ten.multiply(r)) < 0) q = q.add(roundingTerm(r))
      bi = q
      scale -= diff
    } else if (digits < MaxSigDigits) {
      val diff = MaxSigDigits - digits
      bi = bi.multiply(tenToThe(diff))
      scale += diff
    }
    // trailing-zero truncation on the decimal string
    val sign = bi.signum()
    val str = bi.abs().toString
    val trimmed = str.reverse.dropWhile(_ == '0').reverse
    val trailing = (str.length - trimmed.length).toLong
    val outInt0 = if (trimmed.isEmpty) BigInteger.ZERO else new BigInteger(trimmed)
    val outInt = if (sign == -1) outInt0.negate() else outInt0
    BigDec(outInt, scale - trailing)
  }

  /** BigDecimal stable hash: I64(scale) at child(1), then the BigInt at
    * the parent slot — impls.go:266-277. */
  def hashBigDecimal(v: BigDec, addr: Address, h: FastHasher): Unit = {
    hashI64(v.scale, addr.child(1), h)
    hashBigInt(v.unscaled, addr, h)
  }
}
