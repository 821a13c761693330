package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

/** A change of the mutable entity `Account` (deep SCD2 history). */
final case class AccountChange(id: String, block_num: Long, op: String, value: Double)

/** A row of the immutable entity `Transfer` (wide typed fields). */
final case class TransferRow(id: String, block_num: Long, tx_hash: Array[Byte], topics: Seq[String],
                             amount: String, log_index: Int, success: Boolean, memo: String)

/** One encoded EntityChange message with the key that orders it in its block. */
final case class EncodedChange(block_num: Long, key: String, msg: Array[Byte])

/** One block's `EntityChanges` protobuf payload: the program's input. */
final case class Payload(block_num: Long, payload: Array[Byte])

/** Seeded generator of substreams entity-change streams. Everything is
  * a function of (seed, entity index) or (seed, block), so the same
  * seed gives the same inputs however Spark partitions the work. */
object ChangeGen {

  /** Stream shape. Ids are graph-node style strings: 20-byte `0x…`
    * addresses for accounts, `0x<tx hash>-<log index>` for transfers. */
  final case class Shape(accounts: Int, minVersions: Int, maxVersions: Int, blocks: Int,
                         transfersPerBlock: Double, deleteShare: Double)

  val Sdl: String =
    """type Account @entity {
      |  id: ID!
      |  value: BigDecimal!
      |}
      |type Transfer @entity(immutable: true) {
      |  id: ID!
      |  txHash: Bytes!
      |  topics: [String!]!
      |  amount: BigInt!
      |  logIndex: Int!
      |  success: Boolean!
      |  memo: String
      |}""".stripMargin

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L + i)

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Per account: a uniform number of versions in [min, max] at distinct
    * blocks. The first change creates it; later ones update it or, with
    * `deleteShare`, delete it; a change after a delete re-creates it. */
  def accounts(spark: SparkSession, seed: Long, s: Shape, parts: Int): Dataset[AccountChange] = {
    import spark.implicits._
    spark.range(0, s.accounts.toLong, 1, parts).as[Long].flatMap { i =>
      val r = rng(seed, 1, i)
      val addr = new Array[Byte](16); r.nextBytes(addr)
      val id = f"0x${hex(addr)}$i%08x"
      val n = s.minVersions + r.nextInt(s.maxVersions - s.minVersions + 1)
      val blocks = scala.collection.mutable.TreeSet.empty[Long]
      while (blocks.size < n) blocks += r.nextLong(s.blocks.toLong)
      var alive = false
      blocks.toSeq.map { b =>
        val op = if (!alive) "CREATE" else if (r.nextDouble() < s.deleteShare) "DELETE" else "UPDATE"
        alive = op != "DELETE"
        AccountChange(id, b, op, r.nextLong(100000000L) / 100.0)
      }
    }
  }

  private val memos = Seq("gm", "refund, partial", "batch \"A\"", "fee\\rebate", "swap", "")

  /** Per block: a Poisson number of transfers with 1-4 topics, a 96-bit
    * amount and an optional memo. A few topics and memos carry commas,
    * quotes and backslashes so CSV quoting and array escaping run. */
  def transfers(spark: SparkSession, seed: Long, s: Shape, parts: Int): Dataset[TransferRow] = {
    import spark.implicits._
    spark.range(0, s.blocks.toLong, 1, parts).as[Long].flatMap { b =>
      val r = rng(seed, 2, b)
      // Knuth's Poisson draw; the mean is small
      val limit = math.exp(-s.transfersPerBlock)
      var k = 0; var p = r.nextDouble()
      while (p > limit) { k += 1; p *= r.nextDouble() }
      val tx = new Array[Byte](32)
      (0 until k).map { j =>
        if (j == 0 || r.nextDouble() < 0.3) r.nextBytes(tx)
        val topics = (0 until 1 + r.nextInt(4)).map { _ =>
          if (r.nextDouble() < 0.03) "a,b\\c" else { val t = new Array[Byte](32); r.nextBytes(t); "0x" + hex(t) }
        }
        val amount = { val a = new Array[Byte](12); r.nextBytes(a); new java.math.BigInteger(1, a).toString }
        val memo = if (r.nextDouble() < 0.3) null else memos(r.nextInt(memos.length))
        TransferRow(s"0x${hex(tx)}-$j", b, tx.clone(), topics, amount, j, r.nextDouble() < 0.97, memo)
      }
    }
  }

  /** Group the changes per block into one EntityChanges payload each,
    * changes ordered by (entity, id) inside a block. */
  def payloads(accts: Dataset[AccountChange], transfers: Option[Dataset[TransferRow]]): Dataset[Payload] = {
    val spark = accts.sparkSession
    import spark.implicits._
    val a = accts.map { c =>
      val op = c.op match { case "CREATE" => 1 case "UPDATE" => 2 case _ => 3 }
      EncodedChange(c.block_num, "Account/" + c.id,
        Pb.change("Account", c.id, op, Seq("value" -> Pb.Str(Pb.BigDecimal, java.lang.Double.toString(c.value)))))
    }
    val t = transfers.map(_.map { x =>
      val fields = Seq(
        "txHash" -> Pb.Str(Pb.Bytes, java.util.Base64.getEncoder.encodeToString(x.tx_hash)),
        "topics" -> Pb.Arr(x.topics.map(Pb.Str(Pb.Text, _))),
        "amount" -> Pb.Str(Pb.BigInt, x.amount),
        "logIndex" -> Pb.Int32(x.log_index),
        "success" -> Pb.Bool(x.success)) ++
        Option(x.memo).map(m => "memo" -> Pb.Str(Pb.Text, m))
      EncodedChange(x.block_num, "Transfer/" + x.id, Pb.change("Transfer", x.id, 1, fields))
    })
    t.fold(a)(a.union)
      .groupByKey(_.block_num)
      .mapGroups { (b, it) => Payload(b, Pb.entityChanges(it.toSeq.sortBy(_.key).map(_.msg))) }
  }
}

/** A proto3 writer for `sf.substreams.sink.entity.v1.EntityChanges`,
  * written from the public message layout and kept apart from graft's
  * own codec so the inputs do not depend on the program under test:
  * {{{
  * EntityChanges { repeated EntityChange entity_changes = 5; }
  * EntityChange  { string entity = 1; string id = 2; uint64 ordinal = 3;
  *                 Operation operation = 4; repeated Field fields = 5; }
  * Field         { string name = 1; Value new_value = 3; }
  * Value         { oneof typed { int32 int32 = 1; string bigdecimal = 2;
  *                 string bigint = 3; string string = 4; string bytes = 5;
  *                 bool bool = 6; Array array = 10; } }
  * Array         { repeated Value value = 1; }
  * }}} */
object Pb {
  sealed trait Value
  final case class Str(field: Int, s: String) extends Value
  final case class Int32(i: Int) extends Value
  final case class Bool(b: Boolean) extends Value
  final case class Arr(xs: Seq[Value]) extends Value
  val BigDecimal = 2
  val BigInt = 3
  val Text = 4
  val Bytes = 5 // base64 text on the wire

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): W = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def tag(f: Int, wt: Int): W = varint((f.toLong << 3) | wt)
    def bytes(f: Int, b: Array[Byte]): W = { tag(f, 2); varint(b.length); out.write(b, 0, b.length); this }
    def str(f: Int, s: String): W = bytes(f, s.getBytes("UTF-8"))
    def result: Array[Byte] = out.toByteArray
  }

  private def value(v: Value): Array[Byte] = v match {
    case Str(f, s) => new W().str(f, s).result
    case Int32(i) => new W().tag(1, 0).varint(i.toLong).result
    case Bool(b) => new W().tag(6, 0).varint(if (b) 1 else 0).result
    case Arr(xs) =>
      val inner = new W(); xs.foreach(x => inner.bytes(1, value(x)))
      new W().bytes(10, inner.result).result
  }

  def change(entity: String, id: String, op: Int, fields: Seq[(String, Value)]): Array[Byte] = {
    val w = new W().str(1, entity).str(2, id).tag(4, 0).varint(op.toLong)
    fields.foreach { case (n, v) => w.bytes(5, new W().str(1, n).bytes(3, value(v)).result) }
    w.result
  }

  def entityChanges(changes: Seq[Array[Byte]]): Array[Byte] = {
    val w = new W(); changes.foreach(w.bytes(5, _)); w.result
  }
}
