package graft.functions

import graft.operators.PoiStableHash
import graft.stablehash.StableHash
import graft.stablehash.StableHash.U192
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Final POI readoff for the distributed stablehash chain
  * ([[graft.operators.PoiStableHash.poiChain]]): given a block's
  * in-bundle prefix mixer `(v0, v1, v2, cnt)` and its bundle's chain
  * offset `(ov0, ov1, ov2, ocnt)` — `(MixInit, 0)`, the fold's
  * identity, for the first bundle — emit
  * `hex(FastHasher.from(mix(offset, prefix), ocnt + cnt).toBytes)` —
  * exactly the Dataset.map closure it replaces, as a codegen'd
  * expression so the serve stays inside Tungsten rows (the typed map
  * paid a full InternalRow → case-class → InternalRow serde per block
  * row per pass; round 12, guide §1.2 per-task work). Bit-compat is
  * gated by the same PoiStableHashSparkSpec sequential-chain pin as
  * before. All eight legs are non-nullable longs by construction (the
  * serve inner-joins a COMPLETE per-bundle offset table). Registered
  * as `graft_poi_hex`. */
case class PoiHex(children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size != 8)
      TypeCheckResult.TypeCheckFailure(
        "graft_poi_hex expects (v0, v1, v2, cnt, ov0, ov1, ov2, ocnt)")
    else if (!children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckFailure("graft_poi_hex expects 8 longs")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input).asInstanceOf[Long])
    PoiHex.compute(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val argv = evs.map(_.value.toString).mkString(", ")
    val childCode = evs.map(_.code.toString).mkString("\n")
    ev.copy(
      code = code"""
        $childCode
        UTF8String ${ev.value} = graft.functions.PoiHex.compute($argv);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PoiHex = copy(children = newChildren)

  override def prettyName: String = "graft_poi_hex"
}

object PoiHex {
  def compute(v0: Long, v1: Long, v2: Long, cnt: Long,
              ov0: Long, ov1: Long, ov2: Long, ocnt: Long): UTF8String =
    UTF8String.fromBytes(PoiStableHash.hexAscii(StableHash.FastHasher.from(
      StableHash.mix(U192(ov0, ov1, ov2), U192(v0, v1, v2)), ocnt + cnt).toBytes))
}
