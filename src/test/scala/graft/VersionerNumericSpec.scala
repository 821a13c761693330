package graft

import graft.operators.EntityVersioner
import graft.sources.EntityChanges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Pins every [[EntityVersioner]] operator to the same answer on both
  * change readers: [[EntityChanges.changesNumericKey]] (the served
  * stream — a bigint id) and [[EntityChanges.changes]] (the string id,
  * which IS the bigint's cast). The key type exists purely for plan
  * shape (8-byte exchange and sort keys), so any divergence here is a
  * correctness bug, not a tuning regression. Both readers must also
  * keep the squash a HashAggregate. (Case names predate the single
  * operator set, when the numeric reader had operators of its own.) */
class VersionerNumericSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def changes = EntityChanges.changes(spark, sf)
  private def changesNum = EntityChanges.changesNumericKey(spark, sf)

  /** `op` over the numeric reader == `op` over the string reader. */
  private def sameRows(op: DataFrame => DataFrame): Unit =
    assert(rows(op(changesNum)) === rows(op(changes)))

  test("schemas match the string-keyed originals exactly") {
    Seq[DataFrame => DataFrame](
      EntityVersioner.scd2Versions, EntityVersioner.squashLatest,
      EntityVersioner.deleteTombstone, EntityVersioner.asofLookup(_, 500L)
    ).foreach(op => assert(op(changesNum).schema === op(changes).schema))
  }

  test("scd2VersionsNumeric == scd2Versions on the corpus") {
    sameRows(EntityVersioner.scd2Versions)
  }

  test("squashLatestNumeric == squashLatest on the corpus") {
    sameRows(EntityVersioner.squashLatest)
  }

  test("deleteTombstoneNumeric == deleteTombstone on the corpus") {
    sameRows(EntityVersioner.deleteTombstone)
  }

  test("asofLookupNumeric == asofLookup on the corpus") {
    sameRows(EntityVersioner.asofLookup(_, 500L))
  }

  test("numeric incremental merges equal the full recompute at any split") {
    val fullV = rows(EntityVersioner.scd2Versions(changes))
    val fullS = rows(EntityVersioner.squashLatest(changes))
    for (split <- Seq(1L, 250L, 500L, 999L);
         (name, c) <- Seq("numeric" -> changesNum, "string" -> changes)) {
      val prefix = c.filter(col("block_num") < split)
      val batch = c.filter(col("block_num") >= split)
      val gotV = rows(EntityVersioner.scd2IncrementalFrom(EntityVersioner.scd2State(prefix), batch))
      assert(gotV === fullV, s"$name scd2 incremental != full at split=$split")
      val gotS = rows(EntityVersioner.squashIncrementalFrom(EntityVersioner.squashState(prefix), batch))
      assert(gotS === fullS, s"$name squash incremental != full at split=$split")
    }
  }

  test("squashLatestNumeric plans as a two-phase HashAggregate (no corpus sort)") {
    // the op travels as a boolean, so the buffer is fixed-width whatever
    // the id's type — the string-keyed squash aggregates by hash too
    Seq(changesNum, changes).foreach { c =>
      val p = EntityVersioner.squashLatest(c).queryExecution.executedPlan.toString
      assert(p.contains("HashAggregate"), p)
      assert(!p.contains("SortAggregate"), p)
    }
  }
}
