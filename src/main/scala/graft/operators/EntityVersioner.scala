package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SCD2 versioning of the entity-change stream (SURVEY.md §2 #1-4, #16).
  *
  * The reference keeps an in-memory `map[id]*Entity` and, on every
  * UPDATE/DELETE, closes the previous version by writing it with
  * `block_range=[startBlock, closeBlock)` (reference
  * csvprocessor/processor.go:237-307). That sequential map is
  * re-expressed as window functions partitioned by entity id:
  *
  *   - a version OPENS at every non-DELETE change's block;
  *   - it CLOSES at the next change (of any operation) for the same id
  *     — `lead(block_num) OVER (PARTITION BY id ORDER BY block_num)`;
  *   - a DELETE closes the prior version and opens nothing.
  *
  * Every operator takes a change stream `(id, block_num, op, value)`
  * with `id` of whatever type the reader gives: the reference's string
  * id ([[graft.sources.EntityChanges.changes]]) or the raw numeric key
  * it is the cast of ([[graft.sources.EntityChanges.changesNumericKey]]).
  * Before any exchange the op becomes a boolean `del`, so with a long
  * id every exchange and sort key is an 8-byte word and every
  * aggregation buffer is fixed-width (squash stays a HashAggregate with
  * map-side partials; a string in the buffer demotes it to a
  * SortAggregate that sorts the corpus). Outputs emit
  * `CAST(id AS STRING)` — the reference's entity key, and a no-op that
  * Catalyst drops when the id already is a string.
  *
  * Scale (SURVEY.md §6): ONE shuffle on `id`. Entity ids are
  * high-cardinality and per-id history is small, so partitions stay
  * balanced at 100 TB; there is no driver-side state at all, unlike the
  * reference's O(|live ids|) map.
  */
object EntityVersioner {

  private val byId = Window.partitionBy("id").orderBy("block_num")

  private def changeCols(changes: DataFrame): DataFrame =
    changes.select(col("id"), col("block_num"), col("op"), col("value"))

  /** `(id, block_num, del, value)` — the op folded to the one bit every
    * operator reads. */
  private def flagged(changes: DataFrame): DataFrame =
    changes.select(col("id"), col("block_num"),
      (col("op") === "DELETE").as("del"), col("value"))

  /** The reference's string entity key, cast after the exchange. */
  private def emit(df: DataFrame): DataFrame =
    df.withColumn("id", col("id").cast("string"))

  /** [[scd2Versions]] in state form: the id keeps the reader's type —
    * the shape the incremental memo persists, so merging stays on it. */
  private[graft] def scd2State(changes: DataFrame): DataFrame =
    flagged(changes)
      .withColumn("end_block", lead(col("block_num"), 1).over(byId))
      .filter(!col("del"))
      .select(col("id"), col("block_num").as("start_block"), col("end_block"), col("value"))

  /** [[squashLatest]] in state form (the reader's id type). */
  private[graft] def squashState(changes: DataFrame): DataFrame =
    flagged(changes)
      .groupBy(col("id"))
      .agg(
        max(col("block_num")).as("last_block"),
        max_by(col("del"), col("block_num")).as("last_del"),
        max_by(col("value"), col("block_num")).as("value"))
      .filter(!col("last_del"))
      .select(col("id"), col("last_block"), col("value"))

  /** #1 gl_scd2_versions — full version history. `end_block` is NULL for
    * the version still open at the stop block (reference
    * csvprocessor/entity.go:23-29 emits `[start,)` for those). */
  def scd2Versions(changes: DataFrame): DataFrame =
    emit(scd2State(changes))

  /** #2 gl_squash_latest — final state per id at the stop block,
    * equivalent to the reference's `flushAllEntities` of the in-memory
    * map (processor.go:183-190). Uses `max_by` hash aggregation, NOT a
    * window: partial (map-side) aggregation cuts the shuffle to
    * ~|distinct ids| rows before the exchange. */
  def squashLatest(changes: DataFrame): DataFrame =
    emit(squashState(changes))

  /** #3 gl_immutable_block — immutable entities skip versioning: one row
    * per change carrying its creation block (`block$` column, reference
    * csvprocessor/writer.go:142-166). Pure projection — no shuffle. */
  def immutableBlock(changes: DataFrame): DataFrame =
    changes
      .filter(col("op") =!= "DELETE")
      .select(col("id"), col("block_num"), col("value"))

  /** #4 gl_delete_tombstone — versions closed specifically by a DELETE
    * (reference processor.go:285-296: DELETE writes the prior version
    * with a closed range and drops the id from state). */
  def deleteTombstone(changes: DataFrame): DataFrame =
    emit(flagged(changes)
      .withColumn("end_block", lead(col("block_num"), 1).over(byId))
      .withColumn("next_del", lead(col("del"), 1).over(byId))
      .filter(!col("del") && col("next_del"))
      .select(col("id"), col("block_num").as("start_block"), col("end_block"), col("value")))

  /** #2b gl_squash_incremental — incremental latest-state maintenance
    * against an already-built standing state ([[squashState]]; a real
    * ingest keeps it on disk, the query layer memoizes it): the prior
    * state re-enters as synthetic changes with the new batch. Ids whose
    * last change was a DELETE are already absent from it, exactly like
    * the reference's map after `delete(entities, id)`. Per-increment
    * cost: |live ids| + |batch| rows through one max_by agg. */
  def squashIncrementalFrom(priorState: DataFrame, batch: DataFrame): DataFrame = {
    val priorAsChanges = priorState.select(col("id"), col("last_block").as("block_num"),
      lit("UPDATE").as("op"), col("value"))
    squashLatest(priorAsChanges.unionByName(changeCols(batch)))
  }

  /** #1c gl_scd2_incremental — the production merge path: given the
    * version store ([[scd2State]]) built from the blocks before the
    * batch and only the NEW changes, produce the same history as a full
    * recompute — closed history is carried over untouched, open
    * versions re-enter the window as synthetic changes alongside the
    * new batch. At 100 TB this is the difference between windowing one
    * bundle (+ |live ids| state rows) per increment and windowing the
    * whole chain; the correctness gate IS the full-history oracle. */
  def scd2IncrementalFrom(priorState: DataFrame, batch: DataFrame): DataFrame = {
    val closedHistory = priorState.filter(col("end_block").isNotNull)
    val openAsChanges = priorState.filter(col("end_block").isNull)
      .select(col("id"), col("start_block").as("block_num"), lit("UPDATE").as("op"), col("value"))
    emit(closedHistory.unionByName(scd2State(openAsChanges.unionByName(changeCols(batch)))))
  }

  /** #16 gl_asof_lookup — graph-node time travel: entity state as-of
    * block B is the version with `block_range @> B`, i.e.
    * `start<=B AND (end IS NULL OR end>B)`. At scale the filter prunes
    * before any further join — this is a filter over the SCD2 output,
    * never a re-scan of the change stream. */
  def asofLookup(changes: DataFrame, atBlock: Long): DataFrame =
    emit(scd2State(changes)
      .filter(col("start_block") <= atBlock &&
        (col("end_block").isNull || col("end_block") > atBlock))
      .select(col("id"), col("start_block"), col("value")))
}
