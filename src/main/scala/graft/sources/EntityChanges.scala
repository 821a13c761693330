package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The entity-change stream (SURVEY.md §3 data-model mapping).
  *
  * The reference consumes protobuf `EntityChanges` keyed by
  * `(entity id, block_num, operation)` (csvprocessor/entity.go:126-139).
  * The driver's synthetic `events` table stands in for that stream:
  * `user_id` = entity id, `event_id` = block number (monotonic),
  * `event_type` maps to the operation enum, `value`/`props` are the
  * entity's fields.
  *
  * Everything downstream (versioning, bundling, POI, CSV serialization)
  * consumes this one view, exactly as the reference's stages all consume
  * `EntityChangeAtBlockNum`.
  *
  * Scale: a pure projection — no shuffle, stays inside the parquet scan's
  * whole-stage codegen, column pruning drops `ts` at the source.
  */
object EntityChanges {

  /** operation mapping: signup→CREATE, error→DELETE, rest→UPDATE. */
  def changes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).select(
      $"user_id".cast("string").as("id"),
      $"event_id".as("block_num"),
      when($"event_type" === "signup", "CREATE")
        .when($"event_type" === "error", "DELETE")
        .otherwise("UPDATE").as("op"),
      $"value",
      $"props"
    )
  }

  /** [[changes]] keyed by the RAW numeric entity key: `id` is the
    * events' `user_id` as a bigint, bijective with [[changes]]'s string
    * id (the string is its cast), so per-entity windows/groups partition
    * identically — but the exchange and sort move 8-byte words instead
    * of strings. No `props`. The served SCD2/squash keys run on it and
    * cast the id to the reference's string AFTER their exchange
    * ([[graft.operators.EntityVersioner]]); consumers whose output
    * never surfaces the id (anomaly counts, stream-level stats) use it
    * as is. Measured on gl_change_validation at sf1 (min of 4, loaded
    * host): string-id window 0.81 s → numeric 0.74 s. */
  def changesNumericKey(spark: SparkSession, dir: String): DataFrame =
    changesNumericKeyFrom(Tables.events(spark, dir))

  /** [[changesNumericKey]] over an explicit events frame — the hook
    * that lets per-entity window consumers substitute the standing
    * user-bucketed layout (a plain projection preserves the scan's
    * reported partitioning through the `user_id`→`id` alias, so the
    * entity window's exchange elides). */
  def changesNumericKeyFrom(events: DataFrame): DataFrame =
    events.select(
      col("user_id").as("id"),
      col("event_id").as("block_num"),
      when(col("event_type") === "signup", "CREATE")
        .when(col("event_type") === "error", "DELETE")
        .otherwise("UPDATE").as("op"),
      col("value")
    )

  /** DuckDB twin of [[changes]], used as a WITH-clause prefix by every
    * gl_* oracle so both engines derive from the identical stream. */
  val changesSql: String =
    """changes AS (
      |  SELECT CAST(user_id AS VARCHAR) AS id,
      |         event_id AS block_num,
      |         CASE WHEN event_type = 'signup' THEN 'CREATE'
      |              WHEN event_type = 'error'  THEN 'DELETE'
      |              ELSE 'UPDATE' END AS op,
      |         value, props
      |  FROM events
      |)""".stripMargin
}
