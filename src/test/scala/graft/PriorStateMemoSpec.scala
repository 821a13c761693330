package graft

import java.nio.file.{Files, Paths}

import graft.queries.GraphLoad
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing artifacts the change stream backs — the prior states
  * behind gl_scd2_incremental and gl_squash_incremental, the POI chain
  * and the canonical undo set: an in-place rewrite of the change stream
  * rebuilds them, and invalidation unpersists what they pin. */
class PriorStateMemoSpec extends SparkSpec {

  /** A memoized key's full recompute: its serve after invalidation. */
  private def rebuilt(name: String, serve: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    SessionMemo.invalidate(s, d, name)
    serve(s, d)
  }

  /** (memo name, memoized serve, full recompute, whether the artifact
    * pins a persisted frame) per family. */
  private val families: Seq[(String, (SparkSession, String) => DataFrame,
      (SparkSession, String) => DataFrame, Boolean)] = Seq(
    ("gl_scd2_prior", GraphLoad.glScd2Incremental, GraphLoad.glScd2Versions, true),
    ("gl_squash_prior", GraphLoad.glSquashIncremental, GraphLoad.glSquashLatest, true),
    ("gl_poi_chain", GraphLoad.glPoiStablehash,
      rebuilt("gl_poi_chain", GraphLoad.glPoiStablehash), true),
    ("gl_undo_canonical", GraphLoad.glUndoCanonical,
      rebuilt("gl_undo_canonical", GraphLoad.glUndoCanonical), false))

  private def tempEvents(events: DataFrame): String = {
    val d = Files.createTempDirectory("graft-prior-state").toString
    events.coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  /** Replace `dir`'s events table the way another writer would: files
    * swapped on disk, not an overwrite through this session (whose
    * writer re-caches every cached plan reading the path). */
  private def replaceEvents(dir: String, events: DataFrame): Unit = {
    val next = s"$dir/next.parquet"
    events.coalesce(1).write.parquet(next)
    val old = Paths.get(dir, "events.parquet")
    deleteTree(old.toString)
    Files.move(Paths.get(next), old)
  }

  private def deleteTree(path: String): Unit =
    Files.walk(Paths.get(path)).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Names of the subtrees of `df`'s analyzed plan the CacheManager holds. */
  private def cachedSubtrees(df: DataFrame): Seq[String] = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.analyzed.collect {
      case p if c.sharedState.cacheManager.lookupCachedData(c, p).isDefined => p.nodeName
    }
  }

  test("an in-place rewrite of the change stream rebuilds the prior states") {
    val d = tempEvents(Tables.events(spark, sf))
    families.foreach { case (name, incremental, full, _) =>
      assert(rows(incremental(spark, d)) === rows(full(spark, d)), name)
    }
    val before = Tables.mtime(d, "events")
    // another writer replaces the stream: other rows, other values
    replaceEvents(d, Tables.events(spark, sf)
      .filter(col("event_id") % 3 =!= 0).withColumn("value", col("value") + 1.0))
    assert(Tables.mtime(d, "events") !== before, "the rewrite must bump the table's mtime")
    families.foreach { case (name, incremental, full, _) =>
      assert(rows(incremental(spark, d)) === rows(full(spark, d)), name)
    }
    SessionMemo.invalidateAll(spark, d)
    deleteTree(d)
  }

  test("invalidation unpersists the prior states") {
    val d = tempEvents(Tables.events(spark, sf))
    Seq[(String, String => Unit)](
      "invalidate" -> (name => assert(SessionMemo.invalidate(spark, d, name))),
      "invalidateAll" -> (name => assert(SessionMemo.invalidateAll(spark, d).contains(name)))
    ).foreach { case (how, drop) =>
      families.foreach { case (name, incremental, _, pins) =>
        val served = incremental(spark, d)
        assert(served.count() > 0)
        assert(cachedSubtrees(served).nonEmpty === pins, s"$name/$how: persisted")
        drop(name)
        assert(cachedSubtrees(served).isEmpty, s"$name/$how: the prior state is still cached")
      }
    }
    deleteTree(d)
  }
}
