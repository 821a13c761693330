package graft

import graft.queries.GraphLoad
import graft.sources.EntityChanges
import graft.functions.Normalize
import org.apache.spark.sql.functions._

class GraphLoadSpec extends SparkSpec {

  test("gl_scd2_versions: per-id ranges are contiguous and non-overlapping") {
    val rows = GraphLoad.glScd2Versions(spark, sf)
      .orderBy("id", "start_block").collect()
    rows.groupBy(_.getAs[String]("id")).values.foreach { g =>
      g.sliding(2).foreach {
        case Array(a, b) =>
          // a's end is at or before b's start (a DELETE between them may
          // close a's range strictly before b opens)
          assert(!a.isNullAt(a.fieldIndex("end_block")))
          assert(a.getAs[Long]("end_block") <= b.getAs[Long]("start_block"))
        case _ =>
      }
      // only the last version may be open
      g.dropRight(1).foreach(r => assert(!r.isNullAt(r.fieldIndex("end_block"))))
    }
  }

  test("gl_squash_latest agrees with the open scd2 version per id") {
    val open = GraphLoad.glScd2Versions(spark, sf)
      .filter(col("end_block").isNull)
      .select(col("id"), col("start_block").as("last_block"), col("value"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    val squashed = GraphLoad.glSquashLatest(spark, sf)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(squashed === open)
  }

  test("gl_vid_assign: vids are dense 1..n in block order") {
    val rows = GraphLoad.glVidAssign(spark, sf).orderBy("vid").collect()
    assert(rows.map(_.getAs[Long]("vid")).sameElements(1L to rows.length))
    val blocks = rows.map(_.getAs[Long]("block_num"))
    assert(blocks.sameElements(blocks.sorted))
  }

  test("gl_poi digests are deterministic across runs") {
    val a = GraphLoad.glPoiChain(spark, sf).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val b = GraphLoad.glPoiChain(spark, sf).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a === b && a.nonEmpty)
  }

  test("normalize: reference strcase cases (schema/normalize.go)") {
    import spark.implicits._
    val got = Seq("userClickID", "APIKey", "totalCountV2", "already_snake", "Count2x")
      .toDF("s").select(Normalize.toSnake($"s")).as[String].collect()
    assert(got.sameElements(Seq(
      "user_click_id", "api_key", "total_count_v2", "already_snake", "count_2x")))
  }

  test("gl_csv_escape_array escapes backslash and comma, strips NUL") {
    import spark.implicits._
    val got = Seq(Tuple1(Seq("a\\b", "c,d", ("e" + "\u0000" + "f")))).toDF("arr")
      .select(graft.functions.GraphCsv.escapedStringArray($"arr")).as[String].collect().head
    assert(got === "{a\\\\b,c\\,d,ef}")
  }

  test("gl_asof_lookup returns at most one version per id") {
    val rows = GraphLoad.glAsofLookup(spark, sf).collect()
    val ids = rows.map(_.getAs[String]("id"))
    assert(ids.distinct.length === ids.length)
  }

  test("gl_bundle_assign covers every change exactly once") {
    val n = GraphLoad.glBundleAssign(spark, sf)
      .agg(sum("n_changes")).collect().head.getLong(0)
    assert(n === EntityChanges.changes(spark, sf).count())
  }

  test("gl_scd2_incremental equals the full recompute at any split point") {
    import graft.sources.EntityChanges
    import graft.operators.EntityVersioner
    val changes = EntityChanges.changes(spark, sf)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Long]("start_block"),
        Option(r.get(r.fieldIndex("end_block"))), r.getAs[Double]("value"))).toSet
    val full = norm(EntityVersioner.scd2Versions(changes))
    Seq(1L, 250L, 500L, 999L).foreach { split =>
      val prior = EntityVersioner.scd2State(changes.filter(col("block_num") < split))
      val batch = changes.filter(col("block_num") >= split)
      assert(norm(EntityVersioner.scd2IncrementalFrom(prior, batch)) === full,
        s"incremental != full at split=$split")
    }
  }

  test("gl_compaction_plan: bin-by-start grouping on a constructed manifest") {
    import spark.implicits._
    // start offsets 0,100,200,300,550,610 at target 200 → bins
    // 0,0,1,1,2,3: consecutive bundles group until the cumulative
    // byte axis crosses a bin boundary; the 250-byte bundle lands
    // whole in bin 1 (files never split); small trailing bundles that
    // straddle a boundary stay separate (the documented ±one-bundle
    // slack of prefix-sum binning vs sequential greedy).
    val man = Seq((0L, 10L, 100L), (1L, 10L, 100L), (2L, 10L, 100L),
      (3L, 10L, 250L), (4L, 10L, 60L), (5L, 10L, 40L))
      .toDF("bundle", "n_lines", "bytes")
    val got = GraphLoad.compactionGroups(man, 200L).collect()
      .map(r => r.getAs[Long]("grp") ->
        ((r.getAs[Long]("first_bundle"), r.getAs[Long]("last_bundle"),
          r.getAs[Long]("n_bundles"), r.getAs[Long]("bytes")))).toMap
    assert(got === Map(
      0L -> ((0L, 1L, 2L, 200L)), 1L -> ((2L, 3L, 2L, 350L)),
      2L -> ((4L, 4L, 1L, 60L)), 3L -> ((5L, 5L, 1L, 40L))))
    // real-manifest invariants: groups cover every line/byte exactly
    // once and group block ranges are ascending and non-overlapping
    val plan = GraphLoad.glCompactionPlan(spark, sf).collect()
      .sortBy(_.getAs[Long]("grp"))
    assert(plan.nonEmpty)
    val enc = GraphLoad.glJsonlEncode(spark, sf)
    assert(plan.map(_.getAs[Long]("n_lines")).sum === enc.count())
    plan.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("last_bundle") < b.getAs[Long]("first_bundle"))
      case _ =>
    }
    plan.foreach(r =>
      assert(r.getAs[Long]("first_bundle") <= r.getAs[Long]("last_bundle")))
  }
}
