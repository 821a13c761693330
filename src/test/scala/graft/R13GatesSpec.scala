package graft

import graft.queries.{Analytics, Dedup, GraphLoad, Multimodal, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Round-13 optimization gates: equivalence pins for the rewritten
  * aggregates and the structural plan properties the round's changes
  * (and the round-12 verdict's asks 7/8) rely on at scale.
  */
class R13GatesSpec extends SparkSpec {

  /** A session clone with AQE off: the gates below inspect the
    * PREPARED physical plan structurally (real exec nodes, not
    * explain text), which the AdaptiveSparkPlanExec wrapper hides. */
  private lazy val staticSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Callers must plan on [[staticSession]]: with AQE off the
    * prepared plan IS the executable tree (no adaptive wrapper), so
    * structural collect() sees the real exchange/window/agg nodes. */
  private def prepared(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  // ---- dd_keep_best packed argmax == struct argmax -------------------

  private def keepFrame(rows: Seq[(Long, Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("cluster_id", "doc_id", "alpha_x1000", "stop_x1000")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("dd_keep_best: packed single-long argmax == struct argmax " +
    "(ties, boundaries, per-mille extremes)") {
    val m = Dedup.KeepBestIdMask
    val rows = Seq(
      // alpha decides
      (1L, 10L, 900L, 100L), (1L, 11L, 800L, 999L),
      // alpha ties, stop decides
      (2L, 20L, 500L, 10L), (2L, 21L, 500L, 11L),
      // full quality tie: SMALLEST doc_id wins (the -doc_id leg)
      (3L, 31L, 700L, 700L), (3L, 30L, 700L, 700L), (3L, 32L, 700L, 700L),
      // per-mille extremes and the doc_id bound edges
      (4L, 0L, 0L, 0L), (4L, m, 0L, 0L), (4L, m - 1L, 1000L, 1000L),
      // singleton cluster
      (5L, 40L, 123L, 456L))
    val j = keepFrame(rows)
    assert(sortedRows(Dedup.keepBestPacked(j)) ===
      sortedRows(Dedup.keepBestStruct(j)))
  }

  test("dd_keep_best: packed plan hash-aggregates (no SortAggregate), " +
    "struct fallback serves out-of-bound ids") {
    val staticFrame = staticSession.createDataFrame(
      Seq((1L, 2L, 3L, 4L))).toDF("cluster_id", "doc_id", "alpha_x1000", "stop_x1000")
    val p = prepared(Dedup.keepBestPacked(staticFrame))
    assert(p.collect { case a: BaseAggregateExec => a }
      .forall(_.getClass.getSimpleName == "HashAggregateExec"), p.toString)
    // negative / >2^43 doc_ids: the packed precondition fails — the
    // serve must route them to the struct path, whose answer is the
    // contract. (ddKeepBest itself checks the cluster table's doc_id
    // bounds; this pins the fallback's correctness on ids the packing
    // cannot represent.)
    val adversarial = keepFrame(Seq(
      (1L, -5L, 700L, 700L), (1L, -4L, 700L, 700L),
      (2L, Dedup.KeepBestIdMask + 7L, 1L, 1L), (2L, 3L, 0L, 999L)))
    val got = Dedup.keepBestStruct(adversarial).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got(1L) === -5L) // max(-doc_id) ⇒ most NEGATIVE id wins
    assert(got(2L) === Dedup.KeepBestIdMask + 7L) // (1,1) beats (0,999)
  }

  // ---- dd_minhash_est serves from the standing signature table -------

  test("dd_minhash_est: both join sides read the persisted signature " +
    "frame — the signature kernel never re-runs per side") {
    val df = Dedup.ddMinhashEst(staticSession, sf)
    val plan = prepared(df)
    // structural: InMemoryTableScan is a LEAF of the live tree (its
    // cached build subtree is display-only), so any live node whose
    // expressions invoke the signature kernel is a real per-serve
    // recompute — there must be none
    val live = plan.collect {
      case n if n.expressions.exists(_.toString.contains("graft_minhash_sigs")) => n
    }
    assert(live.isEmpty, plan.toString)
    val cacheScans = plan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(cacheScans.size >= 2, plan.toString) // both sig join sides
  }

  // ---- mm_phash_dedup: no payload bytes cross any exchange -----------

  test("mm_phash_dedup: every shuffle exchange carries fingerprint ints " +
    "only — no binary column crosses (verdict ask 8)") {
    val df = Multimodal.mmPhashDedup(staticSession, sf)
    val exchanges = prepared(df).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(e.child.output.forall(_.dataType != BinaryType),
        s"payload bytes cross the exchange: ${e.child.output.mkString(",")}")
    }
  }

  // ---- pagerank: snapshot keeps co-partitioning -----------------------

  test("pagerank: the post-snapshot iteration joins the checkpointed " +
    "rank frame with ZERO rank-side exchange") {
    // the deep-run environment: AQE off, like qPagerankDepth's pinned
    // clone — under AQE the snapshot's final partitioning is adaptive
    // (coalesced), so preservation is only contractual on the static
    // plan the production loop actually runs
    val width = 4
    val es = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 9) % 40)))
    val und = (es ++ es.map(_.swap)).groupBy(identity)
      .map { case (e, os) => e -> os.length.toLong }
    val deg = und.groupBy(_._1._1).map { case (s, g) => s -> g.values.sum }
    val edgesDf = staticSession.createDataFrame(
      und.toSeq.map { case ((s, d), w) => (s, d, w, deg(s)) })
      .toDF("src", "dst", "w", "deg")
      .repartition(width, col("src"))
      .persist()
    try {
      val iters = Analytics.PrSnapEvery + 1 // exactly one snapshot, one tail round
      val df = Analytics.pagerank(edgesDf, iters, 1000)
      val plan = prepared(df)
      // the tail round reads the localCheckpoint's LogicalRDD; its
      // preserved hashpartitioning(node) must satisfy the join with no
      // re-exchange — an Exchange feeding on the RDD scan (through
      // codegen/projection wrappers only) is the round-12 shape this
      // gate forbids
      def strip(p: SparkPlan): SparkPlan = p match {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => strip(w.child)
        case i: org.apache.spark.sql.execution.InputAdapter => strip(i.child)
        case pr: org.apache.spark.sql.execution.ProjectExec => strip(pr.child)
        case f: org.apache.spark.sql.execution.FilterExec => strip(f.child)
        case other => other
      }
      val rddScans = plan.collect {
        case r: org.apache.spark.sql.execution.RDDScanExec => r }
      assert(rddScans.nonEmpty, plan.toString) // the snapshot is in the plan
      val reExchanged = plan.collect {
        case e: ShuffleExchangeExec
          if strip(e.child).isInstanceOf[org.apache.spark.sql.execution.RDDScanExec] => e
      }
      assert(reExchanged.isEmpty, plan.toString)
    } finally edgesDf.unpersist()
  }

  // ---- verdict ask 7: single-partition windows are bounded-input -----

  /** Collects unpartitioned WindowExec nodes whose input subtree does
    * NOT pass through an aggregate — i.e. windows that would gather a
    * corpus-sized frame onto one task. Bounded frames in this library
    * are aggregate outputs (manifests, curves, calendars, spines), so
    * "aggregate somewhere below" is the boundedness witness. */
  private def corpusSizedSingleWindows(df: DataFrame): Seq[String] =
    prepared(df).collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        w.child.collectFirst { case a: BaseAggregateExec => a }.isEmpty =>
        w.toString.linesIterator.next()
    }

  test("single-partition windows only ever run over aggregate-bounded " +
    "frames (tx_calibration, gl_compaction_plan, q_interval_count, " +
    "q_median, tx_train_quality)") {
    val keys: Seq[(String, DataFrame)] = Seq(
      "tx_calibration" -> TextAnalysis.txCalibration(staticSession, sf),
      "gl_compaction_plan" -> GraphLoad.glCompactionPlan(staticSession, sf),
      "q_interval_count" -> Analytics.qIntervalCount(staticSession, sf),
      "q_median" -> Analytics.qMedian(staticSession, sf),
      "tx_train_quality" -> TextAnalysis.txTrainQuality(staticSession, sf))
    keys.foreach { case (k, df) =>
      val bad = corpusSizedSingleWindows(df)
      assert(bad.isEmpty, s"$k has corpus-sized single-partition windows: $bad")
    }
  }
}
