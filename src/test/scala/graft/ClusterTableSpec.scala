package graft

import java.nio.file.Files

import graft.queries.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CachedData, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** The standing dd_cluster table: dd_keep_best and tx_curation read the
  * one persisted `(doc_id, cluster_id)` frame and its summary, an
  * in-place corpus rewrite rebuilds it, and invalidation frees it. */
class ClusterTableSpec extends SparkSpec {

  private def tempCorpus(): String =
    Files.createTempDirectory("graft-cluster-table").toString

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** A seeded 40-word text of lowercase words; distinct seeds give
    * texts that share no shingle, so they never LSH-pair. */
  private def text(seed: Int): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(40)(Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString).mkString(" ")
  }

  /** `t` with its `i`-th word replaced — a near duplicate. */
  private def edit(t: String, i: Int, w: String): String =
    t.split(" ").updated(i, w).mkString(" ")

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap

  private def cached(s: SparkSession, plan: LogicalPlan): Option[CachedData] = {
    val c = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    c.sharedState.cacheManager.lookupCachedData(c, plan)
  }

  /** Subtrees of `df`'s analyzed plan that the CacheManager holds. */
  private def cachedSubtrees(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect { case p if cached(spark, p).isDefined => p.nodeName }

  test("an in-place corpus rewrite rebuilds the cluster table, not stale labels") {
    val d = tempCorpus()
    writeDocs(d, Seq(1L -> text(1), 2L -> text(1), 3L -> text(2)))
    assert(labels(Dedup.ddCluster(spark, d)) === Map(1L -> 1L, 2L -> 1L))
    val before = Tables.mtime(d, "documents")
    writeDocs(d, Seq(1L -> text(1), 2L -> text(2), 3L -> text(2)))
    assert(Tables.mtime(d, "documents") !== before, "the rewrite must bump the table's mtime")
    assert(labels(Dedup.ddCluster(spark, d)) === Map(2L -> 2L, 3L -> 2L))
    val kept = Dedup.ddKeepBest(spark, d).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("keep_id")).toMap
    assert(kept === Map(2L -> 2L))
    SessionMemo.invalidateAll(spark, d)
  }

  test("the build keeps only the cluster frame cached; invalidation unpersists it") {
    val d = tempCorpus()
    Tables.documents(spark, sf).write.parquet(s"$d/documents.parquet")
    Seq[(String, () => Unit)](
      "invalidate" -> (() => assert(SessionMemo.invalidate(spark, d, "dd_cluster"))),
      "invalidateAll" -> (() => assert(SessionMemo.invalidateAll(spark, d).contains("dd_cluster")))
    ).foreach { case (how, drop) =>
      val frame = Dedup.ddCluster(spark, d)
      assert(frame.count() > 0)
      // the root is the frame itself; the build's persisted inputs
      // (text groups, representative bands) are released once it loads
      assert(cachedSubtrees(frame) === Seq(frame.queryExecution.analyzed.nodeName), how)
      drop()
      assert(cachedSubtrees(frame).isEmpty, how)
    }
  }

  test("dd_keep_best and tx_curation read the persisted cluster frame; " +
    "the table's summary equals a recount") {
    // AQE off: the prepared plan IS the executable tree
    val static: SparkSession = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    val t = Dedup.clusterTable(static, sf)
    val table = cached(static, t.frame.queryExecution.analyzed)
    assert(table.isDefined)
    // releasing the build's inputs did not re-plan the loaded frame
    assert(table.get.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    def check(key: String, df: DataFrame): Unit = {
      val plan: SparkPlan = df.queryExecution.executedPlan
      // InMemoryTableScan is a leaf of the live tree, so any live node
      // calling the md5 kernel would be a per-serve re-clustering
      val md5 = plan.collect {
        case n if n.expressions.exists(_.toString.contains("graft_md5")) => n.nodeName
      }
      assert(md5.isEmpty, s"$key re-hashes the corpus:\n$plan")
      val scans = plan.collect {
        case s: InMemoryTableScanExec
          if s.relation.cacheBuilder eq table.get.cachedRepresentation.cacheBuilder => s
      }
      assert(scans.nonEmpty, s"$key does not read the cluster table:\n$plan")
    }
    check("dd_keep_best", Dedup.ddKeepBest(static, sf))
    check("tx_curation", TextAnalysis.txCuration(static, sf))
    assert(t.losers === t.frame.filter(col("cluster_id") =!= col("doc_id")).count())
    val b = t.frame.agg(min("doc_id"), max("doc_id")).head()
    assert((t.minDocId, t.maxDocId) === (b.getLong(0), b.getLong(1)))
    assert(t.losers > 0)
    SessionMemo.invalidate(static, sf, "dd_cluster")
  }

  test("dd_keep_best: a clustered doc_id past the packing bound takes the struct " +
    "arm, an unclustered one keeps the packed arm; both equal the argmax") {
    val m = Dedup.KeepBestIdMask
    val (t1, t2, t3) = (text(11), text(12), text(13))
    // near copies move the quality: a stopword raises stop_x1000, a
    // number lowers alpha_x1000
    def corpus(hi1: Long, hi2: Long): Seq[(Long, String)] = Seq(
      5L -> t1, hi1 -> t1, 7L -> edit(t1, 3, "the"), hi2 -> edit(t1, 9, "12345"),
      20L -> t2, 21L -> edit(t2, 0, "of"), 30L -> t3, m + 9L -> text(14))
    Seq(
      // doc m+5 is an exact twin of doc 5: clustered above the mask
      ("struct", corpus(m + 5L, m + 6L)),
      // only doc m+9 is above the mask, and it clusters with nothing
      ("packed", corpus(8L, 9L))
    ).foreach { case (arm, docs) =>
      val d = tempCorpus()
      writeDocs(d, docs)
      val t = Dedup.clusterTable(spark, d)
      val got = Dedup.ddKeepBest(spark, d)
      val usesStruct = got.queryExecution.analyzed.toString.contains("max_by")
      assert(usesStruct === (arm == "struct"), got.queryExecution.analyzed)
      val quality = TextAnalysis.txQualityScore(spark, d)
        .select(col("doc_id"), col("alpha_x1000"), col("stop_x1000"))
      val rows = (df: DataFrame) => df.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
      assert(rows(got) === rows(Dedup.keepBestStruct(t.frame.join(quality, "doc_id"))), arm)
      // in-memory argmax: max (alpha, stop), smallest doc_id on a tie
      val q = quality.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = labels(t.frame).toSeq.groupBy(_._2).map { case (c, ms) =>
        val best = ms.map(_._1).maxBy(id => (q(id)._1, q(id)._2, -id))
        Seq(c, ms.size.toLong, best, q(best)._1)
      }.toSet
      assert(rows(got) === want, arm)
      assert(t.losers === 4L, arm) // 3 copies of t1, 1 of t2
      assert(labels(t.frame).keySet.contains(m + 9L) === false)
      SessionMemo.invalidateAll(spark, d)
    }
  }
}
