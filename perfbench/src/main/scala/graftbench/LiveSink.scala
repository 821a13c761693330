package graftbench

import scala.collection.mutable

import graft.operators.{EntityVersioner, PoiStableHash}
import graft.streaming.{BundledCsvSink, EntityChangeStream, PoiStableHashStream}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The live sink: the reference's `run` command, traced as one phase of
  * the `backfill` workload. Per-block payloads are replayed in fixed
  * waves of blocks into Structured Streaming; three queries consume the
  * decoded flow as the sinker's block handler does — closed SCD2
  * versions, the POI chain and the bundled graph-CSV store. The loop is
  * closed: the next wave is added only after every query has processed
  * the last one, as a substreams catch-up takes the next block only
  * after handling the previous one. */
object LiveSink {

  /** 500 accounts with ~40 versions over 1k blocks: ~20 changes per
    * block and 1k per 50-block wave; the replay uses 16 of 20 waves. */
  val Shape = ChangeGen.Shape(accounts = 500, minVersions = 20, maxVersions = 60,
    blocks = 1000, transfersPerBlock = 0.0, deleteShare = 0.05)
  val WaveBlocks = 50L
  /** Waves of the cold start (query start included), the untimed
    * warm-up after it, and the timed waves. */
  val ColdWaves = 2
  val WarmWaves = 2
  val TimedWaves = 12
  val CsvBundle = 250L
  /** Event time of a block (1 s per block) and the watermark delay:
    * a block's POI is final once 5 later blocks have arrived. */
  val WatermarkDelay = "5 seconds"
  val Queries = Seq("stream_versions", "stream_poi", "stream_csv")

  private def blockTs(b: Column): Column = timestamp_millis(lit(1700000000000L) + b * 1000)

  /** [[Digest]]s of `df` per wave of `block`, as running prefixes:
    * entry w covers waves 0..w. */
  private def prefixDigests(df: DataFrame, block: Column, waves: Int)
      : IndexedSeq[(Long, BigDecimal)] = {
    val per = df.select((block / WaveBlocks).cast("long").as("wave"), Digest.rowHash(df).as("h"))
      .groupBy("wave").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    (0 until waves).scanLeft((0L, BigDecimal(0))) { case ((n, h), w) =>
      val (dn, dh) = per.getOrElse(w.toLong, (0L, BigDecimal(0)))
      (n + dn, h + dh)
    }.tail
  }

  final case class WaveStat(seconds: Double, changes: Long, progress: Map[String, Map[String, Double]])

  /** Replay one seeded stream; returns the streaming layer's metrics:
    * per-wave progress medians of each query (`stream_*`), and the
    * cold start, the wave latency and the throughput (`live.*`). */
  def replay(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val parts = 2 * ctx.args.cores
    val orc = s"${ctx.work}/live_oracle"
    val accts = ChangeGen.accounts(spark, ctx.args.seed, Shape, parts).cache()
    accts.write.mode("overwrite").parquet(s"$orc/changes.parquet")
    val payloads = ChangeGen.payloads(accts, None).collect().sortBy(_.block_num)
    val perBlock = accts.groupBy("block_num").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val nWaves = (Shape.blocks / WaveBlocks).toInt
    val waves = payloads.groupBy(_.block_num / WaveBlocks).toSeq.sortBy(_._1).map(_._2.toSeq)

    // batch results over the same blocks, computed once
    val changes = spark.read.parquet(s"$orc/changes.parquet")
    val wantVersions = prefixDigests(EntityVersioner.scd2Versions(changes)
      .filter(col("end_block").isNotNull), col("end_block"), nWaves)
    // a line is `id,block,value`
    val wantCsv = prefixDigests(BundledCsvSink.toCsvLines(changes, CsvBundle).select("line"),
      split(col("line"), ",").getItem(1).cast("long"), nWaves)
    val wantPoi = PoiStableHash.poiChain(changes, CsvBundle).select("block_num", "poi").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.clearCache()
    ctx.phase("live sink: inputs generated, expected outputs computed")

    // one stream, three consumers of the decoded flow
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val csvDir = s"${ctx.work}/live_csv"
    ctx.dropDir(csvDir)
    val t0 = System.nanoTime()
    val input = MemoryStream[(Long, Array[Byte])]
    val decoded = Decode(input.toDF().toDF("block_num", "payload"))
      .select("id", "block_num", "op", "value")
    val poiOut = mutable.Map.empty[Long, String]
    val qVersions = EntityChangeStream.closedVersions(
        decoded.select(col("id"), col("block_num").as("blockNum"), col("op"), col("value"))
          .as[EntityChangeStream.Change])
      .writeStream.format("memory").queryName("stream_versions").outputMode("append").start()
    val qPoi = PoiStableHashStream.start(
      decoded.select(col("block_num").as("blockNum"), col("id"), col("op"),
          PoiStableHash.valueText(col("value")).as("value"), blockTs(col("block_num")).as("ts"))
        .withWatermark("ts", WatermarkDelay).as[PoiStableHashStream.ChangeEvent],
      new PoiStableHashStream.ChainFolder)(ps => poiOut.synchronized(poiOut ++= ps))
    val qCsv = decoded.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        BundledCsvSink.writeBatch(b, id, csvDir, CsvBundle): Unit
      }
      .option("checkpointLocation", s"${ctx.work}/checkpoints/stream_csv").start()
    val queries = Seq(qVersions, qPoi, qCsv)
    val seen = mutable.Map.empty[StreamingQuery, Long].withDefaultValue(-1L)

    // the progress of the micro-batches a query ran since the last call
    def progress(q: StreamingQuery): Map[String, Double] = {
      val ps = q.recentProgress.filter(_.batchId > seen(q))
      ps.lastOption.foreach(p => seen(q) = p.batchId)
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val base = Map("add_batch_ms" -> dur("addBatch"), "wal_commit_ms" -> dur("walCommit"),
        "query_planning_ms" -> dur("queryPlanning"))
      ps.lastOption.filter(_.stateOperators.nonEmpty).fold(base) { last =>
        base ++ Map(
          "state_rows" -> last.stateOperators.map(_.numRowsTotal).sum.toDouble,
          "state_mem_mb" -> last.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0,
          "state_commit_ms" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble)
      }
    }

    var next = 0
    def wave(): Option[WaveStat] = {
      val w = waves(next); next += 1
      val n = w.map(p => perBlock.getOrElse(p.block_num, 0L)).sum
      val t = System.nanoTime()
      val ok = ctx.attempt(s"live sink wave ${next - 1}") {
        ctx.tracer.span("wave") {
          input.addData(w.map(p => (p.block_num, p.payload)))
          queries.foreach(_.processAllAvailable())
        }
      }.isDefined
      val s = (System.nanoTime() - t) / 1e9
      val prog = Queries.zip(queries).map { case (name, q) => name -> progress(q) }.toMap
      if (ok) Some(WaveStat(s, n, prog)) else None
    }

    try {
      (0 until ColdWaves).foreach(_ => wave())
      val cold = (System.nanoTime() - t0) / 1e9
      (0 until WarmWaves).foreach(_ => wave())
      val timed = (0 until math.min(TimedWaves, waves.length - next)).flatMap(_ => wave())
      ctx.phase(f"live sink: cold start $cold%.3f s, ${timed.size} timed waves")

      // checks: streamed == batch over the replayed blocks
      val cut = next * WaveBlocks
      val gotVersions = Digest.of(spark.table("stream_versions")
        .select(col("id"), col("startBlock").as("start_block"), col("endBlock").as("end_block"), col("value")))
      ctx.check("streamed closed versions == batch scd2Versions", gotVersions == wantVersions(next - 1),
        s"${Digest.show(gotVersions)} vs ${Digest.show(wantVersions(next - 1))}")
      val gotCsv = Digest.of(BundledCsvSink.committedLines(spark, csvDir).select("line"))
      ctx.check("streamed csv lines == batch toCsvLines", gotCsv == wantCsv(next - 1),
        s"${Digest.show(gotCsv)} vs ${Digest.show(wantCsv(next - 1))}")
      val got = poiOut.synchronized(poiOut.toMap)
      val wrong = got.count { case (b, p) => !wantPoi.get(b).contains(p) }
      val missing = wantPoi.keys.count(b => b < cut - WaveBlocks - 10 && !got.contains(b))
      ctx.check("streamed poi == batch poiChain", wrong == 0 && missing == 0 && got.nonEmpty,
        s"wrong=$wrong missing=$missing emitted=${got.size}")

      val lat = timed.map(_.seconds)
      Layers.medians(timed.map(_.progress)) ++ Map(
        "live.cold_start_s" -> cold,
        "live.wave_latency_p50_s" -> Stats.median(lat),
        "live.wave_latency_p90_s" -> Stats.quantile(lat, 0.9),
        "live.records_per_s" -> timed.map(_.changes).sum / math.max(lat.sum, 1e-9))
    } finally queries.foreach(_.stop())
  }
}
