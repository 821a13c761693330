package graftbench

import scala.collection.mutable

import graft.operators.{CopyInjector, CsvSerializer, EntityVersioner, PoiStableHash, VidAssigner}
import graft.sources.GraphqlSchema
import graft.sources.GraphqlSchema.EntityDesc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The `sources`/`functions` layer as a user calls it: decode per-block
  * EntityChanges payloads with `graft_entity_changes` into one typed row
  * per change, fields picked by name. */
object Decode {
  def apply(payloads: DataFrame): DataFrame = {
    val c = payloads.select(col("block_num"),
      explode(call_function("graft_entity_changes", col("payload"))).as("c"))
    def field(name: String) =
      get(filter(col("c.fields"), f => f.getField("name") === name), lit(0))
    c.select(col("c.entity").as("entity"), col("c.id").as("id"), col("block_num"),
      when(col("c.op") === "OPERATION_CREATE", "CREATE")
        .when(col("c.op") === "OPERATION_DELETE", "DELETE")
        .otherwise("UPDATE").as("op"),
      field("value").getField("value").cast("double").as("value"),
      unbase64(field("txHash").getField("value")).as("tx_hash"),
      transform(field("topics").getField("arr"), e => e.getField("value")).as("topics"),
      field("amount").getField("value").as("amount"),
      field("logIndex").getField("value").cast("int").as("log_index"),
      field("success").getField("value").cast("boolean").as("success"),
      field("memo").getField("value").as("memo"))
  }
}

/** `backfill`: the reference's `run` → `tocsv` → `inject-csv` job over
  * a finished block range, as one chain of graft calls — decode, SCD2
  * versioning, graph-CSV rendering into block-range bundles, the COPY
  * manifest and vid assignment, and the POI chain. Each layer's output
  * is materialized before the next layer reads it, so a span covers
  * exactly one layer's construction plus the action that runs it. */
object Backfill {

  /** ~40 versions per account over 6k blocks and ~5 transfers per
    * block: about 120k account changes and 30k transfers, 25 changes
    * per block. Sized so one run (set-up, generation, oracles, a cold
    * pass and the timed passes) stays near a minute on 4 CPUs. At this
    * size Spark's per-stage floor is still most of a warm pass; the
    * traced `cpu_s` and `stages` of each layer show the split. */
  val Shape = ChangeGen.Shape(accounts = 3000, minVersions = 20, maxVersions = 60,
    blocks = 6000, transfersPerBlock = 5.0, deleteShare = 0.05)
  /** Blocks per bundle file: 24 bundles over the range. */
  val BundleSize = 250L
  val PgSchema = "sgd1"

  val Spans = Seq("decode", "version", "csv_write", "manifest", "vid", "poi")

  /** The gl_scd2_versions window oracle, over the generated changes. */
  val Scd2Sql: String =
    """SELECT id, start_block, end_block, value FROM (
      |  SELECT id, block_num AS start_block,
      |         lead(block_num) OVER (PARTITION BY id ORDER BY block_num) AS end_block,
      |         op, value
      |  FROM changes)
      |WHERE op <> 'DELETE'""".stripMargin

  lazy val descs: Map[String, EntityDesc] =
    GraphqlSchema.parse(ChangeGen.Sdl).map(d => d.name -> d).toMap
  def accountDesc: EntityDesc = descs("account")
  def transferDesc: EntityDesc = descs("transfer")

  /** Graph-CSV files, one directory per block-range bundle: the layout
    * of `Bundler.writeBundled`, written with the CSV conventions of
    * `CsvSerializer.writeOptions`. */
  def writeBundledCsv(rows: DataFrame, desc: EntityDesc, out: String): Unit =
    rows.select(CsvSerializer.csvColumns(desc) :+ expr(s"start_block div $BundleSize").as("bundle"): _*)
      .repartition(col("bundle"))
      .write.mode("overwrite").partitionBy("bundle")
      .options(CsvSerializer.writeOptions).csv(out)

  /** CSV lines under `dir`, header lines dropped. */
  def csvLines(spark: SparkSession, dir: String): DataFrame = {
    val headers = Seq(accountDesc, transferDesc).map(d => CsvSerializer.header(d).mkString(","))
    spark.read.option("recursiveFileLookup", "true").text(dir).filter(!col("value").isin(headers: _*))
  }

  def transferRows(df: DataFrame): DataFrame =
    df.select(col("id"), col("block_num").as("start_block"), col("tx_hash"), col("topics"),
      col("amount"), col("log_index"), col("success"), col("memo"))

  /** The measured properties of a generated change stream. */
  def properties(accts: DataFrame, transfers: Long): Map[String, Any] = {
    val ops = accts.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ops.values.sum.toDouble
    Map("account_ids" -> Shape.accounts, "account_changes" -> n.toLong,
      "mean_versions_per_id" -> n / Shape.accounts,
      "create_share" -> ops.getOrElse("CREATE", 0L) / n,
      "update_share" -> ops.getOrElse("UPDATE", 0L) / n,
      "delete_share" -> ops.getOrElse("DELETE", 0L) / n,
      "transfers" -> transfers, "blocks" -> Shape.blocks,
      "changes_per_block" -> (n + transfers) / Shape.blocks, "bundle_blocks" -> BundleSize)
  }

  /** Expected outputs, computed once per run, outside every timed pass:
    *   - SCD2 rows from the DuckDB window oracle;
    *   - CSV lines from the per-key path: `CsvSerializer.serialize` over
    *     the oracle's SCD2 rows and the generated transfers, unbundled;
    *   - the POI chain from `PoiStableHash.chainSequential`, the
    *     reference-faithful sequential fold, on one thread;
    *   - the (id, block) keys every vid must cover. */
  def expected(ctx: Ctx, orc: String): Digest.Named = {
    val spark = ctx.spark
    ctx.duckdb(orc, Map("changes" -> s"$orc/changes.parquet"), Seq("scd2" -> Scd2Sql))
    val scd2 = spark.read.parquet(s"$orc/scd2.parquet")
      .select(col("id"), col("start_block").cast("long"), col("end_block").cast("long"), col("value").cast("double"))
    val changes = spark.read.parquet(s"$orc/changes.parquet")
    val transfers = spark.read.parquet(s"$orc/transfers.parquet")
    CsvSerializer.serialize(scd2, accountDesc)
      .write.mode("overwrite").options(CsvSerializer.writeOptions).csv(s"$orc/csv/account")
    CsvSerializer.serialize(transferRows(transfers), transferDesc)
      .write.mode("overwrite").options(CsvSerializer.writeOptions).csv(s"$orc/csv/transfer")
    ctx.phase("per-key csv written")

    val rows = changes.select(col("block_num"), col("id"), col("op"),
        PoiStableHash.valueText(col("value")).as("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val blocks = rows.groupBy(_._1).toSeq.map { case (bn, rs) =>
      bn -> rs.sortBy(r => (r._2, r._3)).map { case (_, id, op, v) =>
        if (op == "DELETE") PoiStableHash.RemoveEntity("user_state", id): PoiStableHash.PoiEvent
        else PoiStableHash.SetEntity("user_state", id,
          Seq("last_op" -> PoiStableHash.EString(op), "value" -> PoiStableHash.EBigDecimal(v)))
      }.toSeq
    }
    import spark.implicits._
    val poi = PoiStableHash.chainSequential(blocks).toDF("block_num", "poi")
    ctx.phase("sequential poi chain computed")
    Digest.ofAll(Seq("scd2" -> scd2, "csv" -> csvLines(spark, s"$orc/csv"), "poi" -> poi,
      "vid_keys" -> changes.filter(col("op") =!= "DELETE").select("id", "block_num"),
      "account_rows" -> scd2.select(lit(0)), "transfer_rows" -> transfers.select(lit(0))))
  }

  /** One pass's outputs, cached in memory until the pass is checked. */
  final case class PassOut(versions: DataFrame, vids: DataFrame, poi: DataFrame,
                           manifests: Seq[CopyInjector.LoadManifest], decoded: DataFrame)

  /** Persist `df` and run it to the end with a `noop` write: the whole
    * plan executes (a count() would let Catalyst prune columns) and
    * the next layer reads the result from memory, not from disk. */
  private def materialize(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.write.format("noop").mode("overwrite").save()
    cached
  }

  /** One pass of the chain. Only the graph-CSV bundles — the job's
    * product — go to disk, under `dir`. */
  def pass(spark: SparkSession, tr: Tracer, payloads: String, dir: String): PassOut = tr.span("pass") {
    val decoded = tr.span("decode")(materialize(Decode(spark.read.parquet(payloads))))
    val accounts = decoded.filter(col("entity") === "Account").select("id", "block_num", "op", "value")
    val transfers = transferRows(decoded.filter(col("entity") === "Transfer"))
    val versions = tr.span("version")(materialize(EntityVersioner.scd2Versions(accounts)))
    tr.span("csv_write") {
      writeBundledCsv(versions, accountDesc, s"$dir/csv/account")
      writeBundledCsv(transfers, transferDesc, s"$dir/csv/transfer")
    }
    val manifests = tr.span("manifest") {
      Seq(CopyInjector.manifest(versions, accountDesc, PgSchema, BundleSize),
        CopyInjector.manifest(transfers, transferDesc, PgSchema, BundleSize))
    }
    val vids = tr.span("vid")(materialize(VidAssigner.assignVids(spark, accounts, BundleSize)))
    val poi = tr.span("poi")(materialize(PoiStableHash.poiChain(accounts, BundleSize)))
    PassOut(versions, vids, poi, manifests, decoded)
  }

  /** What a pass produced, as far as the checks look at it. */
  final case class Obs(digests: Digest.Named, manifests: Seq[(String, Boolean, Long)],
                       vids: (Long, Long, Long, Long), rows: Map[String, Long])

  /** Observe one pass's outputs: digests of the SCD2 rows, the CSV
    * lines, the POI chain and the vid keys in one job, whether each
    * manifest's vid ranges are gapless (and their row sum), and the
    * vid count, min, max and distinct count. */
  def observe(ctx: Ctx, dir: String, out: PassOut): Obs = {
    val d = Digest.ofAll(Seq("scd2" -> out.versions, "csv" -> csvLines(ctx.spark, s"$dir/csv"),
      "poi" -> out.poi.select("block_num", "poi"), "vid_keys" -> out.vids.select("id", "block_num")))
    val manifests = out.manifests.map { m =>
      val fs = m.files
      val gapless = fs.headOption.forall(_.vidStart == 1) &&
        fs.zip(fs.drop(1)).forall { case (a, b) => b.vidStart == a.vidEnd + 1 && b.bundle > a.bundle } &&
        fs.forall(f => f.vidEnd - f.vidStart + 1 == f.nRows)
      (m.entity, gapless, fs.map(_.nRows).sum)
    }
    val v = out.vids.agg(count(lit(1)), min("vid"), max("vid"), countDistinct("vid")).head()
    val vids = (v.getLong(0), v.getLong(1), v.getLong(2), v.getLong(3))
    val rows = Map("version" -> d("scd2")._1, "csv_write" -> d("csv")._1,
      "manifest" -> out.manifests.map(_.files.size.toLong).sum, "vid" -> vids._1, "poi" -> d("poi")._1) ++
      (if (ctx.tracer.enabled) Map("decode" -> out.decoded.count()) else Map.empty)
    Obs(d, manifests, vids, rows)
  }

  /** Check one pass's observed outputs against the expected ones. */
  def check(ctx: Ctx)(o: Obs, exp: Digest.Named): Unit = {
    Seq("scd2" -> "scd2 rows == duckdb window oracle",
      "csv" -> "bundled csv lines == per-key CsvSerializer lines",
      "poi" -> "poi chain == chainSequential").foreach { case (k, what) =>
      ctx.check(what, o.digests(k) == exp(k), s"${Digest.show(o.digests(k))} vs ${Digest.show(exp(k))}")
    }
    o.manifests.zip(Seq(exp("account_rows")._1, exp("transfer_rows")._1)).foreach { case ((entity, gapless, sum), want) =>
      ctx.check(s"$entity manifest vid ranges gapless, sum == rows",
        gapless && sum == want, s"gapless=$gapless sum=$sum want=$want")
    }
    val (n, lo, hi, distinct) = o.vids
    val want = exp("vid_keys")._1
    ctx.check("vids are 1..n, distinct, one per non-delete change",
      n == want && lo == 1 && hi == want && distinct == want && o.digests("vid_keys") == exp("vid_keys"),
      s"count=$n min=$lo max=$hi distinct=$distinct keys=${Digest.show(o.digests("vid_keys"))} want n=$want")
  }

  /** One pass into `dir`, observed when asked. Its cached frames (and
    * the prefix frame poiChain persists) are dropped afterwards, so
    * every pass starts alike. */
  def onePass(ctx: Ctx, dir: String)(observe: Boolean): Layers.Pass[Obs] = {
    ctx.dropDir(dir)
    val mark = ctx.tracer.mark
    val t0 = System.nanoTime()
    val res = ctx.attempt("backfill pass")(pass(ctx.spark, ctx.tracer, s"${ctx.work}/input/payloads.parquet", dir))
    val s = (System.nanoTime() - t0) / 1e9
    ctx.phase(f"pass $s%.3f s")
    val obs = if (observe) res.map(o => this.observe(ctx, dir, o)) else None
    ctx.spark.catalog.clearCache()
    val spans = if (!ctx.tracer.enabled) Map.empty[String, Map[String, Double]]
      else {
        val m = ctx.spanMetrics(mark, obs.map(_.rows).getOrElse(Map.empty))
        val (bytes, files) = ctx.dataFiles(s"$dir/csv")
        m.updated("csv_write", m.getOrElse("csv_write", Map.empty[String, Double]) ++
          Map("mb_out" -> bytes / 1048576.0, "files" -> files.toDouble))
      }
    Layers.Pass(s, obs, spans)
  }

  def run(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val a = ctx.args
    val parts = 2 * a.cores
    val in = s"${ctx.work}/input"
    val orc = s"${ctx.work}/oracle"
    val accts = ChangeGen.accounts(spark, a.seed, Shape, parts).cache()
    val trs = ChangeGen.transfers(spark, a.seed, Shape, parts).cache()
    ChangeGen.payloads(accts, Some(trs)).write.mode("overwrite").parquet(s"$in/payloads.parquet")
    accts.write.mode("overwrite").parquet(s"$orc/changes.parquet")
    trs.write.mode("overwrite").parquet(s"$orc/transfers.parquet")
    val props = properties(accts.toDF(), trs.count())
    spark.catalog.clearCache()
    ctx.phase("inputs generated")
    val nChanges = props("account_changes").asInstanceOf[Long] + props("transfers").asInstanceOf[Long]
    val pass = onePass(ctx, s"${ctx.work}/pass") _
    val Layers.Passes(first, warm, timed, traces, want) =
      Layers.passes(ctx, () => expected(ctx, orc), check(ctx))(pass)

    val out = mutable.Map[String, Any]("properties" -> props, "records" -> nChanges,
      "pass_s" -> timed.map(_._1), "warmup_pass_s" -> warm, "first_pass_s" -> first)
    var extra = Map.empty[String, Double]
    if (a.trace) {
      // the live sink, on the same session: the streaming layer's metrics
      ctx.tracer.enabled = true
      extra = LiveSink.replay(ctx)
      // single-core baseline in the same (warm) JVM: each layer's self
      // time on local[1] over local[n] shows which layers scale and
      // which are serial (collects to one process, single-partition stages)
      val layers = Layers.medians(traces)
      val spans = ctx.spanRecords
      ctx.spark.stop()
      ctx.spark = Main.session(1, parts, ctx.work)
      ctx.tracer = new Tracer(ctx.tracer.runId + "-local1", ctx.spark.sparkContext)
      ctx.tracer.enabled = true
      val p1 = pass(true)
      p1.obs.foreach(check(ctx)(_, want))
      val m1 = p1.spans
      extra ++= Spans.map(sp => s"$sp.speedup_1_to_n" ->
        m1.get(sp).map(_("self_s")).getOrElse(0.0) / math.max(layers.getOrElse(s"$sp.self_s", 0.0), 1e-9))
      out("local1_layers") = m1
      out("spans_local1") = ctx.spanRecords
      Layers.finish(ctx, out, timed, traces, nChanges.toDouble, extra)
      out("spans") = spans
    } else
      Layers.finish(ctx, out, timed, traces, nChanges.toDouble, extra)
    out
  }
}
