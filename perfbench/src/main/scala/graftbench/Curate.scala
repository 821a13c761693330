package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.SessionMemo
import graft.queries.{Ann, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** `curate`: graft's training-data half. A generated corpus goes
  * through near-dup clustering, keep-best selection, the curation job
  * and one ANN retrieval key — the MinHash/LSH, connected-components,
  * quality-kernel and ANN layers, and none of the graph-load ones. */
object Curate extends Serializable {

  /** Corpus shape. Docs are copies of earlier docs with these shares:
    * exact copies collapse before LSH, near copies (3% of tokens
    * replaced) are what MinHash/LSH and the CC loop must find. Token
    * counts are log-normal around 60 (some docs fall under the 20-token
    * curation gate, a few under the 3-token signature floor); 8% of
    * originals are symbol/digit noise the alpha gate drops. */
  final case class CorpusShape(docs: Int, vocab: Int, zipfS: Double, exactDupShare: Double,
                         nearDupShare: Double, noiseShare: Double, vectors: Int, clusters: Int)
  val Shape = CorpusShape(docs = 3000, vocab = 4000, zipfS = 1.1, exactDupShare = 0.05,
    nearDupShare = 0.10, noiseShare = 0.08, vectors = 8000, clusters = 16)

  /** Language mix; each doc mixes 25% stopwords of its language into
    * Zipf-drawn vocabulary words, so the language guess has signal. */
  val Langs: Seq[(String, Double)] = Seq("en" -> 0.55, "es" -> 0.12, "de" -> 0.12, "fr" -> 0.12, "zh" -> 0.09)
  /** (span, query key, the public call): LSH retrieval is the ANN key
    * whose probe depth shapes its candidate set. */
  val Keys: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("cluster", "dd_cluster", Dedup.ddCluster),
    ("keep_best", "dd_keep_best", Dedup.ddKeepBest),
    ("curation", "tx_curation", TextAnalysis.txCuration),
    ("ann", "ann_lsh_bucket", Ann.annLshBucket))

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L + i)

  /** Seeded vocabulary: distinct lowercase syllable words, shortest
    * first, so Zipf rank follows length as in natural language. The
    * seed picks the words but not how long the frequent ones are: in
    * seeded order the top few ranks alone moved a corpus's size in
    * characters, and the work of a pass with it, by ±8% between seeds. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 30, 0)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo", "pe", "dra", "gu", "zen", "bi", "qua", "fo", "tel")
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += (0 until 1 + r.nextInt(4)).map(_ => syl(r.nextInt(syl.length))).mkString
    out.toArray.sortBy(_.length)
  }

  def docs(spark: SparkSession, seed: Long, s: CorpusShape, parts: Int): DataFrame = {
    import spark.implicits._
    val words = vocabulary(seed, s.vocab)
    val cdf = {
      val w = (1 to s.vocab).map(k => 1.0 / math.pow(k, s.zipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val langCdf = Langs.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
    def word(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
    }
    def original(i: Long): (String, String) = {
      val r = rng(seed, 31, i)
      val lang = Langs(langCdf.indexWhere(_ >= r.nextDouble()) max 0)._1
      val stop = TextAnalysis.Stopwords(lang)
      val n = math.max(1, math.min(600, math.round(math.exp(math.log(60) + 0.7 * r.nextGaussian())).toInt))
      val noisy = r.nextDouble() < s.noiseShare
      val toks = (0 until n).map { _ =>
        if (noisy && r.nextDouble() < 0.5) (if (r.nextBoolean()) r.nextInt(100000).toString else "#$%".substring(r.nextInt(3)))
        else if (r.nextDouble() < 0.25) stop(r.nextInt(stop.length))
        else word(r)
      }
      (toks.mkString(" "), lang)
    }
    // doc i is an original, an exact copy or a near copy of an earlier doc
    def text(i: Long): (String, String) = {
      val r = rng(seed, 32, i)
      val u = r.nextDouble()
      if (i == 0 || u >= s.exactDupShare + s.nearDupShare) original(i)
      else {
        val (t, lang) = text(r.nextLong(i))
        if (u < s.exactDupShare) (t, lang)
        else (t.split(" ").map(w => if (r.nextDouble() < 0.03) word(r) else w).mkString(" "), lang)
      }
    }
    spark.range(0, s.docs.toLong, 1, parts).as[Long].map { i =>
      val (t, lang) = text(i)
      Doc(i, t, lang, s"src${i % 20}", t.length.toLong)
    }.toDF()
  }

  /** 64-dim vectors around `clusters` seeded Gaussian centres. */
  def embeddings(spark: SparkSession, seed: Long, s: CorpusShape, parts: Int): DataFrame = {
    import spark.implicits._
    val centres = (0 until s.clusters).map { c =>
      val r = rng(seed, 40, c); Array.fill(Ann.Dims)(r.nextGaussian())
    }.toArray
    spark.range(0, s.vectors.toLong, 1, parts).as[Long].map { i =>
      val r = rng(seed, 41, i)
      val label = r.nextInt(s.clusters)
      Embedding(i, centres(label).map(x => (x + 0.35 * r.nextGaussian()).toFloat), label)
    }.toDF()
  }

  def corpus(ctx: Ctx): String = s"${ctx.work}/corpus"

  /** Expected results: the SparkEntry.oracleSql twins, run in DuckDB. */
  def expected(ctx: Ctx): Digest.Named = {
    val d = corpus(ctx)
    val orc = s"${ctx.work}/oracle"
    ctx.duckdb(orc, Map("documents" -> s"$d/documents.parquet", "embeddings" -> s"$d/embeddings.parquet"),
      Keys.map { case (span, key, _) => span -> graft.SparkEntry.oracleSql(key) })
    Digest.ofAll(Keys.map { case (span, _, _) => span -> ctx.spark.read.parquet(s"$orc/$span.parquet") })
  }

  def check(ctx: Ctx)(got: Digest.Named, want: Digest.Named): Unit =
    Keys.foreach { case (span, key, _) =>
      ctx.check(s"$key == SparkEntry.oracleSql twin", got(span) == want(span),
        s"${Digest.show(got(span))} vs ${Digest.show(want(span))}")
    }

  /** One pass into `dir`; observed, its outputs' digests. Every pass
    * starts from nothing memoized for the corpus, so it times the
    * builds, not cache hits. */
  def onePass(ctx: Ctx, dir: String)(observe: Boolean): Layers.Pass[Digest.Named] = {
    val spark = ctx.spark
    val d = corpus(ctx)
    ctx.dropDir(dir)
    SessionMemo.invalidateAll(spark, d)
    spark.catalog.clearCache()
    val mark = ctx.tracer.mark
    val t0 = System.nanoTime()
    val ok = ctx.attempt("curate pass") {
      ctx.tracer.span("pass") {
        Keys.foreach { case (span, _, query) =>
          ctx.tracer.span(span) {
            query(spark, d).write.mode("overwrite").parquet(s"$dir/$span")
          }
        }
      }
    }.isDefined
    val s = (System.nanoTime() - t0) / 1e9
    ctx.phase(f"pass $s%.3f s")
    val got = if (!ok || !observe) None
      else Some(Digest.ofAll(Keys.map { case (span, _, _) => span -> spark.read.parquet(s"$dir/$span") }))
    val spans = if (!ctx.tracer.enabled) Map.empty[String, Map[String, Double]]
      else ctx.spanMetrics(mark, got.getOrElse(Map.empty).map { case (k, v) => k -> v._1 })
    Layers.Pass(s, got, spans)
  }

  def run(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val a = ctx.args
    val parts = 2 * a.cores
    val d = corpus(ctx)
    docs(spark, a.seed, Shape, parts).write.mode("overwrite").parquet(s"$d/documents.parquet")
    embeddings(spark, a.seed, Shape, parts).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val stats = spark.read.parquet(s"$d/documents.parquet")
      .agg(count_distinct(col("text")), avg("n_chars")).head()
    val props = Map("docs" -> Shape.docs, "distinct_texts" -> stats.getLong(0),
      "exact_dup_share" -> Shape.exactDupShare, "near_dup_share" -> Shape.nearDupShare,
      "noise_share" -> Shape.noiseShare, "vocab" -> Shape.vocab, "zipf_s" -> Shape.zipfS,
      "mean_chars" -> stats.getDouble(1), "vectors" -> Shape.vectors, "embedding_clusters" -> Shape.clusters)
    ctx.phase("inputs generated")

    val ps = Layers.passes(ctx, () => expected(ctx), check(ctx))(onePass(ctx, s"${ctx.work}/pass"))

    var extra = Map.empty[String, Double]
    if (a.trace) {
      // waste ratios, outside every timed window: clustered docs per
      // LSH candidate pair, and the share of the corpus curation keeps
      SessionMemo.invalidateAll(spark, d)
      val members = Dedup.ddCluster(spark, d).count().toDouble
      val candidates = Dedup.ddMinhashLsh(spark, d).count().toDouble
      val kept = TextAnalysis.txCuration(spark, d).agg(sum("n_docs")).head().getLong(0).toDouble
      extra = Map("cluster.members_per_candidate" -> members / math.max(candidates, 1.0),
        "curation.kept_share" -> kept / Shape.docs)
    }
    val out = mutable.Map[String, Any]("properties" -> props, "records" -> Shape.docs,
      "pass_s" -> ps.timed.map(_._1), "warmup_pass_s" -> ps.warm, "first_pass_s" -> ps.first)
    Layers.finish(ctx, out, ps.timed, ps.traces, Shape.docs.toDouble, extra)
    out
  }
}
