package graftbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The JVM side of the benchmark: generates one workload's inputs from
  * a seed, runs its passes through graft's public API, checks every
  * output and reports measurements to the harness (`run.py`) over
  * stdout lines that start with `@@`:
  *
  *   - `@@ready`            the GraftSession is up, graft's functions registered;
  *   - `@@oracle <spec>`    run the DuckDB queries in `<spec>`, answer `ok` on stdin;
  *   - `@@result <json>`    the run's measurements, checks and counts.
  *
  * `--mode setup` stops after `@@ready`: the harness starts it several
  * times to take the median set-up time. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int, mode: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("cores", "4").toInt, m.getOrElse("mode", "run"))
  }

  /** The session every graft user starts from, pinned to `cores`. */
  def session(cores: Int, shufflePartitions: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      // the status store keeps every job by default; a run schedules
      // thousands, and late passes would pay for the bookkeeping of
      // early ones
      .config("spark.ui.retainedJobs", "30")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.ensureRegistered(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    exitWithParent()
    val spark = session(a.cores, 2 * a.cores, a.work)
    emit("@@ready")
    // a set-up probe has measured all it needs: end without the
    // shutdown work, which is not set-up time
    if (a.mode == "setup") Runtime.getRuntime.halt(0)
    val ctx = new Ctx(spark, a)
    val code =
      try { run(ctx); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // the result is out: end without Spark's shutdown work, which no
    // metric covers (the next run empties the work directory)
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(ctx: Ctx): Unit = {
    val out = ctx.args.workload match {
      case "backfill" => Backfill.run(ctx)
      case "curate" => Curate.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out("jvm") = Map(
      "peak_rss_mb" -> peakRssMb(),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> ctx.spark.version,
      "cores" -> ctx.args.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    out("attempted") = ctx.attempted
    out("failed") = ctx.failed
    out("failures") = ctx.failures.toSeq
    emit("@@result " + Json(out.toMap))
  }

  def emit(line: String): Unit = { println(line); System.out.flush() }

  /** End this JVM when the harness that started it is gone, however it
    * ended: a benchmark process must not outlive its run. */
  private def exitWithParent(): Unit = {
    val parent = ProcessHandle.current().parent()
    val t = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(500)
      Runtime.getRuntime.halt(3)
    })
    t.setDaemon(true)
    t.start()
  }

  /** VmHWM of this process, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Per-run state shared by the workloads: the session, the tracer, the
  * check counters and the DuckDB hand-off. */
final class Ctx(var spark: SparkSession, val args: Main.Args) {
  val work: String = args.work
  var tracer = new Tracer(s"${args.workload}-${args.seed}", spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since the run started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  /** Count one operation; a false `ok` counts it as failed. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = s"$what: $detail"
      failures += msg
      System.err.println(s"[perfbench] CHECK FAILED $msg")
    }
    ok
  }

  /** Run `body` as one operation: an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try { val v = body; check(what, ok = true); Some(v) }
    catch {
      case e: Exception =>
        check(what, ok = false, e.toString)
        e.printStackTrace()
        None
    }

  /** Ask the harness to run DuckDB queries: each (name, sql) result is
    * written to `<dir>/<name>.parquet` over views named by `tables`.
    * Called from one thread at a time: the reply is read from stdin. */
  def duckdb(dir: String, tables: Map[String, String], queries: Seq[(String, String)]): Unit = {
    val spec = Json(Map(
      "tables" -> tables,
      "queries" -> queries.map { case (n, q) => Map("name" -> n, "sql" -> q, "out" -> s"$dir/$n.parquet") }))
    val path = java.nio.file.Paths.get(dir, "oracle_spec.json")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, spec)
    Main.emit(s"@@oracle $path")
    val reply = scala.io.StdIn.readLine()
    if (reply != "ok") throw new IllegalStateException(s"duckdb oracle failed: $reply")
  }

  def dropDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Sum of sizes and count of the data files under `path`. */
  def dataFiles(path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L; var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) { bytes += f.getLen; n += 1 }
    }
    (bytes, n)
  }

  /** Trace metrics of the spans recorded since `mark`, keyed by span
    * name (the first span of each name). */
  def spanMetrics(mark: Int, rows: Map[String, Long]): Map[String, Map[String, Double]] = {
    tracer.listener.quiesce()
    tracer.since(mark).groupBy(_.name).map { case (name, ss) =>
      val s = ss.head
      val st = tracer.listener.statsOf(s.id)
      name -> Map(
        "self_s" -> tracer.selfSeconds(s),
        "cpu_s" -> st.cpuNs / 1e9,
        "stages" -> st.stages.toDouble,
        "tasks" -> st.tasks.toDouble,
        "task_skew" -> st.taskSkew,
        "shuffle_write_mb" -> st.shuffleWrite / 1048576.0,
        "spill_mb" -> st.spill / 1048576.0,
        "peak_exec_mem_mb" -> st.peakExecMem / 1048576.0,
        "rows_out" -> rows.getOrElse(name, 0L).toDouble)
    }
  }

  /** Spans as JSON-ready maps, times relative to the first span. */
  def spanRecords: Seq[Map[String, Any]] = {
    val all = tracer.all
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self_s" -> tracer.selfSeconds(s)))
  }
}

/** Order-free digest of a DataFrame: row count and the sum of a 64-bit
  * hash of every row, columns taken by name and rendered as strings —
  * so a Spark result and a DuckDB result over the same rows agree
  * whatever integer widths each engine chose. */
object Digest {
  def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.sorted.toSeq.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000null"))): _*).cast("decimal(38,0)")

  def of(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(rowHash(df).as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Digests of several frames in one Spark job, keyed like `dfs`. */
  def ofAll(dfs: Seq[(String, DataFrame)]): Named = {
    val r = dfs.map { case (k, df) => df.select(lit(k).as("k"), rowHash(df).as("h")) }
      .reduce(_ unionByName _).groupBy("k").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))))
      .toMap
    dfs.map { case (k, _) => k -> r.getOrElse(k, (0L, BigDecimal(0))) }.toMap
  }

  def show(d: (Long, BigDecimal)): String = s"${d._1} rows / ${d._2}"

  /** Named digests: the expected outputs of a run. */
  type Named = Map[String, (Long, BigDecimal)]
}

/** Statistics over a run's samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Shared pass bookkeeping of the batch workloads. */
object Layers {
  /** Untimed passes after the cold one, at least. Pass times still fall
    * over the first few warm passes while the JIT settles, and a median
    * over a window that sometimes holds them and sometimes not reads two
    * levels. */
  val WarmUpPasses = 4
  /** Timed passes a run makes at least, however long they take. */
  val MinPasses = 3

  /** One pass: its seconds, what it produced (when it was observed and
    * did not fail) and its span metrics (when traced). */
  final case class Pass[O](seconds: Double, obs: Option[O], spans: Map[String, Map[String, Double]])

  final case class Passes(first: Double, warm: Seq[Double], timed: Seq[(Double, Boolean)],
                          traces: Seq[Map[String, Map[String, Double]]], expected: Digest.Named)

  /** The cold pass, then the warm-up passes while `expected` computes
    * the expected outputs on another thread (DuckDB oracles, reference
    * paths: work that must stay out of every timed window, so it runs
    * beside passes that are not timed), then timed passes until
    * `--seconds` have passed (at least [[MinPasses]]). The cold pass and
    * every timed pass are checked with `check`; warm-up passes are
    * neither timed nor checked. A traced run traces every other timed
    * pass; `timed` marks which. */
  def passes[O](ctx: Ctx, expected: () => Digest.Named, check: (O, Digest.Named) => Unit)
               (pass: Boolean => Pass[O]): Passes = {
    val cold = pass(true)
    val exp = Future(expected())(ExecutionContext.global)
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < WarmUpPasses || !exp.isCompleted) warm += pass(false).seconds
    val want = Await.result(exp, Duration.Inf)
    ctx.phase("expected outputs ready")
    cold.obs.foreach(check(_, want))
    val timed = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val traces = mutable.ArrayBuffer.empty[Map[String, Map[String, Double]]]
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < ctx.args.seconds || timed.size < MinPasses) {
      ctx.tracer.enabled = ctx.args.trace && timed.size % 2 == 0
      val p = pass(true)
      p.obs.foreach(check(_, want))
      timed += ((p.seconds, ctx.tracer.enabled))
      if (ctx.tracer.enabled) traces += p.spans
    }
    ctx.tracer.enabled = false
    Passes(cold.seconds, warm.toSeq, timed.toSeq, traces.toSeq, want)
  }

  /** Per-layer medians over traced passes, keyed `<span>.<metric>`. */
  def medians(traces: Seq[Map[String, Map[String, Double]]]): Map[String, Double] =
    traces.flatMap(_.toSeq.flatMap { case (span, ms) => ms.map { case (k, v) => s"$span.$k" -> v } })
      .groupBy(_._1).map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }

  /** End-to-end metrics from the untraced passes; per-layer metrics and
    * the tracing overhead from the traced ones. */
  def finish(ctx: Ctx, out: mutable.Map[String, Any], timed: Seq[(Double, Boolean)],
             traces: Seq[Map[String, Map[String, Double]]], records: Double,
             extra: Map[String, Double]): Unit = {
    val plain = timed.filter(!_._2).map(_._1)
    val traced = timed.filter(_._2).map(_._1)
    out("e2e") = Map("records_per_s" -> Stats.median(plain.map(records / _)), "pass_samples" -> plain.size)
    out("layers") =
      if (traces.isEmpty) Map.empty[String, Double]
      else medians(traces) ++ extra +
        ("trace.overhead_records_per_s" ->
          (Stats.median(traced.map(records / _)) - Stats.median(plain.map(records / _))))
    out("spans") = ctx.spanRecords
  }
}
