package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given scale
  * factor and prints one JSON line. A warmup pass (session init, parquet
  * footer reads, codegen JIT) runs before any timing so per-query
  * numbers measure the operator, not first-use overheads. */
object Bench {
  /** 1-minute system load average (-1.0 where unavailable). */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Persistent DuckDB timing worker (tools/duck_worker.py) for the
    * INTERLEAVED protocol: each key's Spark run and DuckDB run are
    * timed back-to-back in the same window, so a host-load burst skews
    * both engines' samples of that window equally instead of landing
    * on whichever engine's separate pass it met (round 8: the official
    * sample read 2.49× under a neighbor that punished only 32-task
    * stage waves, while the same tree's quiet-window pair read 1.54×).
    * The worker times execute+fetchall on its own side of the pipe, so
    * IPC never counts against DuckDB. A dead/missing worker degrades
    * to the DUCK_TIMING.json file merge, never to a crashed bench. */
  private final class DuckWorker(proc: Process,
                                 in: java.io.BufferedReader,
                                 out: java.io.Writer) {
    @volatile private var dead = false
    def run(key: String): Option[Double] = synchronized {
      if (dead) None
      else try {
        out.write(s"run $key\n"); out.flush()
        val line = in.readLine()
        if (line == null) { dead = true; None }
        else if (line.startsWith(s"ok $key "))
          Some(line.substring(4 + key.length).trim.toDouble)
        else None // err <key> ... — key skipped, worker stays up
      } catch { case _: Exception => dead = true; None }
    }
    def close(): Unit = {
      try { out.write("quit\n"); out.flush() } catch { case _: Exception => }
      proc.destroy()
    }
  }

  private def startDuckWorker(sfDir: String): Option[DuckWorker] = {
    val script = sys.env.getOrElse("SPARK_GRAFT_DUCK_WORKER", "tools/duck_worker.py")
    if (sys.env.get("SPARK_GRAFT_DUCK_INTERLEAVE").contains("false")) None
    else if (!new java.io.File(script).exists()) None
    else try {
      val oraclePath = java.nio.file.Files.createTempFile("graft_oracle", ".json")
      OracleJson.write(oraclePath, SparkEntry.oracleSql)
      val pb = new ProcessBuilder("python3", script, sfDir, oraclePath.toString)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
      val out = new java.io.OutputStreamWriter(p.getOutputStream, "UTF-8")
      val ready = in.readLine() // python exits fast when duckdb is absent
      if (ready == null || !ready.startsWith("ready ")) { p.destroy(); None }
      else Some(new DuckWorker(p, in, out))
    } catch { case _: Exception => None }
  }

  /** Shuffle width sized to the CORPUS, not the session constant —
    * the pagerank-loop rule applied bench-wide: lineitem's on-disk
    * bytes in ~4 MB units, clamped to [8, cpus]. At sf0.1 (10.8 MB)
    * a 32-task exchange wave over a <10 MB shuffle is pure scheduling
    * waste — width 8 measured the 110-key suite ~7% faster and is far
    * more robust when a host neighbor starves cores; at sf1 (125 MB)
    * the formula returns ~29 ≈ full width, preserving the measured
    * sf1 crossovers, and sf10 clamps to every core. A cluster
    * deployment replaces this with its bucket/partition layout. */
  private def factBytes(sfDir: String): Long = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(sfDir, "lineitem.parquet")
    try {
      if (Files.isDirectory(p)) {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_))
          .mapToLong(Files.size(_)).sum
        finally s.close()
      } else Files.size(p)
    } catch { case _: Exception => Long.MaxValue } // unknown → assume big
  }

  private def dataSizedShuffle(sfDir: String, cpus: Int): Int =
    math.max(8, math.min(cpus.toLong, factBytes(sfDir) >> 22).toInt)

  /** AQE sized to the corpus, the same rule shape as
    * [[dataSizedShuffle]]: AQE's value is RUNTIME re-planning of big
    * shuffles (coalescing mis-guessed widths, splitting skewed
    * partitions, local-reading small sides) — all data-proportional
    * wins — while its cost is a fixed per-shuffle stage-materialization
    * turnaround (~30 ms measured here: each exchange becomes its own
    * job submission + stats round trip). Below ~64 MB of fact data the
    * wins cannot exceed the turnarounds (round 12 measured the full
    * 110-key sf0.1 suite at 20.6 s AQE-on vs 18.1 s AQE-off, worst
    * per-key regression +0.03 s), so tiny corpora run the static plan;
    * at sf1+ (≥125 MB) AQE stays on, preserving every measured sf1/sf10
    * crossover and the 100 TB posture. Env-overridable for A/B runs. */
  private def dataSizedAqe(sfDir: String): String =
    if (factBytes(sfDir) >= (64L << 20)) "true" else "false"

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shuffle partitioning defaults to the data-sized width; the knob
    // exists because at bench SF the right number is measured, not
    // assumed
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt)
      .getOrElse(dataSizedShuffle(sfDir, cpus.toInt))
    val spark = GraftSession.builder(s"local[$cpus]", shuffleParts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", dataSizedAqe(sfDir)))
      // the live status store runs even with the UI off, and its
      // bookkeeping grows with every job — a 114-key × 4-pass suite
      // schedules thousands of jobs, so late queries pay listener-bus
      // work early ones did not (measured: identical 5-stage plan,
      // 0.7 s isolated vs 1.6 s mid-suite). Keep only a token window.
      .config("spark.ui.retainedJobs", "30")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      // (the codegen-cache sizing that fixed the 2×-recompile-per-pass
      // pathology lives in GraftSession.builder — it applies to every
      // long-lived session, not just the bench)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table + exercise shuffle/codegen paths once
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
    }
    Tables.events(spark, sfDir).limit(1).collect()
    SparkEntry.queries.get("q1_agg").foreach(fn => fn(spark, sfDir).count())

    // min of two timed runs per query: the second run reuses compiled
    // codegen, and the min discards one-off host/GC interference.
    // noop-write, NOT count(): count() lets Catalyst prune the output
    // projection to nothing, so map-only queries (CSV serialization,
    // fingerprints) would time an empty scan.
    // SPARK_GRAFT_ONLY=q1_agg,q3_join_topn limits the run (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // bench-only entries (no oracle — the gated key q_pagerank covers
    // correctness at 3 rounds; this measures the iterative family at
    // production depth with the lineage-snapshot cadence engaged)
    val benchExtras: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "q_pagerank20" -> ((s, d) => graft.queries.Analytics.qPagerankDepth(s, d, 20)),
      // production arms of the two BY-DESIGN demonstrators (broadcast
      // deliberately off in the gated keys to force the salted-shuffle
      // / runtime-filter shapes): same result, Catalyst defaults — so
      // every sweep records the demonstration cost AND what a user runs
      "q_skew_join_prod" -> ((s, d) => graft.queries.Analytics.qSkewJoinProd(s, d)),
      "q_bloom_join_prod" -> ((s, d) => graft.queries.Analytics.qBloomJoinProd(s, d)))
    // gated keys whose sf≥1 ratios measure a deliberate demonstration
    // (broadcast off), not the production path — annotated so sweep
    // readers compare them against their *_prod twins above
    val demonstrators = Seq("q_skew_join", "q_bloom_join")
    val queries = (SparkEntry.queries.toSeq ++ benchExtras).sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // failures propagate as loud per-query errors in the JSON (a
    // swallowed exception would record a near-zero time and make
    // breakage look like a speedup). Min-of-3 by default: host noise
    // showed 5-10x spikes on single sub-second queries, and one
    // spiked run out of two still lands in a min-of-2 total.
    // Passes are INTERLEAVED (pass 1 runs every query, then pass 2,
    // then pass 3) rather than back-to-back per query: a sustained
    // host-load burst then poisons at most one pass of each query
    // instead of all runs of whichever query it lands on — the
    // per-query min stays a clean-window measurement.
    // min-of-4 default: ambient load on this host drifts on ~minute
    // scales and inflates whole passes by 5-25%; with interleaved
    // passes each extra pass is another chance at a clean window per
    // key, and 4 measured ~2-3% lower totals than 3 for ~90s more wall
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "4").toInt
    // INTERLEAVED twin timing: immediately after each key's Spark run,
    // the same key's DuckDB oracle runs in the same window (see
    // [[DuckWorker]]) — the shared-key ratio is then a paired
    // measurement under whatever load the host serves, not two
    // separately-skewable passes. Keys without an oracle (bench
    // extras) have no twin.
    // worker starts AFTER pass 1: four oracles (ann_ivf, ann_pq,
    // ann_ivf_pq, dd_semantic) embed trained literal artifacts that
    // exist only once their queries have run in this session — a
    // worker started cold would permanently miss those keys. Duck
    // therefore samples passes 2..N (min-of-runs-1).
    var worker: Option[DuckWorker] = None
    val duckSamples = scala.collection.mutable.Map.empty[String, List[Double]]
    // a key whose best DuckDB time already exceeds this skips its
    // remaining duck passes — min-of-N on a minutes-long query changes
    // nothing but wall time (sf1's quadratic dedup twins). Default off.
    val duckSlowSkip = sys.env.get("SPARK_GRAFT_DUCK_SLOW_SKIP")
      .map(_.toDouble).getOrElse(Double.PositiveInfinity)
    val timed: Seq[Seq[(String, Either[String, Double])]] = (1 to runs).map { pass =>
      if (pass == 2) worker = startDuckWorker(sfDir)
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val res = (try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Exception => Left(e.getClass.getSimpleName + ": " + e.getMessage)
        }): Either[String, Double]
        val duckDue = SparkEntry.oracleSql.contains(name) &&
          duckSamples.get(name).forall(_.min <= duckSlowSkip)
        if (duckDue)
          worker.flatMap(_.run(name)).foreach { d =>
            duckSamples.update(name, d :: duckSamples.getOrElse(name, Nil))
          }
        name -> res
      }
    }
    worker.foreach(_.close())
    val duckInterleaved: Map[String, Double] =
      duckSamples.view.mapValues(_.min).toMap
    val results = queries.map { case (name, _) =>
      val times = timed.map(pass => pass.find(_._1 == name).get._2)
      name -> times.collect { case Right(t) => t }.minOption
        .toRight(times.collectFirst { case Left(e) => e }.getOrElse("unknown"))
    }
    // Stage/shuffle census: one extra UNTIMED pass per query with a
    // task-metrics listener, quiescing between queries so async
    // listener events attribute correctly. Emitting per-query stage
    // counts lets the round-over-round comparison do STAGE-aware floor
    // accounting (a 5-stage query carries ~5 floors, not 1), and the
    // shuffle volumes put the sf0.1 data-movement profile in the same
    // JSON the driver already records.
    val census = new TaskMetricsListener
    spark.sparkContext.addSparkListener(census)
    val stageCounts = queries.map { case (name, fn) =>
      census.reset()
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case _: Exception => false }
      // a missed quiescence deadline means events were still in flight
      // and this query's census undercounts — record it as suspect
      // instead of letting it read as a clean measurement
      val clean = census.quiesce()
      name -> (if (ok) Some((census.stages.get(), census.shuffleWrite.get() / 1e6, clean)) else None)
    }.toMap

    // Floor probe: a trivial one-row parquet-scan noop-write pays the
    // same per-query fixed costs every benched query pays (job/stage
    // submission, AQE re-plan, codegen compile cache lookup, write
    // commit protocol) with ~zero data work. Reporting it in the JSON
    // lets the per-round comparison decompose total runtime into
    // n_queries × floor + data-proportional work, instead of that
    // split being re-derived by hand each round. min-of-9 with a
    // breather between samples: the probe is sub-100ms — the most
    // host-noise-sensitive number in the file — and a single loaded
    // window once inflated a min-of-5 to 0.26 s, over-adjusting every
    // stage-aware ratio downstream.
    val floor = (1 to 9).map { i =>
      if (i > 1) Thread.sleep(200)
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/region.parquet").limit(1)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    // the probe's own stage count, so floor/probeStages is a
    // PER-STAGE unit for the stage-aware decomposition below
    val probeStages = {
      val c = new TaskMetricsListener
      spark.sparkContext.addSparkListener(c)
      c.reset()
      spark.read.parquet(s"$sfDir/region.parquet").limit(1)
        .write.format("noop").mode("overwrite").save()
      c.quiesce()
      spark.sparkContext.removeSparkListener(c)
      math.max(c.stages.get(), 1L)
    }
    // Wave-floor probe: the single-task floor above cannot see
    // CPU-SHARE contention — a throttled host runs one task at full
    // speed but a 32-task stage wave at a fraction of it (measured
    // round 8: floor flat at ~0.11 s while every wide stage ran 2-3×
    // slow). A trivial 32-partition exchange+noop measures the
    // per-stage cost a real shuffle stage pays in the SAME window, so
    // loaded samples decompose honestly. min-of-5, like the floor.
    val waveFloor = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 32 * 64, 1, 4).repartition(32)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val qs = results.map {
      case (k, Right(v)) => "\"" + k + "\":" + v
      case (k, Left(e)) =>
        "\"" + k + "\":\"ERROR " + e.replaceAll("[\"\\\\\n]", " ").take(120) + "\""
    }.mkString("{", ",", "}")
    val errs = results.count(_._2.isLeft)
    val ok = results.collect { case (_, Right(v)) => v }
    val total = ok.sum
    val floorTotal = floor * ok.size
    val dataProp = math.max(total - floorTotal, 0.0)
    val stagesJson = queries.flatMap { case (n, _) =>
      stageCounts.get(n).flatten.map { case (st, _, _) => "\"" + n + "\":" + st }
    }.mkString("{", ",", "}")
    val shufJson = queries.flatMap { case (n, _) =>
      stageCounts.get(n).flatten.map { case (_, mb, _) => f""""$n":$mb%.1f""" }
    }.mkString("{", ",", "}")
    val dirtyJson = queries.flatMap { case (n, _) =>
      stageCounts.get(n).flatten.collect { case (_, _, false) => "\"" + n + "\"" }
    }.mkString("[", ",", "]")
    // DuckDB twin timing: PREFERRED source is the interleaved worker
    // samples above (paired windows — the contention-robust protocol);
    // when the worker was unavailable, fall back to a pre-recorded
    // DUCK_TIMING.json (tools/bench_duck.py) with a matching sf. The
    // round's BENCH json records both engines' totals and the
    // shared-key ratio either way. Shared keys only — a query one
    // engine didn't run contributes to neither total.
    val (duckCompact, duckPerKey) = {
      val path = sys.env.getOrElse("SPARK_GRAFT_DUCK_JSON", "DUCK_TIMING.json")
      val f = new java.io.File(path)
      val fromFile = if (!f.exists()) None else {
        val txt = scala.io.Source.fromFile(f)
        val content = try txt.mkString finally txt.close()
        val sfOk = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(content)
          .exists(_.group(1) == sfDir)
        if (!sfOk) None else Some {
          """"(\w+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(content)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filterNot { case (k, _) => k == "total_sec" || k == "runs" }
            .toMap
        }
      }
      val parsed: Option[(Map[String, Double], String)] =
        if (duckInterleaved.nonEmpty) Some((duckInterleaved, "interleaved"))
        else fromFile.map((_, "file"))
      parsed.fold((Seq.empty[(String, String)], Seq.empty[(String, String)])) { case (duck, protocol) =>
        val shared = results.collect {
          case (n, Right(v)) if duck.contains(n) => (n, v, duck(n))
        }
        val sparkShared = shared.map(_._2).sum
        val duckShared = shared.map(_._3).sum
        val perKey = shared.map { case (n, v, dv) =>
          f""""$n":${v / math.max(dv, 1e-4)}%.2f""" }.mkString("{", ",", "}")
        // Stage-aware floor subtraction: a K-stage Spark query pays
        // ~K× the measured per-stage floor (job/stage submission, AQE
        // re-plan, commit protocol) that a single-process engine does
        // not — the data-proportional residual is the number that
        // predicts cluster-scale behavior, so record BOTH ratios
        // instead of leaving the adjustment to each reader. Per-stage
        // floor = probe cost / probe's own measured stage count;
        // subtraction floors at 10% of the measured time so a
        // floor-dominated key contributes a small positive residual,
        // never a negative one.
        val stageFloor = floor / probeStages
        val adjShared = shared.map { case (n, v, _) =>
          val st = stageCounts.get(n).flatten.map(_._1.toDouble).getOrElse(2.0)
          math.max(v - st * stageFloor, v * 0.1)
        }.sum
        val duckPerKey = shared.map { case (n, _, dv) =>
          f""""$n":$dv%.4f""" }.mkString("{", ",", "}")
        // honesty-of-protocol record: keys whose duck sampling was
        // CAPPED by the slow-skip threshold carry fewer min-of-N
        // samples (their min can only be ≥ a full-sample min — the cap
        // can't flip a conclusion, but readers shouldn't re-derive
        // which keys it touched)
        val slowLimited = duckSamples.toSeq
          .filter(_._2.min > duckSlowSkip).map(_._1).sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        (Seq("duck_total_sec_shared" -> f"$duckShared%.3f", "spark_total_sec_shared" -> f"$sparkShared%.3f",
          "ratio_shared" -> f"${sparkShared / math.max(duckShared, 1e-9)}%.3f",
          "spark_floor_adj_sec_shared" -> f"$adjShared%.3f",
          "ratio_shared_floor_adj" -> f"${adjShared / math.max(duckShared, 1e-9)}%.3f",
          "shared_keys" -> s"${shared.size}", "duck_protocol" -> s""""$protocol""""),
          Seq("ratio_per_key" -> perKey, "duck_queries" -> duckPerKey, "duck_slow_limited" -> slowLimited))
      }
    }
    // host-load context: the r6 bench spread (2.44-3.24x raw on the
    // same tree) was ambient load; recording the 1-minute loadavg at
    // start and end makes every sample self-describing
    val loadEnd = loadAvg()
    val demoJson = demonstrators.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detailPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val qsShort = results.map {
      case (k, Right(v)) => f""""$k":$v%.3f"""
      case (k, Left(e)) =>
        "\"" + k + "\":\"ERROR " + e.replaceAll("[\"\\\\\n]", " ").take(60) + "\""
    }.mkString("{", ",", "}")
    // the run's one record: (key, full-line value, summary value), None
    // where a line omits the key; the compact trailer is the summary
    // without `queries`
    val both = (v: String) => (Some(v), Some(v))
    val record: Seq[(String, (Option[String], Option[String]))] = Seq(
      "metric" -> (Some("\"total\""), Some("\"summary\"")), "value" -> (Some(s"$total"), Some(f"$total%.3f")),
      "unit" -> both("\"sec\""), "n_queries" -> (None, Some(s"${ok.size}")), "errors" -> both(s"$errs"),
      "queries" -> (None, Some(qsShort)), "floor_per_query_sec" -> (Some(s"$floor"), Some(f"$floor%.4f")),
      "wave_floor_sec" -> (Some(s"$waveFloor"), None), "floor_total_sec" -> (Some(s"$floorTotal"), None),
      "data_proportional_sec" -> (Some(s"$dataProp"), Some(f"$dataProp%.3f")), "queries" -> (Some(qs), None),
      "stages" -> (Some(stagesJson), None), "shuffle_write_mb" -> (Some(shufJson), None),
      "census_incomplete" -> (Some(dirtyJson), None), "demonstrators" -> (Some(demoJson), None)) ++
      duckCompact.map { case (k, v) => k -> both(v) } ++ duckPerKey.map { case (k, v) => k -> (Some(v), None) } ++
      Seq("load_avg_start" -> both(f"$loadStart%.2f"), "load_avg_end" -> both(f"$loadEnd%.2f"),
        "detail_file" -> (None, Some(s""""$detailPath"""")), "sf" -> both(s""""$sfDir""""))
    def render(fields: Seq[(String, Option[String])]): String =
      fields.collect { case (k, Some(v)) => s""""$k":$v""" }.mkString("{", ",", "}")
    val fullLine = render(record.map { case (k, (full, _)) => k -> full })
    val summary = record.map { case (k, (_, short)) => k -> short }
    println(fullLine)
    // the driver records only the TAIL of stdout (≈2 KB), which
    // truncated everything before ratio_per_key in round 5 — so the
    // COMPLETE json (per-key walls, stages, shuffle, floor
    // decomposition, duck ratios) is also written to a committed
    // file the judge can always read in full
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), fullLine + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // Round-13 (VERDICT ask 2): the driver's PERF per-query comparator
    // needs a summary line carrying "queries":{key:sec} — the contract
    // one-liner. A 114-key map is ~2.6 KB, and the driver's archived
    // stdout tail is exactly 2000 chars, so this line CANNOT also be
    // the last line (its front would be truncated away). It is printed
    // HERE, immediately before the compact trailer: a driver parsing
    // full stdout finds the queries-bearing summary; a driver parsing
    // only the 2 KB tail still finds the intact compact trailer below,
    // exactly as in every prior round. Additions-only: every compact-
    // trailer field is repeated here, values truncated to 3 decimals.
    println(render(summary))
    // compact trailer: the headline numbers must also appear at the
    // very end of stdout or they are truncated away with the front of
    // the long line above
    // COMPACT by construction (no per-key maps): the driver keeps only
    // the trailing ~2KB of stdout, and rounds 5-6 lost the parsed
    // summary because ratio_per_key pushed the line past that window
    println(render(summary.filterNot(_._1 == "queries")))
    if (errs > 0) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
