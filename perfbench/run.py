#!/usr/bin/env python3
"""graft's end-to-end benchmark: one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Workloads: backfill, curate (see perfbench/README.md).

On first use, or after any source changed, graft and the benchmark are
compiled from source with sbt into .bench_build/. One JVM then
generates the workload's inputs from the seed, runs its passes through
graft's public API and checks every output; DuckDB computes the oracle
results it asks for, beside the untimed warm-up passes. One more JVM
only starts a GraftSession, so set-up time is a median of two. The
last stdout line is one JSON
object: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The full record (context, samples, checks, spans) goes
to .bench_build/results/. Exits non-zero when a check fails or the run
cannot start.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("backfill", "curate")
RUN_TIMEOUT_S = 170
SETUP_PROBES = 1

E2E = [
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("records_per_s", "1/s"),
]

_BATCH_METRICS = [("self_s", "s"), ("cpu_s", "s"), ("stages", "count"), ("tasks", "count"),
                  ("task_skew", "ratio"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                  ("peak_exec_mem_mb", "MB"), ("rows_out", "count")]
_STREAM_METRICS = [("add_batch_ms", "ms"), ("wal_commit_ms", "ms"), ("query_planning_ms", "ms")]
_STATE_METRICS = [("state_rows", "count"), ("state_mem_mb", "MB"), ("state_commit_ms", "ms")]
BACKFILL_SPANS = ["decode", "version", "csv_write", "manifest", "vid", "poi"]
CURATE_SPANS = ["cluster", "keep_best", "curation", "ann"]

PER_LAYER = (
    [(f"{s}.{m}", u) for s in BACKFILL_SPANS + CURATE_SPANS for m, u in _BATCH_METRICS]
    + [(f"stream_versions.{m}", u) for m, u in _STREAM_METRICS + _STATE_METRICS]
    + [(f"stream_poi.{m}", u) for m, u in _STREAM_METRICS + _STATE_METRICS]
    + [(f"stream_csv.{m}", u) for m, u in _STREAM_METRICS]
    + [("csv_write.mb_out", "MB"), ("csv_write.files", "count"),
       ("cluster.members_per_candidate", "ratio"), ("curation.kept_share", "ratio")]
    + [(f"{s}.speedup_1_to_n", "ratio") for s in BACKFILL_SPANS]
    + [("live.cold_start_s", "s"), ("live.wave_latency_p50_s", "s"),
       ("live.wave_latency_p90_s", "s"), ("live.records_per_s", "1/s")]
    + [("trace.overhead_records_per_s", "1/s"), ("jvm.peak_rss_mb", "MB")]
)

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally adds (the list graft's own build passes).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cores():
    """Spark task slots: all CPUs but one, which stays free for the
    JVM's own JIT, GC and scheduler threads (with every CPU running
    tasks, those threads queue behind them and pass times scatter)."""
    return max(1, nproc() - 1)


def heap():
    """The JVM heap Tier-1 uses: half of MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile graft and the benchmark when sources changed; returns the
    runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    want = source_stamp()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=sys.stderr, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed", 3)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("sbt printed no classpath", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1].strip()


def run_oracle(spec_path, work, n_threads):
    """Run the DuckDB queries a JVM asked for; results go to parquet."""
    import duckdb
    spec = json.load(open(spec_path))
    con = duckdb.connect()
    con.execute(f"SET threads={n_threads}")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    for name, path in spec["tables"].items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    for q in spec["queries"]:
        con.execute(f"COPY ({q['sql']}) TO '{q['out']}' (FORMAT PARQUET)")
    con.close()


_children = []


def _stop_children(signum, _frame):
    """Stop every JVM this run started, then exit."""
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(128 + signum)


def jvm(cp, args, work, n_cores, heap_size, deadline):
    """Start one benchmark JVM and serve its @@ requests. Returns
    (seconds from start to a ready session, result or None, exit code)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_size}"] + ADD_OPENS +
           ["-Dspark.sql.session.timeZone=UTC", "-Duser.language=en", "-Duser.country=US",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            "--work", work, "--cores", str(n_cores)] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True, bufsize=1)
    _children.append(proc)
    timer = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
    timer.start()
    ready, result, oracles = None, None, []

    def serve_oracle(spec):
        # the JVM goes on with untimed passes meanwhile and reads the
        # answer when it needs the expected outputs
        try:
            t = time.perf_counter()
            run_oracle(spec, work, n_cores)
            log(f"duckdb oracles ran in {time.perf_counter() - t:.2f} s")
            reply = "ok"
        except Exception as e:  # reported to the JVM, which fails the run
            reply = f"fail {e!r}".replace("\n", " ")
        try:
            proc.stdin.write(reply + "\n")
            proc.stdin.flush()
        except OSError:
            pass  # the JVM is gone; its exit code tells

    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line == "@@ready":
                ready = time.perf_counter() - t0
            elif line.startswith("@@oracle "):
                oracles.append(threading.Thread(target=serve_oracle, args=(line.split(" ", 1)[1],), daemon=True))
                oracles[-1].start()
            elif line.startswith("@@result "):
                result = json.loads(line.split(" ", 1)[1])
            else:
                print(line, file=sys.stderr)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        for t in oracles:
            t.join()
    return ready, result, code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft's sources are not in {ROOT}: run from a checkout of the repository")
    try:
        import duckdb  # noqa: F401  (the oracle engine)
    except ImportError:
        fail("python duckdb is required for the output oracles")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp = ensure_built()
    n_cores, heap_size = cores(), heap()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + RUN_TIMEOUT_S
    load_start = os.getloadavg()[0]
    ready, res, code = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           work, n_cores, heap_size, deadline)
    if res is None or ready is None:
        fail(f"the benchmark JVM ended without a result (exit {code})", 1)
    setups = [ready]
    for _ in range(SETUP_PROBES):
        r, _, c = jvm(cp, ["--mode", "setup"], work, n_cores, heap_size, deadline)
        if r is None or c != 0:
            fail(f"a set-up probe failed (exit {c})", 1)
        setups.append(r)
    load_end = os.getloadavg()[0]

    e2e = dict(res["e2e"], setup_s=statistics.median(setups), first_pass_s=res["first_pass_s"])
    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = failed == 0 and code == 0 and attempted > 0
    if a.trace:
        layers = dict(res.get("layers", {}), **{"jvm.peak_rss_mb": res["jvm"]["peak_rss_mb"]})
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E}

    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "nproc": nproc(), "cores": n_cores, "heap": heap_size, "load1_start": load_start, "load1_end": load_end,
               "jdk": res["jvm"]["jdk"], "spark": res["jvm"]["spark"],
               "setup_samples_s": setups, "pass_samples": e2e["pass_samples"],
               "peak_rss_mb": res["jvm"]["peak_rss_mb"],
               "error_rate": failed / attempted if attempted else 1.0}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    with open(os.path.join(BUILD, "results", stem + ".json"), "w") as f:
        json.dump({"context": context, "metrics": metrics, "run": res}, f, indent=1)

    print("# context " + json.dumps(context))
    print("# " + "  ".join(f"{n}={e2e[n]:.6g} {u}" for n, u in E2E)
          + f"  error_rate={context['error_rate']:.6g} ({failed}/{attempted} operations failed)")
    for msg in res.get("failures", []):
        print(f"# FAILED {msg}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
