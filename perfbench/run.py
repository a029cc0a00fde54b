#!/usr/bin/env python3
"""Benchmark for the graft engine. Run it from the root of a checkout:

    python3 perfbench/run.py --workload <etl|board> --seed <n> --seconds <s> --trace <0|1>

On first use it builds the engine and the harness from source. It makes
the workload's inputs from the seed, measures in a closed loop (one
client, one operation at a time), checks every output, and prints as
its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1. The lines before it give the contention stamp, each
operation's time and every failure by name. CATALOGUE.md lists the
workloads and metrics and says what each per-layer metric should move.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import etlgen  # noqa: E402

ETL_ROWS = 500_000
RUN_TIMEOUT_S = 170

# the board's SparkEntry queries, by the layer each one stresses
LOOPS = ["q41_recursive_cte", "graph_pagerank_converge"]
SCAN = ["q1_pricing_summary", "q13_set_ops", "q46_xml_shred"]
STREAM = ["stream_window_agg", "stream_stateful_counts"]
BOARD_MIX = LOOPS + SCAN + STREAM
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

JVM_FLAGS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx4g"] + [
    f for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "batch_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "session.conf_drift": "count",
    "query.build_s": "s", "query.exec_s": "s", "query.plan_ms": "ms",
    "query.loops_s": "s", "query.scan_s": "s", "query.stream_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.executor_cpu_s": "s", "spark.busy_frac": "ratio",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.failed_tasks": "count", "spark.job_latency_ms": "ms",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.state_rows": "count",
    "sources.build_s": "s", "sinks.render_s": "s", "sinks.driver_s": "s",
    "sinks.output_mb": "MB", "jvm.heap_peak_mb": "MB", "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def info(msg):
    print(msg, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def sf_dir(sf):
    """The directory of the test tables at scale factor `sf`, as
    TESTDATA.md gives it."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == sf:
                return cells[2].rstrip("/")
    raise SystemExit(f"no sf{sf} row in TESTDATA.md")


# ---- build --------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for top in ["src/main", "build.sbt", "project/build.properties", "tools/graft",
                "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Packages the engine (the jar tools/graft runs) and compiles the
    harness, once per state of the sources. Returns the harness classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    fresh = os.path.exists(cp_file) and os.path.exists(stamp_file)
    if not fresh or open(stamp_file).read() != stamp:
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "build.log"), "wb") as log:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "-Dsbt.server.autostart=false", "stage"],
                                cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            raise SystemExit(f"build failed, see {WORK}/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        return ":".join(line.strip() for line in f if line.strip())


# ---- processes ----------------------------------------------------------

def run_process(cmd, stdin_path=None, stdout_path=None, log_path=None):
    """Runs cmd to its end, killing it after RUN_TIMEOUT_S. Returns (wall
    seconds, exit code, peak RSS in MB: the child's ru_maxrss)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM temp files (the CLI's stdin spool among them) stay in the checkout
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), JAVA_TOOL_OPTIONS=opts.strip())
    fin = open(stdin_path, "rb") if stdin_path else subprocess.DEVNULL
    fout = open(stdout_path, "wb") if stdout_path else subprocess.DEVNULL
    ferr = open(log_path, "ab") if log_path else subprocess.DEVNULL
    try:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdin=fin, stdout=fout, stderr=ferr, cwd=ROOT, env=env,
                             start_new_session=True)
        deadline = t0 + RUN_TIMEOUT_S
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.perf_counter() > deadline:
                os.killpg(p.pid, 9)
                pid, status, ru = os.wait4(p.pid, 0)
                break
            time.sleep(0.01)
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        return wall, p.returncode, ru.ru_maxrss / 1024.0
    finally:
        for f in (fin, fout, ferr):
            if hasattr(f, "close"):
                f.close()


def harness(classpath, args):
    """Runs perfbench.Harness with `args` and returns its result."""
    out = args[args.index("--out") + 1]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java"] + JVM_FLAGS + ["-cp", classpath, "perfbench.Harness",
                                  "--launched-ms", repr(time.time() * 1000)] + args
    _, rc, rss = run_process(cmd, log_path=os.path.join(out, "harness.log"))
    if rc != 0:
        raise SystemExit(f"harness exited {rc}, see {out}/harness.log")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["rss_mb"] = rss
    pb, pa = res["probes_before"], res["probes_after"]
    info(f"contention stamp: job_latency_ms before={pb['job_latency_ms']:.2f} "
         f"after={pa['job_latency_ms']:.2f}; cpu_probe_s before={pb['cpu_probe_s']:.4f} "
         f"after={pa['cpu_probe_s']:.4f}")
    info(f"spans: {out}/spans.json")
    return res


def same_bytes(a, b):
    with open(a, "rb") as fa, open(b, "rb") as fb:
        while True:
            x, y = fa.read(1 << 20), fb.read(1 << 20)
            if x != y:
                return False
            if not x:
                return True


def cpu_probe_s():
    """Seconds for a fixed single-thread computation: the contention
    stamp of runs that start no JVM of their own."""
    t0 = time.perf_counter()
    h = 0
    for i in range(3_000_000):
        h = (h * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def spark_layers(traces, ops):
    """Spark, operator and streaming figures summed over traced operations."""
    def total(key):
        return sum(t[key] for t in traces)
    wall = sum(o["wall_s"] for o in ops)
    return {
        "query.build_s": sum(o.get("build_s", 0) for o in ops),
        "query.exec_s": sum(o.get("exec_s", 0) for o in ops),
        "query.plan_ms": total("plan_ms"),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.idle_s": wall - total("busy_s"),
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.busy_frac": total("executor_run_s") / (wall * cpus()) if wall else 0.0,
        "spark.gc_s": total("gc_s"),
        "spark.shuffle_write_mb": total("shuffle_write_mb"),
        "spark.spill_mb": total("spill_mb"),
        "spark.failed_tasks": total("failed_tasks"),
        "stream.batches": total("stream_batches"),
        "stream.trigger_ms": total("stream_trigger_ms"),
        "stream.state_rows": total("stream_state_rows"),
    }


def overhead_s(ops):
    """Tracing overhead: the traced third pass minus the mean of the
    untraced second and fourth passes around it, of the same work."""
    def wall(p):
        return sum(o["wall_s"] for o in ops if o["pass"] == p)
    return wall(3) - (wall(2) + wall(4)) / 2


def common_layers(res, traced, overhead):
    by_id = {t["id"]: t for t in res["traces"]}
    pb, pa = res["probes_before"], res["probes_after"]
    layers = spark_layers([by_id[o["id"]] for o in traced], traced)
    layers.update({
        "session.build_s": res["session_build_s"],
        "session.conf_drift": sum(1 for o in traced if o["conf_drift"]),
        "spark.job_latency_ms": (pb["job_latency_ms"] + pa["job_latency_ms"]) / 2,
        "jvm.heap_peak_mb": res["heap_peak_mb"],
        "process.peak_rss_mb": res["rss_mb"],
        "trace.overhead_s": overhead,
    })
    for o in traced:
        t = by_id[o["id"]]
        info(f"traced {o['id']}: {o['wall_s']:.3f} s, jobs={t['jobs']} stages={t['stages']} "
             f"tasks={t['tasks']}")
    return layers


# ---- etl ----------------------------------------------------------------

def etl(args, classpath):
    """The 7-row sample csv->json through the CLI (set-up), then
    full-size prn->html through the CLI until --seconds have passed."""
    data = os.path.join(WORK, "etl")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    etlgen.generate(data, args.seed, ETL_ROWS)
    if args.trace:
        return etl_layers(classpath, data)
    log = os.path.join(data, "cli.log")
    ops, fails = [], []

    def convert(prefix, src, fmt):
        got = os.path.join(data, f"got.{fmt}")
        wall, rc, rss = run_process(["bash", "tools/graft", src, fmt],
                                    f"{data}/{prefix}.{src}", got, log)
        ok = rc == 0 and same_bytes(got, f"{data}/{prefix}.{fmt}")
        name = f"{prefix} {src}->{fmt}"
        info(f"cli {name}: {wall:.3f} s, peak RSS {rss:.0f} MB")
        ops.append(wall)
        if not ok:
            fails.append(f"{name}: exit {rc}, output differs from the expected bytes")
        return wall if ok else None

    probe_before = cpu_probe_s()
    setup = convert("sample", "csv", "json")
    walls = []
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < args.seconds:
        walls.append(convert("full", "prn", "html"))
    info(f"contention stamp: cpu_probe_s before={probe_before:.4f} after={cpu_probe_s():.4f}")
    result = {"attempted": len(ops), "failed": len(fails), "fails": fails}
    # a failed conversion has no time
    walls = [w for w in walls if w is not None]
    if setup is None or not walls:
        return result, None
    return result, {"setup_s": setup, "batch_s": statistics.median(walls)}


def etl_layers(classpath, data):
    """The traced ETL run: the CLI's conversion steps in the harness,
    traced in a fresh JVM, then prn->html untraced, traced and untraced
    for the tracing overhead."""
    out = os.path.join(WORK, "etl", "harness")
    res = harness(classpath, ["--mode", "etl", "--data", data, "--cpus", str(cpus()),
                              "--out", out])
    ops = res["ops"]
    fails = [f"{o['id']}: {o['error'] or 'output differs from the expected bytes'}"
             for o in ops if not o["correct"]]
    result = {"attempted": len(ops), "failed": len(fails), "fails": fails}
    if fails:
        return result, None
    first = [o for o in ops if o["pass"] == 1]
    by_id = {t["id"]: t for t in res["traces"]}
    layers = common_layers(res, first, overhead_s(ops))
    layers.update({
        "sources.build_s": sum(o["source_s"] for o in first),
        "sinks.render_s": sum(o["sink_s"] for o in first),
        "sinks.driver_s": sum(o["sink_s"] - by_id[o["id"]]["sink_job_s"] for o in first),
        "sinks.output_mb": sum(o["output_mb"] for o in first),
    })
    return result, layers


# ---- board --------------------------------------------------------------

def check_board(res, out, sf):
    """Reason per mix query whose first result differs from the DuckDB
    oracle, compared by the rules of tools/check.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = {}
    for name in BOARD_MIX:
        sql = res["oracle_sql"].get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        got = check.load_spark_result(os.path.join(out, "results", name))
        if got is None:
            continue  # it never succeeded; its errors are counted per operation
        g, e = check.norm(got), check.norm(con.execute(sql).fetchdf())
        if list(g.columns) != list(e.columns):
            bad[name] = f"columns {list(g.columns)} != {list(e.columns)}"
        elif len(g) != len(e):
            bad[name] = f"rows {len(g)} != {len(e)}"
        else:
            for c in g.columns:
                diff = [i for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist()))
                        if not check.values_equal(x, y)]
                if diff:
                    bad[name] = f"column {c} row {diff[0]} differs from the oracle"
                    break
    return bad


def board(args, classpath):
    """Passes over the mix in seeded order, each in a fresh JVM and
    session, until --seconds have passed. A traced run is one JVM that
    makes four passes: traced, untraced, traced, untraced."""
    sf = sf_dir("0.1")
    order = BOARD_MIX[:]
    random.Random(args.seed).shuffle(order)
    runs, ops, fails = [], [], []
    t0 = time.perf_counter()
    while not runs or (not args.trace and time.perf_counter() - t0 < args.seconds):
        out = os.path.join(WORK, "board", str(len(runs)))
        res = harness(classpath, ["--mode", "board", "--sf", sf, "--mix", ",".join(order),
                                  "--passes", "4" if args.trace else "1",
                                  "--trace", str(args.trace), "--cpus", str(cpus()),
                                  "--out", out])
        bad = check_board(res, out, sf)
        for o in res["ops"]:
            why = o.get("error") or bad.get(o["name"]) or (
                "differs from its first result" if o.get("same_as_first") is False else None)
            o["ok"] = why is None
            info(f"query {len(runs)}/{o['id']}: {o['wall_s']:.3f} s"
                 + (f" FAILED: {why}" if why else ""))
            if why:
                fails.append(f"{len(runs)}/{o['id']}: {why}")
        runs.append(res)
        ops += res["ops"]
    result = {"attempted": len(ops), "failed": len(fails), "fails": fails}
    # a pass with a failed query has no time: a failure is never recorded as one
    walls = [sum(o["wall_s"] for o in r["ops"] if o["pass"] == p["pass"])
             for r in runs for p in r["passes"]
             if all(o["ok"] for o in r["ops"] if o["pass"] == p["pass"])]
    if not walls or (args.trace and fails):
        return result, None
    if not args.trace:
        return result, {"setup_s": statistics.median(r["setup_s"] for r in runs),
                        "batch_s": statistics.median(walls)}

    first = [o for o in ops if o["pass"] == 1]
    layers = common_layers(runs[0], first, overhead_s(ops))
    for cls, names in (("loops", LOOPS), ("scan", SCAN), ("stream", STREAM)):
        layers[f"query.{cls}_s"] = sum(o["wall_s"] for o in first if o["name"] in names)
    return result, layers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run from the root of a graft checkout: src/main/scala is missing")
    classpath = build()
    result, metrics = (etl if args.workload == "etl" else board)(args, classpath)
    for f in result["fails"]:
        info(f"FAILED {f}")
    if metrics is None:
        raise SystemExit("no metrics: the operations they need failed (see FAILED above)")
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["failed"] == 0, "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()}}),
        flush=True)


if __name__ == "__main__":
    main()
