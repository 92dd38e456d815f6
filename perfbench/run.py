"""Benchmark launcher: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {etl_daily,analytics,dedup_corpus}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run generates
its inputs from the seed under .perfbench_work/ (untimed), sets up the
program's Spark session on local[N] with N = usable cores, then runs
the workload's ops back to back until S seconds of op time have
passed, always finishing the round it is in. Every op's output is
checked (untimed). The last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"

# registry queries whose per-layer metrics BENCHMARK.json lists (the
# gated workloads'); a run of another workload adds its own queries
GATED_QUERIES = ("x2_minhash_lsh", "x7_tfidf")


def _isolate(work: Path) -> dict[str, str]:
    """Keep every file the run writes inside the checkout, and make the
    program importable in Spark's Python workers from any cwd (the
    workers inherit the JVM's environment, not the driver's sys.path).
    Returns the session confs that carry the same settings."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = str(tmp)
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(work / "warehouse")}


def _shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until the JVM and every
    process below it (the Python worker daemon and its workers) ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants
    gateway = SparkContext._gateway
    proc = gateway.proc
    below = descendants(proc.pid)
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:           # the JVM may already have closed it
        pass
    proc.stdin.close()          # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in below) and time.monotonic() < deadline:
        time.sleep(0.05)


class Runner:
    def __init__(self, wl, tracer):
        self.wl = wl
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.probe = None

    def run_round(self, spark, k: int, traced: bool) -> list[dict]:
        """Run round k's ops; returns one record per op (untimed checks
        follow each op)."""
        self.tr.enabled = traced
        out = []
        for i, op in enumerate(self.wl.round(k)):
            op.before()
            self.tr.op_id = f"r{k}.{i}.{op.name}"
            snap = self.probe.snapshot() if traced else None
            t0 = time.perf_counter()
            try:
                with self.tr.span(f"op.{op.name}"):
                    result = op.run(spark, self.tr)
                dt = time.perf_counter() - t0
                after = self.probe.snapshot() if traced else None
                ok, msg = op.check(result)
            except Exception as e:  # a failing op is counted, never skipped
                dt = time.perf_counter() - t0
                after = self.probe.snapshot() if traced else None
                ok, msg = False, f"{type(e).__name__}: {e}"[:500]
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{self.tr.op_id}: {msg}")
            out.append({"name": op.name, "s": dt, "rows": op.rows,
                        "cpu": _delta(snap, after)})
        return out


def _delta(a, b):
    return None if a is None else {k: b[k] - a[k] for k in a}


def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    ops beyond it, or None when a run has too few ops for one."""
    n = len(latencies)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(latencies)[n - 11]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_daily", "analytics", "dedup_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.seed %= 1 << 32        # numpy seeds must be non-negative

    if not (ROOT / "data_warehouse_spark" / "__init__.py").is_file():
        print(f"perfbench: no data_warehouse_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = _isolate(work)
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, work, base, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, base: Path, conf: dict) -> int:
    from perfbench.trace import JvmProbe, Tracer, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](str(work), args.seed)
    t = time.perf_counter()
    stats = wl.generate()
    gen_s = time.perf_counter() - t
    print(f"inputs ({gen_s:.1f} s, untimed): " + ", ".join(
        f"{name} {rows} rows {size} B" for name, (rows, size)
        in stats.items()), flush=True)

    from data_warehouse_spark.session import get_spark

    tr = Tracer(enabled=bool(args.trace))
    runner = Runner(wl, tr)
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()          # next set-up builds a fresh context
        tr.spark, tr.enabled, tr.op_id = None, bool(args.trace), "setup"
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark("perfbench", master=f"local[{CORES}]",
                              extra_conf=conf)
        get_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tr.spark = spark
        runner.probe = JvmProbe(spark)
        # set-up i's warm-up pass is round i: on etl_daily the job goes
        # on from the previous day, as a daily job with a new session does
        warm = runner.run_round(spark, i, bool(args.trace))
        setups.append((get_s, sum(r["s"] for r in warm)))
        print(f"set-up {len(setups)}: get_spark {get_s:.2f} s, warm-up "
              f"{setups[-1][1]:.2f} s (wall with checks "
              f"{time.perf_counter() - t0:.2f} s): " + " ".join(
                  f"{r['name']}={r['s']:.2f}" for r in warm), flush=True)

    rounds = []                     # (traced, [op records])
    k, spent = SETUPS, 0.0
    t_loop = time.perf_counter()
    while spent < args.seconds or (args.trace and len(rounds) % 2):
        # traced runs alternate plain and traced rounds in pairs, the
        # order flipping each pair, so overhead is measured like for like
        pair, pos = divmod(len(rounds), 2)
        traced = bool(args.trace) and (pos == 0) == (pair % 2 == 1)
        recs = runner.run_round(spark, k, traced)
        rounds.append((traced, recs))
        spent += sum(r["s"] for r in recs)
        k += 1
    tr.enabled = False
    loop_wall = time.perf_counter() - t_loop
    jvm_rss_mb = peak_rss_mb(runner.probe.pid)
    t = time.perf_counter()
    _shutdown(spark)
    print("rounds: " + " ".join(f"{sum(r['s'] for r in recs):.2f}"
                                 for _, recs in rounds), flush=True)
    print(f"timed loop: {spent:.2f} s of ops in {loop_wall:.2f} s wall; "
          f"shutdown {time.perf_counter() - t:.2f} s", flush=True)

    plain = [recs for traced, recs in rounds if not traced]
    ops = [r for recs in plain for r in recs]
    lat = [r["s"] for r in ops]
    print(f"workload {args.workload} seed {args.seed}: {len(rounds)} rounds,"
          f" {runner.attempted} ops attempted (set-up included), "
          f"{runner.failed} failed, error_rate "
          f"{runner.failed / runner.attempted:.4f}", flush=True)
    kinds: dict[str, list[float]] = {}
    for r in ops:
        kinds.setdefault(r["name"], []).append(r["s"])
    tl = tail(lat)
    print(f"untraced ops: {len(lat)}; per-op p50 " + ", ".join(
        f"{k} {_median(v):.4f} s" for k, v in kinds.items()) + "; tail "
        + (f"p{tl[0]:.1f} {tl[1]:.4f} s" if tl else
           "n/a (fewer than 20 ops)"), flush=True)
    for line in getattr(wl, "notes", list)():
        print(line, flush=True)
    for f in runner.failures[:20]:
        print(f"FAILED {f}", flush=True)

    if args.trace:
        layers = per_layer(getattr(wl, "QUERIES", ()))
        metrics = layer_metrics(tr.spans, rounds, setups, wl, jvm_rss_mb,
                                layers)
        tr.dump(str(base / f"spans-{args.workload}-{args.seed}.jsonl"))
        units = dict(layers)
    else:
        metrics = {
            "setup_s": _median([g + w for g, w in setups]),
            "rows_per_s": _median([sum(r["rows"] for r in recs)
                                   / sum(r["s"] for r in recs)
                                   for recs in plain]),
            "round_p50_s": _median([sum(r["s"] for r in recs)
                                    for recs in plain]),
        }
        units = {"setup_s": "s", "rows_per_s": "rows/s", "round_p50_s": "s"}
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


# Per-layer metrics, in BENCHMARK.json order. Times and counts of one
# call are medians over the traced timed ops that made the call; CPU,
# GC and Spark totals are per traced round (one pass over the op list).
# A layer the workload does not call reads 0.
def per_layer(queries=()) -> list[tuple[str, str]]:
    qs = [*GATED_QUERIES, *(q for q in queries if q not in GATED_QUERIES)]
    return [
        ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
        *[m for q in qs for m in (
            (f"queries.{q}.build_s", "s"),
            (f"queries.{q}.build_jobs", "count"),
            (f"exec.{q}.s", "s"), (f"exec.{q}.jobs", "count"),
            (f"exec.{q}.tasks", "count"))],
        ("io.write_partitioned.s", "s"),
        ("io.write_partitioned.jobs", "count"),
        ("io.scan_log.s", "s"), ("io.log_files", "count"),
        ("etl.trips.build_trips.s", "s"),
        ("etl.trips.boundary_dropped", "count"),
        ("operators.merge.merge_into_partitioned.s", "s"),
        ("operators.merge.merge_into_partitioned.jobs", "count"),
        ("operators.merge.merge_into_partitioned.tasks", "count"),
        ("operators.merge.bytes_rewritten", "B"),
        ("operators.merge.fact_files", "count"),
        ("pyworker.cpu_s", "s"), ("jvm.cpu_s", "s"), ("jvm.gc_s", "s"),
        ("cpu.util", "ratio"), ("spark.jobs", "count"),
        ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
        ("jvm.peak_rss_mb", "MB"),
        ("dedup.x2.planted_recall", "ratio"),
        ("dedup.x2.pairs_out", "count"),
        ("trace.overhead_s", "s"),
    ]


def _call_metrics(span: str) -> dict[str, str]:
    """Per-call metrics of a span: {metric: span field}, field "s"
    being the span's duration."""
    if span.startswith("queries.") and span.endswith(".build"):
        return {f"{span}_s": "s", f"{span}_jobs": "jobs"}
    return {f"{span}.{f}": f for f in ("s", "jobs", "tasks")}


def layer_metrics(spans, rounds, setups, wl, jvm_rss_mb, layers) -> dict:
    # op ids are "r<round>.<index>.<op>"; rounds below SETUPS are warm-up
    timed = [sp for sp in spans if sp["op"].startswith("r")
             and int(sp["op"][1:].split(".")[0]) >= SETUPS]
    m = {name: 0.0 for name, _ in layers}
    m["session.get_spark_s"] = _median([g for g, _ in setups])
    m["session.warmup_s"] = _median([w for _, w in setups])
    calls: dict[str, list[dict]] = {}
    for sp in timed:
        sp["s"] = sp["end"] - sp["start"]
        calls.setdefault(sp["name"], []).append(sp)
    for span, sps in calls.items():
        for metric, f in _call_metrics(span).items():
            if metric in m:
                m[metric] = _median([sp[f] for sp in sps])

    traced = [recs for t, recs in rounds if t]
    n = max(1, len(traced))
    cpu = [r["cpu"] for recs in traced for r in recs]
    tot = {k: sum(c[k] for c in cpu) for k in cpu[0]} if cpu else {}
    if tot:
        busy = tot["driver_cpu"] + tot["jvm_cpu"] + tot["worker_cpu"]
        m["pyworker.cpu_s"] = tot["worker_cpu"] / n
        m["jvm.cpu_s"] = tot["jvm_cpu"] / n
        m["jvm.gc_s"] = tot["gc"] / n
        m["cpu.util"] = busy / (tot["wall"] * CORES)
    m["spark.jobs"] = sum(sp["jobs"] for sp in timed) / n
    m["spark.tasks"] = sum(sp["tasks"] for sp in timed) / n
    m["spark.failed_tasks"] = sum(sp["failed_tasks"] for sp in timed) / n
    m["jvm.peak_rss_mb"] = jvm_rss_mb
    walls = [sum(r["s"] for r in recs) for _, recs in rounds]
    pairs = [(walls[i], walls[i + 1], rounds[i][0])
             for i in range(0, len(walls) - 1, 2)]
    m["trace.overhead_s"] = _median(
        [(a - b) if first_traced else (b - a) for a, b, first_traced in pairs])
    m.update(wl.layer_metrics())
    return {name: float(m[name]) for name, _ in layers}


if __name__ == "__main__":
    sys.exit(main())
