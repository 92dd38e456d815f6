"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed as Spark would in production: full plan runs and
results are drained (count via noop write semantics), never collected
to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_warehouse_spark.queries.registry import load_all  # noqa: E402
from data_warehouse_spark.session import (  # noqa: E402
    ARROW_BATCH_DEFAULT, get_spark, set_arrow_batch,
)

# Floor-free lane (r17, VERDICT r16 ask #1). Every sf0.1 fixture table
# is ONE parquet file with ONE row group, so every scan is one task and
# ~10 of the 14 headline cells sit at the local-mode scheduling floor
# (~0.3-0.5 s): the headline can neither show a parallelism win nor
# catch a parallelism regression, and the driver's low-core re-run
# measures scheduling overhead, not scaling. The fixtures are driver-
# owned and read-only (TESTDATA.md), so instead of regenerating them
# this lane ADDS bench entries (the contract allows adding, never
# removing/renaming): the most data-heavy headline queries re-run
# UNMODIFIED over a deterministic FF_MULT-times-amplified, 32-file copy
# of their input tables, built fresh from $SPARK_GRAFT_SF_DIR by every
# bench invocation (tools/floorfree.build_amplified — the same salted
# amplifier the FLOORFREE.json lanes use; nothing persists across
# invocations, so every run still computes from the parquet inputs).
# The build runs untimed before the measured passes, like the warm-up;
# the ff entries are timed with the same noop-sink methodology as
# every other entry, but as their OWN fixed best-of-FF_RUNS block
# AFTER the headline loop converges: a 64x cell runs 1.5-6.5 s, so
# scheduler noise is proportionally tiny and adaptive sampling is
# unnecessary — and inside the adaptive loop the big cells dominated
# the convergence total and pushed every invocation to max_runs
# (measured 21 min; the split form runs ~6). The headline `value`
# stays the sum of the ORIGINAL 14 queries only, so it remains
# comparable round over round; the ff entries ride in `queries`
# beside them. SPARK_GRAFT_BENCH_BUDGET_S bounds only the headline
# loop, not this ff block, which always runs its FF_RUNS passes.
FF_MULT = int(os.environ.get("SPARK_GRAFT_BENCH_FF_MULT", "64"))
FF_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_FF_RUNS", "3"))
FF_QUERIES = ["w5_sessionize", "e1_trips", "x2_minhash_lsh", "x7_tfidf",
              "st4_session_window"]  # r17: lag-chain rewrite, visible here
FF_TABLES = ["events", "documents"]  # the tables the FF_QUERIES read

# Headline set: one representative per operator family. Parity covers
# exhaustiveness; bench covers speed.
HEADLINE = [
    "a1_q1_pricing_summary",   # multi-agg groupBy (TPC-H Q1 shape)
    "j2_broadcast_join",       # dim broadcast join + agg
    "j10_star_join",           # dimension-chain star query
    "j6_asof_join",            # as-of composite
    "w5_sessionize",           # window + session agg (flagship)
    "e1_trips",                # full reference ETL query
    "o2_topk_per_group",       # ranking window
    "u1_upsert",               # merge pattern
    "st4_session_window",      # session_window agg
    "x1_exact_dedup",          # hash dedup
    "x2_minhash_lsh",          # MinHash LSH near-dup
    "x3_cosine_topk",          # vector top-k
    "x7_tfidf",                # explode + join pipeline
    "mm2_image_resize",        # Arrow-batched multimodal decode+plan
]

# DuckDB drift anchor (round-8 VERDICT ask #3): the box's wall-clock
# swings ±12% across rounds on identical code (r7 measured 8.39 -> 9.28
# -> 8.34 s), so a bare cross-round BENCH delta is uninterpretable. The
# anchor is a FIXED set of DuckDB queries — frozen LITERALLY here
# (SQL and repetition counts alike), so registry-oracle edits can never
# drift it — run interleaved with the Spark samples in the same
# process. `ratio` (spark_total / duckdb_anchor_s) divides the shared
# box state out: compare ratios across rounds, not wall times. Three
# workload shapes so one engine affinity can't dominate: columnar
# scan+agg (lineitem), window chain (events sessionize), regex CPU scan
# (documents). Single-shot cells run 20-90 ms at sf0.1 — scheduler
# noise territory — so each anchor is timed as a FIXED repetition
# burst (~0.6-0.8 s), part of the frozen definition.
DUCK_ANCHOR = {
    "scan_agg": (10, """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
    "window": (8, """
        WITH lagged AS (
            SELECT user_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events
        ), ids AS (
            SELECT user_id, ts, value,
                   SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) -
                            epoch_us(prev_ts) > 14400000000
                            THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
            FROM lagged
        )
        SELECT user_id, sid, COUNT(*) AS n, SUM(value) AS v
        FROM ids GROUP BY user_id, sid HAVING COUNT(*) >= 2"""),
    "regex": (30, """
        SELECT COUNT(*) FILTER (len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) > 0) AS m,
               SUM(strlen(regexp_replace(text,
                   '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g'))) AS s
        FROM documents"""),
}


def _duck_anchor_con(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    # one view-registration helper for the whole repo (parity.py owns
    # it); registering every fixture table is harmless — the frozen
    # anchor definition covers the SQL and rep counts, not the views
    from tools.parity import duck_connection
    return duck_connection(sf_dir)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0  # cosmetic metadata only — never abort the bench on it
    spark = get_spark("bench")

    specs = load_all()
    names = [n for n in HEADLINE if n in specs]
    # Warm-up: run each query once at the smallest SF so JVM/codegen/
    # Arrow init isn't attributed to the measured run (steady-state
    # throughput is the metric; a real cluster amortizes startup).
    for name in names:
        try:
            specs[name].fn(spark, "/root/testdata/sf0.001") \
                .write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    # Floor-free lane setup (see FF_MULT above): amplified input built
    # fresh per invocation in a private tempdir, removed at exit. The
    # build + one warm pass per ff query are untimed, like the warm-up.
    ff_root = None
    ff_lane: list[tuple[str, str, str]] = []  # (entry, query, data dir)
    if FF_MULT > 0:
        import shutil
        import tempfile

        from tools.floorfree import build_amplified, build_perm_documents
        ff_root = tempfile.mkdtemp(prefix="bench_ff_")
        # events: the salted amplifier (users/sessions scale linearly,
        # no pair structure). documents: the PERMUTATION amplifier —
        # the salted one leaves every original's copies a near-dup
        # clique, which would grow x2's verify volume quadratically in
        # FF_MULT (a different workload, not a scaling lane).
        ff_dir = build_amplified(spark, sf_dir, ff_root, FF_MULT,
                                 tables=[t for t in FF_TABLES
                                         if t != "documents"])
        if "documents" in FF_TABLES:
            build_perm_documents(spark, sf_dir, ff_dir, FF_MULT)
        for name in FF_QUERIES:
            if name in specs:
                ff_lane.append((f"ff{FF_MULT}_{name}", name, ff_dir))
        for _, name, d in ff_lane:
            set_arrow_batch(spark, ARROW_BATCH_DEFAULT)
            specs[name].fn(spark, d) \
                .write.format("noop").mode("overwrite").save()

    # Best-of-N per query, ADAPTIVE N (r14 verdict ask #1): the box
    # shares hardware and single-shot timings swing 2-4x with neighbor
    # load; r12 and r14 both recorded load-inflated headline artifacts
    # where every query slowed 20-50% in lockstep with the DuckDB
    # anchor. A fixed best-of-3 samples ~30 s of wall-clock — too
    # short to ride out a neighbor's burst — so after the minimum
    # passes (SPARK_GRAFT_BENCH_RUNS, default 3) extra passes keep
    # running while the best-total keeps improving >1% per pass, up to
    # SPARK_GRAFT_BENCH_MAX_RUNS (default 8) or the wall budget
    # (SPARK_GRAFT_BENCH_BUDGET_S, default 420 s). Convergence needs
    # TWO consecutive flat (<1%-improvement) passes (r15 ADVICE #1):
    # with a single one, one flat pass right after min_runs would end
    # sampling even if the box had been loaded for every prior pass —
    # the stated goal only held when improvements were consecutive.
    # One loaded minute can then no longer set the round's number of
    # record; a genuinely loaded whole-invocation still shows up in
    # `ratio` (the interleaved anchor inflates with it). Runs
    # interleave across queries so one spike cannot poison every
    # sample of one query.
    min_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    max_runs = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "8"))
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "420"))
    con = _duck_anchor_con(sf_dir)
    for _, q in DUCK_ANCHOR.values():  # warm the page cache / plan cache
        con.sql(q).fetchall()
    timings: dict[str, float] = {}
    anchors: dict[str, float] = {}
    bench_t0 = time.time()
    passes = 0
    prev_best = None
    flat_streak = 0
    while passes < max_runs:
        for name in names:
            # driver-harness parity: reset the Arrow tier so a prior
            # query's blob/vector pin can't bias this measurement
            set_arrow_batch(spark, ARROW_BATCH_DEFAULT)
            t0 = time.time()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
        # anchor samples interleave with the Spark samples so both
        # engines see the same box state this round
        for aname, (reps, q) in DUCK_ANCHOR.items():
            t0 = time.time()
            for _ in range(reps):
                con.sql(q).fetchall()
            dt = round(time.time() - t0, 3)
            anchors[aname] = min(anchors.get(aname, dt), dt)
        passes += 1
        best = sum(timings.values())
        if prev_best is not None and best > prev_best * 0.99:
            flat_streak += 1
        else:
            flat_streak = 0
        if passes >= min_runs:
            if time.time() - bench_t0 > budget_s:
                break
            if flat_streak >= 2:
                break  # converged: two consecutive <1% passes
        prev_best = best
    # Floor-free block: fixed best-of-FF_RUNS, after the adaptive loop
    # (see the FF_MULT comment for why it is not inside it)
    for _ in range(FF_RUNS):
        for entry, name, d in ff_lane:
            set_arrow_batch(spark, ARROW_BATCH_DEFAULT)
            t0 = time.time()
            specs[name].fn(spark, d) \
                .write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[entry] = min(timings.get(entry, dt), dt)
    # `value` stays the sum of the ORIGINAL headline entries only — the
    # ff lane rides in `queries` without moving the cross-round metric
    total = round(sum(timings[n] for n in names), 3)
    anchor_total = round(sum(anchors.values()), 3)
    if ff_root is not None:
        shutil.rmtree(ff_root, ignore_errors=True)

    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # box-drift normalization: compare `ratio` across rounds (the
        # anchor SQL is frozen in this file — see DUCK_ANCHOR)
        "duckdb_anchor_s": anchor_total,
        "duckdb_anchor_queries": anchors,
        "ratio": round(total / anchor_total, 3) if anchor_total else None,
        "passes": passes,
    }))


if __name__ == "__main__":
    main()
