"""Dump `.explain("formatted")` for registry queries to files.

Usage: python tools/dump_plans.py --out plans/r16 --suffix before [--sf DIR] Q [Q...]
       python tools/dump_plans.py --out plans/r16 --suffix before --headline

Writes plans/r16/<query>_<suffix>.txt for each query — the judge-facing
plan evidence for optimization rounds (OPTIMIZATION_r16.md contract).
Per-session counters (`#NNN` exprIds, `RDD[N]`, `plan_id=N`) are
normalized, so two trees' dumps compare with a plain `diff -r`.
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_warehouse_spark.queries.registry import load_all  # noqa: E402


_COUNTERS = [(re.compile(r"#\d+"), "#N"),
             (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
             (re.compile(r"plan_id=\d+"), "plan_id=N")]


def normalize(plan: str) -> str:
    """Replace the session-specific id counters in a plan string."""
    for pat, repl in _COUNTERS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = list(args.queries)
    if args.headline:
        import bench
        names = list(dict.fromkeys(bench.HEADLINE + names))

    specs = load_all()
    out_dir = Path(args.out)
    out_dir.mkdir(parents=True, exist_ok=True)

    from data_warehouse_spark.session import get_spark  # noqa: E402
    spark = get_spark("dump_plans")
    for name in names:
        df = specs[name].fn(spark, args.sf)
        # _sc / _jdf internals are stable across Spark 3.x/4.x and are
        # the only way to capture explain() output without stdout games
        plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
