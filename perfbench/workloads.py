"""The three workloads: what each op calls in the program, how many
generated input rows it reads, and how its output is checked.

An op is one build plus one execute of a registry query, or one step
of the daily ETL job. A round is one pass over a workload's op list;
round 0 is the warm-up pass that set-up runs, later rounds are timed.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from perfbench import checks, gen


@dataclass
class Op:
    name: str
    rows: int
    run: Callable[[Any, Any], Any]          # (spark, tracer) -> result
    check: Callable[[Any], tuple[bool, str]]
    before: Callable[[], None] = field(default=lambda: None)


def _fields(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def query_op(spec, input_dir: str, rows: int,
             check: Callable[[str, Any, list], tuple[bool, str]]) -> Op:
    """Build the registry query (queries layer), then run it with one
    Arrow collect (exec layer: the Spark action over the built plan)."""
    from data_warehouse_spark.session import (
        ARROW_BATCH_DEFAULT, set_arrow_batch,
    )
    q = spec.name

    def run(spark, tr):
        # as the driver contract does between queries: no Arrow batch
        # tier leaks from one query's build into the next
        set_arrow_batch(spark, ARROW_BATCH_DEFAULT)
        with tr.span(f"queries.{q}.build"):
            df = spec.fn(spark, input_dir)
        with tr.span(f"exec.{q}"):
            table = df.toArrow()
        return table, _fields(df)

    return Op(q, rows, run, lambda res: check(q, *res))


class Analytics:
    """Star-schema analytics: seven registry queries per round, in a
    seed-shuffled order that changes every round."""

    QUERIES = {
        "a1_q1_pricing_summary": ("lineitem",),
        "j10_star_join": ("orders", "customer", "nation", "region"),
        "j6_asof_join": ("events",),
        "o2_topk_per_group": ("orders",),
        "w5_sessionize": ("events",),
        "e1_trips": ("events",),
        "u1_upsert": ("orders",),
    }
    TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

    def __init__(self, work: str, seed: int):
        self.input = os.path.join(work, "input")
        self.seed = seed

    def generate(self) -> dict:
        from data_warehouse_spark.queries.registry import load_all
        stats = gen.gen_analytics(self.input, self.seed)
        specs = load_all()
        self.oracle = checks.OracleCache(
            checks.connect(self.input, self.TABLES),
            {q: specs[q].oracle for q in self.QUERIES})
        self.ops = {q: query_op(specs[q], self.input,
                                sum(stats[t][0] for t in tables),
                                self.oracle.check)
                    for q, tables in self.QUERIES.items()}
        return stats

    def round(self, k: int) -> list[Op]:
        order = np.random.default_rng([self.seed, 100, k]).permutation(
            list(self.QUERIES))
        return [self.ops[q] for q in order]

    def layer_metrics(self) -> dict:
        return {}


class DedupCorpus:
    """Near-duplicate detection and keyword extraction over a text
    corpus: x2 (MinHash LSH with the Arrow signature kernel) and x7
    (TF-IDF), in a seed-shuffled order per round."""

    QUERIES = ("x2_minhash_lsh", "x7_tfidf")

    def __init__(self, work: str, seed: int):
        self.input = os.path.join(work, "input")
        self.seed = seed
        self.recalls: list[float] = []
        self.pairs: list[int] = []

    def generate(self) -> dict:
        from data_warehouse_spark.queries.registry import load_all
        stats, self.texts, self.planted = gen.gen_documents(self.input,
                                                            self.seed)
        specs = load_all()
        self.oracle = checks.OracleCache(
            checks.connect(self.input, ("documents",)),
            {"x7_tfidf": specs["x7_tfidf"].oracle})
        rows = stats["documents"][0]
        self.ops = {
            "x2_minhash_lsh": query_op(specs["x2_minhash_lsh"], self.input,
                                       rows, self._check_x2),
            "x7_tfidf": query_op(specs["x7_tfidf"], self.input, rows,
                                 self.oracle.check)}
        return stats

    def _check_x2(self, q, table, fields):
        ok, msg, recall, pairs = checks.check_x2(table, self.texts,
                                                 self.planted)
        self.recalls.append(recall)
        self.pairs.append(pairs)
        return ok, msg

    def round(self, k: int) -> list[Op]:
        order = np.random.default_rng([self.seed, 200, k]).permutation(
            list(self.QUERIES))
        return [self.ops[q] for q in order]

    def layer_metrics(self) -> dict:
        return {"dedup.x2.planted_recall": min(self.recalls, default=0.0),
                "dedup.x2.pairs_out": float(np.median(self.pairs))
                if self.pairs else 0.0}


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*", "*.parquet")))


class EtlDaily:
    """The reference's recurring job, one simulated day per round:
    `ingest` appends the day's bike_status snapshots to a dt-partitioned
    log; `trips` reads a 36 h window of the log, sessionizes it into
    trips and merges them into the dt-partitioned all_trips fact table.
    Round k is day k; the log and the fact table start empty on day 0."""

    WINDOW = dt.timedelta(hours=36)

    def __init__(self, work: str, seed: int):
        self.input = os.path.join(work, "input")
        self.log = os.path.join(work, "bike_status")
        self.fact = os.path.join(work, "all_trips")
        self.seed = seed
        self.days: list[tuple[str, int, np.ndarray]] = []
        self.rewritten: list[int] = []

    def generate(self) -> dict:
        self.feed = gen.BikeFeed(self.seed)
        self.replay = checks.TripReplay()
        os.makedirs(self.input, exist_ok=True)
        self._day(0)
        path, rows, _ = self.days[0]
        return {"bike_status (per day)": (rows, os.path.getsize(path))}

    def _day(self, d: int):
        """Generate days up to d (in order: positions carry over)."""
        import pyarrow.parquet as pq
        while len(self.days) <= d:
            i = len(self.days)
            table = self.feed.day(i)
            path = os.path.join(self.input, f"day-{i:03d}.parquet")
            pq.write_table(table, path, compression="snappy")
            ts = table.column("timestamp").to_numpy()
            self.days.append((path, table.num_rows, ts))
        return self.days[d]

    def round(self, k: int) -> list[Op]:
        return [self._ingest(k), self._trips(k)]

    def _ingest(self, d: int) -> Op:
        from data_warehouse_spark.io import write_partitioned
        path, rows, _ = self._day(d)
        day = self.feed.day_start(d).date().isoformat()

        def run(spark, tr):
            snapshots = spark.read.parquet(path)
            with tr.span("io.write_partitioned"):
                write_partitioned(snapshots, self.log, ts_col="timestamp",
                                  mode="append")

        def check(_):
            return checks.check_ingest(self.replay.con, self.log, day, path)

        return Op("ingest", rows, run, check)

    def _trips(self, d: int) -> Op:
        from pyspark.sql import functions as F

        from data_warehouse_spark.etl.trips import build_trips
        from data_warehouse_spark.operators.merge import (
            merge_into_partitioned,
        )
        end = self.feed.day_start(d + 1)
        start = end - self.WINDOW
        # Spark literals get explicit UTC instants: PySpark reads a naive
        # datetime in the driver's local zone
        utc_start, utc_end = (t.replace(tzinfo=dt.timezone.utc)
                              for t in (start, end))
        # rows the window scan returns: day d plus the tail of day d-1
        lo = np.datetime64(start, "us")
        rows = self._day(d)[1] + sum(int((ts >= lo).sum())
                                     for _, _, ts in self.days[max(0, d - 1):d])
        before: set[str] = set()

        def prepare():
            # the replay advances even if the op then fails, so a
            # failure is charged to its own op, not to later days
            files = [p for p, _, _ in self.days[max(0, d - 1):d + 1]]
            self.replay.apply(files, start, end)
            before.clear()
            before.update(_parquet_files(self.fact))

        def run(spark, tr):
            with tr.span("io.scan_log"):
                status = spark.read.parquet(self.log).filter(
                    (F.col("timestamp") >= F.lit(utc_start))
                    & (F.col("timestamp") < F.lit(utc_end))
                    # prune on the partition column, as run_incremental
                    & F.col("dt").between(start.date(), end.date()))
            with tr.span("etl.trips.build_trips"):
                trips = build_trips(status)
            with tr.span("operators.merge.merge_into_partitioned"):
                merge_into_partitioned(spark, self.fact, trips,
                                       keys=["bike_id", "trip_start"],
                                       ts_col="trip_start")

        def check(_):
            written = set(_parquet_files(self.fact)) - before
            self.rewritten.append(sum(os.path.getsize(f) for f in written))
            return self.replay.check_fact(self.fact)

        return Op("trips", rows, run, check, before=prepare)

    def notes(self) -> list[str]:
        r = self.replay
        return [f"trips at a duration bound (either side accepted): "
                f"{r.boundary_trips}, dropped by the program: "
                f"{r.boundary_dropped}"]

    def layer_metrics(self) -> dict:
        return {"etl.trips.boundary_dropped":
                    float(self.replay.boundary_dropped),
                "io.log_files": float(len(_parquet_files(self.log))),
                "operators.merge.fact_files":
                    float(len(_parquet_files(self.fact))),
                "operators.merge.bytes_rewritten":
                    float(np.median(self.rewritten)) if self.rewritten
                    else 0.0}


WORKLOADS = {"etl_daily": EtlDaily, "analytics": Analytics,
             "dedup_corpus": DedupCorpus}
