"""Seeded input generator for the benchmark workloads.

Every table is written with numpy + pyarrow (no Spark), so generation
never shares a JVM with the measured program. The seed varies the data
itself, not only its order: key salts, value draws, the alphabet that
spells the corpus vocabulary, and the simulated calendar all come from
``--seed``. The schemas match the fixture tables the registry queries
read (``{dir}/{table}.parquet``, naive microsecond timestamps), written
as directories of part files so scans split across cores.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed per workload (only values vary with the seed), so
# rows_per_s compares like with like across seeds and commits.
ANALYTICS_SIZES = {"customer": 15_000, "orders": 150_000,
                   "lineitem": 600_000, "events": 100_000,
                   "users": 1_500}
DOC_COUNT = 6_000
DOC_PLANTED_PAIRS = 300
VOCAB_SIZE = 3_000
ETL_BIKES = 1_500
ETL_PERIOD_S = 600          # one snapshot per bike every 10 minutes

_FILES = 4                  # part files per large table


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str, files: int = 1) -> tuple[int, int]:
    """Write `table` as `files` part files under directory `path`;
    returns (rows, bytes on disk)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    cuts = np.linspace(0, n, files + 1).astype(int)
    size = 0
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), f,
                       compression="snappy")
        size += os.path.getsize(f)
    return n, size


def _ts(base: np.datetime64, offsets_us: np.ndarray,
        tz: str | None = None) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us", tz=tz))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal money values, exact as value/100 (cents() recovers
    the integer in both engines)."""
    return rng.integers(lo, hi, n) / 100.0


def gen_analytics(out: str, seed: int) -> dict[str, tuple[int, int]]:
    """Star schema + events log for the analytics workload."""
    s = ANALYTICS_SIZES
    stats = {}
    rng = _rng(seed, 1)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    rng.shuffle(regions)
    stats["region"] = _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": regions}), f"{out}/region.parquet")
    stats["nation"] = _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())}),
        f"{out}/nation.parquet")

    n_c = s["customer"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                         "HOUSEHOLD", "MACHINERY"])
    stats["customer"] = _write(pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_c),
        "c_mktsegment": segments[rng.integers(0, 5, n_c)]}),
        f"{out}/customer.parquet")

    rng = _rng(seed, 2)
    n_o = s["orders"]
    salt = int(rng.integers(1, 1_000))
    okeys = rng.permutation(n_o).astype(np.int64) * 1_000 + salt
    # customers are skewed: a Zipf-ish head orders far more often
    cust = (rng.pareto(1.2, n_o) * n_c / 20).astype(np.int64) % n_c
    odate = rng.integers(0, 2_404, n_o)          # 1995-01-01 .. 2001-08
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
    stats["orders"] = _write(pa.table({
        "o_orderkey": okeys,
        "o_custkey": cust,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_o),
        "o_orderdate": _ts(day0, odate * 86_400_000_000),
        "o_orderpriority": priorities[rng.integers(0, 5, n_o)]}),
        f"{out}/orders.parquet", _FILES)

    rng = _rng(seed, 3)
    n_l = s["lineitem"]
    pick = rng.integers(0, n_o, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ship = odate[pick] + rng.integers(1, 122, n_l)
    stats["lineitem"] = _write(pa.table({
        "l_orderkey": okeys[pick],
        "l_partkey": rng.integers(0, 20_000, n_l),
        "l_suppkey": rng.integers(0, 1_000, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(day0, ship * 86_400_000_000)}),
        f"{out}/lineitem.parquet", _FILES)

    stats["events"] = _write(_events(seed, s["events"], s["users"]),
                             f"{out}/events.parquet", _FILES)
    return stats


def _events(seed: int, n: int, users: int) -> pa.Table:
    rng = _rng(seed, 4)
    salt = int(rng.integers(1, 1_000))
    start = np.datetime64("2024-01-01T00:00:00", "us") \
        + np.timedelta64(int(rng.integers(0, 60)), "D")
    types = np.array(["click", "error", "purchase", "signup", "view"])
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": rng.permutation(n).astype(np.int64) * 1_000 + salt,
        "ts": _ts(start, rng.integers(0, 30 * 86_400_000_000, n)),
        "user_id": rng.integers(0, users, n).astype(np.int64) * 7 + salt % 7,
        "event_type": types[rng.integers(0, 5, n)],
        "value": _cents(rng, 0, 56_022, n),
        "props": [f'{{"k": {v}}}' for v in k]})


def gen_documents(out: str, seed: int):
    """Text corpus for the dedup workload, with planted near-duplicate
    pairs (a document plus a copy with one appended token: Jaccard of
    3-word shingles >= 48/49, far above x2's 0.5 threshold).

    Returns (stats, texts by doc_id, planted (id_a, id_b) pairs)."""
    rng = _rng(seed, 5)
    alpha = np.array(list("etaoinshrdlucmfwypvbgkqjxz"))
    perm = rng.permutation(alpha)             # seed-chosen spelling
    lens = rng.integers(2, 9, VOCAB_SIZE)
    letters = perm[np.minimum(rng.zipf(1.6, lens.sum()) - 1, 25)]
    vocab = np.array(["".join(w) for w in
                      np.split(letters, np.cumsum(lens)[:-1])])
    vocab = np.unique(vocab)
    # Zipf word frequencies over the (shuffled) vocabulary
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    weights /= weights.sum()
    rng.shuffle(vocab)

    n_base = DOC_COUNT - DOC_PLANTED_PAIRS
    doc_len = rng.integers(10, 100, n_base)
    # planted originals are drawn from documents of >= 50 tokens
    long_docs = np.flatnonzero(doc_len >= 50)
    originals = rng.choice(long_docs, DOC_PLANTED_PAIRS, replace=False)
    words = vocab[rng.choice(len(vocab), doc_len.sum(), p=weights)]
    texts = [" ".join(t) for t in np.split(words, np.cumsum(doc_len)[:-1])]
    extra = vocab[rng.choice(len(vocab), DOC_PLANTED_PAIRS, p=weights)]
    texts += [f"{texts[o]} {w}" for o, w in zip(originals, extra)]

    salt = int(rng.integers(1, 1_000))
    ids = rng.permutation(DOC_COUNT).astype(np.int64) * 1_000 + salt
    planted = {tuple(sorted((int(ids[o]), int(ids[n_base + i]))))
               for i, o in enumerate(originals)}
    order = rng.permutation(DOC_COUNT)          # interleave the copies
    langs = np.array(["de", "en", "es", "fr", "zh"])
    tbl = pa.table({
        "doc_id": ids[order],
        "text": [texts[i] for i in order],
        "lang": langs[rng.integers(0, 5, DOC_COUNT)],
        "source": [f"src{i % 20}" for i in range(DOC_COUNT)],
        "n_chars": np.array([len(texts[i]) for i in order], np.int64)})
    stats = {"documents": _write(tbl, f"{out}/documents.parquet", _FILES)}
    by_id = {int(ids[i]): texts[i] for i in range(DOC_COUNT)}
    return stats, by_id, planted


class BikeFeed:
    """Day-by-day GBFS-style bike_status snapshots (the reference's
    bike_status log): every bike reports every ETL_PERIOD_S seconds
    with jitter; a bike that is being ridden moves between snapshots,
    a parked bike repeats its position exactly. Days are generated in
    order because positions carry over midnight."""

    def __init__(self, seed: int):
        self.rng = _rng(seed, 6)
        r = self.rng
        # June start: no Europe/Zurich DST transition inside the run
        self.day0 = np.datetime64("2024-06-01T00:00:00", "us") \
            + np.timedelta64(int(r.integers(0, 20)), "D")
        salt = int(r.integers(1 << 16, 1 << 20))
        providers = np.array(["bolt", "lime", "tier", "voi"])
        self.provider = providers[r.integers(0, 4, ETL_BIKES)]
        self.bike_id = np.array([f"{p}-{salt + 7919 * i:x}" for i, p in
                                 enumerate(self.provider)])
        # offset + jitter < period keeps every snapshot inside its UTC
        # day, so each day lands in exactly one dt partition
        self.offset_s = r.integers(0, ETL_PERIOD_S - 30, ETL_BIKES)
        self.lat = 47.30 + r.random(ETL_BIKES) * 0.15
        self.lon = 8.45 + r.random(ETL_BIKES) * 0.20
        self.next_day = 0

    def day_start(self, d: int) -> dt.datetime:
        return (self.day0 + np.timedelta64(d, "D")).astype(dt.datetime)

    def day(self, d: int) -> pa.Table:
        if d != self.next_day:
            raise ValueError(f"day {d} requested before day {self.next_day}")
        self.next_day += 1
        r = self.rng
        per = 86_400 // ETL_PERIOD_S
        b = ETL_BIKES
        # ride mask: ~1.5 rides per bike-day, 1-4 snapshots long
        n_rides = r.poisson(1.5 * b)
        who = r.integers(0, b, n_rides)
        first = r.integers(0, per, n_rides)
        last = np.minimum(first + r.integers(1, 5, n_rides), per)
        edge = np.zeros((b, per + 1), np.int32)
        np.add.at(edge, (who, first), 1)
        np.add.at(edge, (who, last), -1)
        riding = np.cumsum(edge[:, :per], axis=1) > 0
        step_lat = r.normal(0, 0.002, (b, per)) * riding
        step_lon = r.normal(0, 0.003, (b, per)) * riding
        lat = self.lat[:, None] + np.cumsum(step_lat, axis=1)
        lon = self.lon[:, None] + np.cumsum(step_lon, axis=1)
        self.lat, self.lon = lat[:, -1], lon[:, -1]
        # whole-second times: jitter keeps gaps inside (60, 3600) s
        secs = (self.offset_s[:, None] + ETL_PERIOD_S * np.arange(per)
                + r.integers(0, 30, (b, per)))
        base = self.day0 + np.timedelta64(d, "D")
        return pa.table({
            "bike_id": np.repeat(self.bike_id, per),
            "provider_id": np.repeat(self.provider, per),
            "lat": lat.ravel(), "lon": lon.ravel(),
            "is_reserved": riding.ravel(),
            "is_disabled": r.random(b * per) < 0.01,
            # instants (isAdjustedToUTC), as a feed collector writes them
            "timestamp": _ts(base, secs.ravel() * 1_000_000, tz="UTC")})
