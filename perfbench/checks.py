"""Correctness checks, all run in DuckDB and never inside a timed span.

Results are compared by an order-insensitive digest in the
``tools/floorfree.digest_compare`` discipline: each row becomes one
canonical string (columns sorted by name, doubles as
FLOOR(x * 1e6 + 0.5), timestamps at microsecond precision, an explicit
NULL sentinel), and a relation reduces to (row count, two independent
60-bit md5 slice sums). Here both sides are reduced by DuckDB: the
oracle SQL over the generated inputs, and the program's Arrow result
(or written parquet) registered as a relation.
"""

from __future__ import annotations

import re

import duckdb

_SEP = "|~|"
_NULL = "<NULL>"


def connect(input_dir: str | None = None,
            tables: tuple[str, ...] = ()) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    return con


def _canon(name: str, spark_type: str) -> str:
    c = f'"{name}"'
    if spark_type in ("double", "float"):
        e = (f"CASE WHEN isnan({c}) THEN 'NaN' ELSE CAST(CAST("
             f"FLOOR({c} * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) END")
    elif spark_type.startswith("timestamp"):
        e = f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    elif spark_type == "date":
        e = f"strftime(CAST({c} AS DATE), '%Y-%m-%d')"
    elif spark_type == "boolean":
        e = f"CAST(CAST({c} AS INT) AS VARCHAR)"
    elif spark_type in ("tinyint", "smallint", "int", "bigint", "string"):
        e = f"CAST({c} AS VARCHAR)"
    else:
        raise ValueError(f"digest: unsupported type {spark_type} ({name})")
    return f"COALESCE({e}, '{_NULL}')"


def row_hash(fields: list[tuple[str, str]]) -> str:
    """SQL expression: md5 of one row's canonical string."""
    row = ", ".join(_canon(n, t) for n, t in sorted(fields))
    return f"md5(concat_ws('{_SEP}', {row}))"


def digest(con: duckdb.DuckDBPyConnection, relation_sql: str,
           fields: list[tuple[str, str]]) -> tuple[int, int, int]:
    """(count, d1, d2) of `relation_sql` over `fields` =
    [(column, spark simpleString type)]."""
    n, d1, d2 = con.execute(
        "SELECT COUNT(*), "
        "SUM(CAST('0x' || substr(h, 1, 15) AS BIGINT)), "
        "SUM(CAST('0x' || substr(h, 17, 15) AS BIGINT)) "
        f"FROM (SELECT {row_hash(fields)} AS h "
        f"FROM ({relation_sql}) AS __r) AS __h").fetchone()
    return int(n), int(d1 or 0), int(d2 or 0)


def arrow_digest(con, table, fields) -> tuple[int, int, int]:
    """Digest of an Arrow result (the program's output)."""
    con.register("__result", table)
    try:
        return digest(con, "SELECT * FROM __result", fields)
    finally:
        con.unregister("__result")


class OracleCache:
    """Registry query oracle digests, computed once per run per query
    on the same generated input the program reads."""

    def __init__(self, con, oracles: dict[str, str]):
        self.con = con
        self.oracles = oracles
        self.cache: dict[str, tuple[int, int, int]] = {}

    def check(self, query: str, table, fields) -> tuple[bool, str]:
        if query not in self.cache:
            self.cache[query] = digest(self.con, self.oracles[query], fields)
        want = self.cache[query]
        got = arrow_digest(self.con, table, fields)
        if got == want:
            return True, f"{got[0]} rows match the oracle"
        return False, f"digest mismatch: program={got} oracle={want}"


# --- x2: LSH is approximate by design -------------------------------

def _shingles(text: str, n: int = 3) -> set[str]:
    toks = re.split(r"\s+", text.strip().lower())
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def check_x2(table, texts: dict[int, str], planted: set[tuple[int, int]],
             threshold: float = 0.5) -> tuple[bool, str, float, int]:
    """Every planted within-corpus pair must be found, and every emitted
    pair must really be at or above the Jaccard threshold with the
    reported value. Returns (ok, message, planted recall, pairs out)."""
    ids_a = table.column("id_a").to_pylist()
    ids_b = table.column("id_b").to_pylist()
    jac = table.column("jaccard").to_pylist()
    pairs = {(min(a, b), max(a, b)) for a, b in zip(ids_a, ids_b)}
    recall = len(planted & pairs) / len(planted)
    bad = []
    for a, b, j in zip(ids_a, ids_b, jac):
        true_j = jaccard(texts[a], texts[b])
        if true_j < threshold or abs(true_j - j) > 1e-6:
            bad.append((a, b, j, true_j))
    ok = recall == 1.0 and not bad and len(pairs) == len(ids_a)
    msg = (f"planted recall {recall:.4f} ({len(planted & pairs)}/"
           f"{len(planted)}), {len(ids_a)} pairs, {len(bad)} below "
           f"threshold or misreported")
    return ok, msg, recall, len(ids_a)


# --- etl_daily: DuckDB replay of the daily job -----------------------

FACT_FIELDS = [
    ("bike_id", "string"), ("provider_id", "string"),
    ("trip_start", "timestamp"), ("trip_end", "timestamp"),
    ("start_lat", "double"), ("start_lon", "double"),
    ("end_lat", "double"), ("end_lon", "double"),
    ("total_duration", "double"), ("total_distance", "double"),
    ("segment_count", "bigint"),
]

_LOCAL = ("CAST((ts AT TIME ZONE 'UTC') "
          "AT TIME ZONE 'Europe/Zurich' AS TIMESTAMP)")
_HAVERSINE = ("6371.0*2*asin(least(sqrt(power(sin(radians(lat-prev_lat)/2),2)"
              "+cos(radians(prev_lat))*cos(radians(lat))"
              "*power(sin(radians(lon-prev_lon)/2),2)),1.0))")


# TripConfig's trip duration bounds (1 and 60 minutes), in microseconds
_BOUNDS_US = (60_000_000, 3_600_000_000)


class TripReplay:
    """The reference's daily trips job replayed in DuckDB: per window,
    sessionize the raw snapshots into one trip per bike (the
    etl.trips.build_trips semantics) and upsert into the fact table on
    (bike_id, trip_start), last writer wins.

    The replay keeps a trip whose exact duration, summed in integer
    microseconds, lies within the bounds. build_trips sums per-segment
    float minutes instead, so a trip whose exact duration equals a bound
    lands on either side of it, by summation order (60.00000000000001
    and 60.0 both occur). For a key written by such a boundary trip the
    check accepts any state the key can be in: its last row written by
    a trip off the bounds (or no row), or any boundary row since. Every
    other key must match exactly. Boundary trips are counted, and so is
    each one the program dropped."""

    def __init__(self):
        self.con = connect()
        self.con.execute("""CREATE TABLE fact (
            bike_id VARCHAR, provider_id VARCHAR,
            trip_start TIMESTAMP, trip_end TIMESTAMP,
            start_lat DOUBLE, start_lon DOUBLE,
            end_lat DOUBLE, end_lon DOUBLE,
            total_duration DOUBLE, total_distance DOUBLE,
            segment_count BIGINT)""")
        # candidate row hashes of keys written by a boundary trip; a NULL
        # hash stands for "no row"
        self.con.execute("CREATE TABLE alts (bike_id VARCHAR, "
                         "trip_start TIMESTAMP, h VARCHAR)")
        self.boundary_trips = 0
        self.boundary_dropped = 0

    def apply(self, day_files: list[str], start, end) -> None:
        files = ", ".join(f"'{f}'" for f in day_files)
        lo, hi = _BOUNDS_US
        self.con.execute(f"""
CREATE OR REPLACE TEMP TABLE batch AS
WITH utc AS (
    SELECT bike_id, provider_id, lat, lon,
           CAST("timestamp" AS TIMESTAMP) AS ts
    FROM read_parquet([{files}])
), src AS (
    SELECT *, {_LOCAL} AS local_time FROM utc WHERE ts >= ? AND ts < ?
), lagged AS (
    SELECT *, lag(local_time) OVER w AS prev_time,
           lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon
    FROM src WINDOW w AS (PARTITION BY bike_id ORDER BY ts)
), seg AS (
    SELECT bike_id, provider_id, local_time AS end_time,
           prev_time AS start_time, prev_lat AS start_lat,
           prev_lon AS start_lon, lat AS end_lat, lon AS end_lon,
           epoch_us(local_time) - epoch_us(prev_time) AS gap_us,
           {_HAVERSINE} AS distance_km
    FROM lagged
    WHERE prev_time IS NOT NULL
      AND (epoch_us(local_time) - epoch_us(prev_time)) / 1e6
          BETWEEN 60 AND 3600
      AND (prev_lat != lat OR prev_lon != lon)
)
SELECT bike_id, provider_id, MIN(start_time) AS trip_start,
       MAX(end_time) AS trip_end, MIN(start_lat) AS start_lat,
       MIN(start_lon) AS start_lon, MAX(end_lat) AS end_lat,
       MAX(end_lon) AS end_lon, SUM(gap_us) / 60e6 AS total_duration,
       SUM(distance_km) AS total_distance, COUNT(*) AS segment_count,
       SUM(gap_us) IN ({lo}, {hi}) AS boundary
FROM seg GROUP BY bike_id, provider_id
HAVING SUM(gap_us) BETWEEN {lo} AND {hi}
   AND SUM(distance_km) > 0 AND COUNT(*) >= 2""", [start, end])
        h = row_hash(FACT_FIELDS)
        # a key written off the bounds is settled again; a key a boundary
        # trip writes keeps its state so far as a candidate, plus the trip
        self.con.execute("""DELETE FROM alts USING batch
                            WHERE alts.bike_id = batch.bike_id
                              AND alts.trip_start = batch.trip_start
                              AND NOT batch.boundary""")
        self.con.execute(f"""
INSERT INTO alts
SELECT b.bike_id, b.trip_start, f.h
FROM batch b LEFT JOIN (SELECT bike_id, trip_start, {h} AS h FROM fact) f
  ON f.bike_id = b.bike_id AND f.trip_start = b.trip_start
WHERE b.boundary AND NOT EXISTS (
    SELECT 1 FROM alts a
    WHERE a.bike_id = b.bike_id AND a.trip_start = b.trip_start)""")
        self.con.execute(f"INSERT INTO alts SELECT bike_id, trip_start, {h} "
                         "FROM batch WHERE boundary")
        self.boundary_trips += self.con.execute(
            "SELECT COUNT(*) FROM batch WHERE boundary").fetchone()[0]
        self.con.execute("""DELETE FROM fact USING batch
                            WHERE fact.bike_id = batch.bike_id
                              AND fact.trip_start = batch.trip_start""")
        self.con.execute("INSERT INTO fact SELECT * EXCLUDE (boundary) "
                         "FROM batch")

    def check_fact(self, fact_dir: str) -> tuple[bool, str]:
        con = self.con
        h = row_hash(FACT_FIELDS)
        con.execute(f"""
CREATE OR REPLACE TEMP TABLE prog AS
SELECT *, {h} AS h FROM (
    SELECT * REPLACE (CAST(trip_start AS TIMESTAMP) AS trip_start)
    FROM read_parquet('{fact_dir}/*/*.parquet'))""")
        settled = ("WHERE NOT EXISTS (SELECT 1 FROM alts a WHERE "
                   "a.bike_id = r.bike_id AND a.trip_start = r.trip_start)")
        want = digest(con, f"SELECT * FROM fact r {settled}", FACT_FIELDS)
        got = digest(con, f"SELECT * FROM prog r {settled}", FACT_FIELDS)
        # per boundary key: the program holds one candidate row, or no
        # row where "no row" is a candidate
        bad, keys = con.execute("""
WITH k AS (
    SELECT bike_id, trip_start, bool_or(h IS NULL) AS may_be_absent
    FROM alts GROUP BY bike_id, trip_start
), held AS (
    SELECT k.bike_id, k.trip_start, k.may_be_absent, COUNT(p.h) AS n,
           COUNT(c.h) AS n_ok
    FROM k
    LEFT JOIN prog p
      ON p.bike_id = k.bike_id AND p.trip_start = k.trip_start
    LEFT JOIN (SELECT DISTINCT * FROM alts WHERE h IS NOT NULL) c
      ON c.bike_id = p.bike_id AND c.trip_start = p.trip_start
     AND c.h = p.h
    GROUP BY k.bike_id, k.trip_start, k.may_be_absent
)
SELECT COUNT(*) FILTER (WHERE NOT ((n = 1 AND n_ok = 1)
                                   OR (n = 0 AND may_be_absent))),
       COUNT(*)
FROM held""").fetchone()
        dropped = con.execute(f"""
SELECT COUNT(*)
FROM (SELECT bike_id, trip_start, {h} AS h FROM batch WHERE boundary) b
WHERE NOT EXISTS (
    SELECT 1 FROM prog p WHERE p.bike_id = b.bike_id
       AND p.trip_start = b.trip_start AND p.h = b.h)""").fetchone()[0]
        self.boundary_dropped += dropped
        if got == want and bad == 0:
            return True, (f"fact table matches the replay ({got[0]} trips "
                          f"off the bounds, {keys} boundary keys)")
        return False, (f"fact mismatch: program={got} replay={want}; "
                       f"{bad} of {keys} boundary keys hold no candidate")


def check_ingest(con, log_dir: str, day: str, day_file: str,
                 ) -> tuple[bool, str]:
    """The day's partition of the log holds exactly the day's input rows
    (count plus a sum of DuckDB row hashes over typed values)."""
    q = ("SELECT COUNT(*), SUM(hash(bike_id, CAST(\"timestamp\" AS TIMESTAMP),"
         " lat, lon)) FROM read_parquet('{}')")
    got = con.execute(q.format(f"{log_dir}/dt={day}/*.parquet")).fetchone()
    want = con.execute(q.format(day_file)).fetchone()
    if got == want:
        return True, f"dt={day}: {got[0]} rows landed"
    return False, f"dt={day}: log={got} input={want}"
