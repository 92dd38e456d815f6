"""The reference's trip reconstruction (trips_lambda.py:90-246) and
the one Spark implementation of its chain, `trip_chain`.

`build_trips` (the daily bike_status ETL) and the e-family's
`queries.sessions.trips_fact_from` are adapters: each projects its input
to pings and picks the window order, group keys and distance rounding.
Where the reference fetchall()s 24h of rows into Lambda memory and
upserts them back, here the run is one lazy chain ending in a
partition-scoped merge write; at 100 TB the 24h window prunes to 1-2
dt partitions and the window/groupBy shuffles hash on bike_id.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_spark.functions.geo import haversine_km
from data_warehouse_spark.functions.timeutils import to_local
from data_warehouse_spark.operators.merge import merge_into_partitioned


@dataclass(frozen=True)
class TripConfig:
    """Validity thresholds — the reference's semantic filters
    (trips_lambda.py:128,160-162)."""
    min_gap_s: float = 60.0
    max_gap_s: float = 3600.0
    min_duration_min: float = 1.0
    max_duration_min: float = 60.0
    min_segments: int = 2
    local_tz: str = "Europe/Zurich"


def trip_chain(pings: DataFrame, order_by: list[str], keys: list[str],
               cfg: TripConfig = TripConfig(),
               distance_dp: int | None = None) -> DataFrame:
    """pings(bike_id, provider_id, time, lat, lon, *order_by) -> one
    validated trip per `keys` group (trips_lambda.py:94-164): lag per
    bike in `order_by` order -> gap/movement filter -> haversine ->
    MIN/MAX/SUM/COUNT -> cfg's validity filter. With keys = [bike_id],
    provider_id is MIN(provider_id); `distance_dp` rounds the distance
    sum before its `> 0` filter."""
    w = Window.partitionBy("bike_id").orderBy(*order_by)
    lagged = pings.withColumns({
        "prev_time": F.lag("time").over(w),
        "prev_lat": F.lag("lat").over(w),
        "prev_lon": F.lag("lon").over(w),
    })

    # Reference-faithful, DELIBERATELY: build_trips' `time` is the DST-
    # shifted local wall clock the reference subtracts (trips_lambda.py:
    # 118,128), so a segment spanning a Europe/Zurich DST switch is off
    # by ±1h there and here alike.
    gap_us = F.unix_micros("time") - F.unix_micros("prev_time")
    segments = (
        lagged
        .filter(F.col("prev_time").isNotNull()
                & (gap_us / 1e6).between(cfg.min_gap_s, cfg.max_gap_s)
                & ((F.col("prev_lat") != F.col("lat"))
                   | (F.col("prev_lon") != F.col("lon"))))
        .select(
            "bike_id", "provider_id",
            F.col("time").alias("end_time"),
            F.col("prev_time").alias("start_time"),
            F.col("prev_lat").alias("start_lat"), F.col("prev_lon").alias("start_lon"),
            F.col("lat").alias("end_lat"), F.col("lon").alias("end_lon"),
            # integer µs until after the SUM: exact in any order, so an
            # exactly-60-min trip stays inside the inclusive bound
            gap_us.alias("duration_us"),
            haversine_km(F.col("prev_lat"), F.col("prev_lon"),
                         F.col("lat"), F.col("lon")).alias("distance_km"),
        )
    )

    # MIN/MAX per coordinate column, independently, as the reference
    # does (trips_lambda.py:139-142), even though that can pair a lat
    # and a lon from different segments.
    distance = F.sum("distance_km")
    if distance_dp is not None:
        distance = F.round(distance, distance_dp)
    provider = [] if "provider_id" in keys else [
        F.min("provider_id").alias("provider_id")]
    return (
        segments.groupBy(*keys)
        .agg(*provider,
             F.min("start_time").alias("trip_start"),
             F.max("end_time").alias("trip_end"),
             F.min("start_lat").alias("start_lat"),
             F.min("start_lon").alias("start_lon"),
             F.max("end_lat").alias("end_lat"),
             F.max("end_lon").alias("end_lon"),
             (F.sum("duration_us") / F.lit(60000000.0))
             .alias("total_duration"),
             distance.alias("total_distance"),
             F.count(F.lit(1)).alias("segment_count"))
        .filter(F.col("total_duration").between(cfg.min_duration_min,
                                                cfg.max_duration_min)
                & (F.col("total_distance") > 0)
                & (F.col("segment_count") >= cfg.min_segments))
    )


def build_trips(bike_status: DataFrame, cfg: TripConfig = TripConfig()) -> DataFrame:
    """bike_status(bike_id, provider_id, lat, lon, timestamp[, ...]) ->
    all_trips rows: times on the cfg.local_tz wall clock, lag ordered by
    the UTC `timestamp`, one trip per (bike_id, provider_id) per window."""
    pings = bike_status.select(
        "bike_id", "provider_id",
        to_local(F.col("timestamp"), cfg.local_tz).alias("time"),
        "lat", "lon", "timestamp")
    return trip_chain(pings, order_by=["timestamp"],
                      keys=["bike_id", "provider_id"], cfg=cfg)


def run_incremental(spark: SparkSession, source_path: str, target_path: str,
                    window_start: datetime, window_end: datetime,
                    cfg: TripConfig = TripConfig()) -> None:
    """The daily Lambda run (trips_lambda.py:212-246): scan the sliding
    window, rebuild trips, merge into the fact table keyed on
    (bike_id, trip_start) — idempotent re-runs, like ON CONFLICT."""
    status = spark.read.parquet(source_path)
    ts_filter = ((F.col("timestamp") >= F.lit(window_start))
                 & (F.col("timestamp") < F.lit(window_end)))
    if "dt" in status.columns:
        # partition pruning needs a predicate on the PARTITION column —
        # Spark cannot derive dt bounds from the timestamp filter, so
        # without this the daily run lists and opens every partition
        # of the table (O(table), not the promised O(1 day))
        ts_filter = ts_filter & F.col("dt").between(
            window_start.date(), window_end.date())
    status = status.filter(ts_filter)
    new_trips = build_trips(status, cfg)
    # Partition-scoped MERGE (operators/merge.py): only the dt
    # partitions the window's trips fall into are read and rewritten —
    # the daily run costs O(1 day), not O(table), at any fact size.
    merge_into_partitioned(spark, target_path, new_trips,
                           keys=["bike_id", "trip_start"],
                           ts_col="trip_start")
