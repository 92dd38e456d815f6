"""End-to-end test of the trip-reconstruction ETL library on a
synthetic bike_status log with known ground truth."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from pyspark.sql import Row

from data_warehouse_spark.etl.trips import TripConfig, build_trips, run_incremental


def _status_rows():
    """One bike making a clean 3-segment trip (5-min gaps, moving),
    one bike parked (no movement), one bike with too-long gaps."""
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = []
    # moving bike: 4 pings, 5 min apart, moving each time
    for i in range(4):
        rows.append(Row(bike_id="m1", provider_id="p", lat=47.0 + i * 0.01,
                        lon=8.0 + i * 0.01,
                        timestamp=t0 + dt.timedelta(minutes=5 * i)))
    # parked bike: pings but no movement
    for i in range(4):
        rows.append(Row(bike_id="parked", provider_id="p", lat=46.0, lon=7.0,
                        timestamp=t0 + dt.timedelta(minutes=5 * i)))
    # sparse bike: gaps of 2h -> outside max_gap
    for i in range(3):
        rows.append(Row(bike_id="sparse", provider_id="p", lat=45.0 + i * 0.1,
                        lon=6.0 + i * 0.1,
                        timestamp=t0 + dt.timedelta(hours=2 * i)))
    return rows


def test_build_trips_ground_truth(spark):
    status = spark.createDataFrame(_status_rows())
    trips = build_trips(status).collect()
    assert len(trips) == 1
    t = trips[0]
    assert t.bike_id == "m1"
    assert t.segment_count == 3
    assert abs(t.total_duration - 15.0) < 1e-9
    assert t.total_distance > 0


def test_build_trips_keeps_exact_hour_trip(spark):
    """A trip whose segment gaps sum to exactly 3,600 s is 60.0 minutes
    and sits on the inclusive max_duration_min bound. Summed as float
    minutes these gaps give 60.00000000000001 and the trip is dropped;
    the duration must be summed exactly."""
    t0 = dt.datetime(2024, 6, 3, 8, 0, 0)
    gaps = [680, 725, 688, 643, 695, 169]
    assert sum(gaps) == 3600
    offsets = [0]
    for g in gaps:
        offsets.append(offsets[-1] + g)
    rows = [Row(bike_id="h1", provider_id="p", lat=47.0 + i * 0.01,
                lon=8.0, timestamp=t0 + dt.timedelta(seconds=off))
            for i, off in enumerate(offsets)]
    trips = build_trips(spark.createDataFrame(rows)).collect()
    assert len(trips) == 1
    assert trips[0].segment_count == 6
    assert trips[0].total_duration == 60.0


def test_run_incremental_idempotent(spark):
    base = tempfile.mkdtemp(prefix="dws_etl_")
    shutil.rmtree(base, ignore_errors=True)
    src, dst = base + "/status", base + "/trips"
    spark.createDataFrame(_status_rows()).write.parquet(src)
    w0 = dt.datetime(2024, 3, 1)
    w1 = dt.datetime(2024, 3, 2)
    run_incremental(spark, src, dst, w0, w1)
    first = spark.read.parquet(dst).collect()
    run_incremental(spark, src, dst, w0, w1)  # daily re-run over same window
    second = spark.read.parquet(dst).collect()
    assert len(first) == len(second) == 1
    assert first[0].asDict() == second[0].asDict()


def test_e3_enriched_trips_schema_and_semantics(spark, sf_dir):
    """e3 fills every all_trips column (trips_lambda.py:52-84); trips
    whose start point falls outside every region keep NULL enrichment
    (the reference's own unfilled-column behavior), and weather values
    come from a reading at-or-before trip_start."""
    from data_warehouse_spark.queries.sessions import e3_enriched_trips, trips_fact

    out = e3_enriched_trips(spark, sf_dir)
    assert out.columns == [
        "bike_id", "provider_id", "trip_start", "trip_end",
        "start_lat", "start_lon", "end_lat", "end_lon",
        "total_duration", "total_distance", "segment_count",
        "municipality", "canton", "vehicle_type", "city",
        "temperature", "humidity", "aqi", "pm25",
    ]
    rows = out.collect()
    n_trips = trips_fact(spark, sf_dir).count()
    assert len(rows) == n_trips  # left joins never drop or duplicate trips
    for r in rows:
        # municipality/canton/city travel together (one region dim row)
        assert (r.municipality is None) == (r.canton is None) == (r.city is None)
        # weather only attaches to trips inside a region
        if r.municipality is None:
            assert r.temperature is None and r.aqi is None
        # vehicle_type dim covers every provider_id in the fixture
        assert r.vehicle_type is not None


def test_trips_fact_from_matches_e1_oracle_on_edge_inputs(spark):
    """The shared trip chain on inputs the driver fixtures never hold,
    checked row for row against the e1 oracle's DuckDB chain:
      - bike 1 has two pings at the same ts, ordered only by event_id
        (the other order pairs different points and changes MIN(start_lat));
      - bike 2 rides exactly 60 min (kept: the bound is inclusive);
      - bike 3 rides 60 min + 1 s (dropped);
      - bike 4 has a tied ping that does not move (a 0 s gap, filtered)."""
    import duckdb

    from data_warehouse_spark.queries.sessions import (
        _E1_FACT_SQL, _PLANTED_COLS, _planted_events_df, trips_fact_from,
    )
    from tools.parity import compare

    t0 = dt.datetime(2024, 5, 6, 7, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (1, "click", at(0), 1.0, 10),
        (1, "click", at(300), 3.0, 21),
        (1, "click", at(300), 2.0, 20),
        (1, "view", at(600), 4.0, 30),
    ]
    for bike, gaps in ((2, [680, 725, 688, 643, 695, 169]),
                       (3, [680, 725, 688, 643, 695, 170])):
        off = 0
        for i, g in enumerate([0, *gaps]):
            off += g
            rows.append((bike, "error", at(off), 10.0 + bike + i, 1000 * bike + i))
    rows += [(4, "view", at(0), 5.0, 40), (4, "view", at(120), 6.0, 41),
             (4, "view", at(120), 6.0, 42), (4, "view", at(240), 7.0, 43)]
    schema = "user_id long, event_type string, ts timestamp, value double, event_id long"
    events = spark.createDataFrame(rows, schema)

    got = trips_fact_from(
        events.unionByName(_planted_events_df(spark))).toPandas()

    con = duckdb.connect()
    con.register("events_rows", events.select(*_PLANTED_COLS).toPandas())
    con.sql("CREATE VIEW events AS SELECT * FROM events_rows")
    want = con.sql(_E1_FACT_SQL + "SELECT * FROM trips_fact").df()

    ok, msg = compare(got, want)
    assert ok, msg
    bikes = dict(zip(got.bike_id, got.total_duration))
    assert bikes[2] == 60.0 and 3 not in bikes
    assert {1, 4} <= set(bikes)
