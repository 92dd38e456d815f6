from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from data_warehouse_spark.operators.sessionize import sessionize, with_session_id


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, 0)


def test_session_ids_increment_on_gap(spark):
    rows = [
        Row(k="a", ts=_ts(0), v=1.0),
        Row(k="a", ts=_ts(1), v=1.0),   # gap 60s  -> same session
        Row(k="a", ts=_ts(30), v=1.0),  # gap 29m  -> new session (gap=600s)
        Row(k="b", ts=_ts(5), v=1.0),   # separate key
    ]
    df = spark.createDataFrame(rows)
    out = with_session_id(df, key="k", ts="ts", gap_seconds=600).collect()
    by = {(r.k, r.ts.minute): r.session_id for r in out}
    assert by[("a", 0)] == 1
    assert by[("a", 1)] == 1
    assert by[("a", 30)] == 2
    assert by[("b", 5)] == 1


def test_sessionize_aggregates_and_min_events(spark):
    rows = [
        Row(k="a", ts=_ts(0), v=2.0),
        Row(k="a", ts=_ts(1), v=3.0),
        Row(k="a", ts=_ts(30), v=9.0),  # singleton session -> dropped
    ]
    df = spark.createDataFrame(rows)
    out = sessionize(df, key="k", ts="ts", gap_seconds=600, value="v").collect()
    assert len(out) == 1
    s = out[0]
    assert s.n_events == 2
    assert s.sum_value == 5.0
    assert s.duration_sec == 60.0


def test_sessionize_invariant_gaps_bounded(spark, sf_dir):
    """Within a session, every inter-event gap <= threshold -> session
    duration <= (n_events - 1) * gap."""
    from data_warehouse_spark.io import load_table
    events = load_table(spark, sf_dir, "events")
    out = sessionize(events, key="user_id", ts="ts", gap_seconds=14400,
                     value="value", order_tiebreak="event_id").collect()
    assert len(out) > 0
    for r in out:
        assert r.duration_sec <= (r.n_events - 1) * 14400


def test_session_ids_match_session_window(spark, sf_dir):
    """with_session_id assigns exactly the groups of
    F.session_window(ts, '4 hours') over the events fixture plus one
    planted user whose gaps sit on and around the 4 h bound: a gap of
    exactly 4 h continues the session in both, 4 h + 1 µs splits it."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.io import load_table

    t0 = dt.datetime(2024, 2, 1, 0, 0, 0)
    offsets = [dt.timedelta(hours=h) for h in (0, 4, 8)] + [
        dt.timedelta(hours=12, microseconds=1),
        dt.timedelta(hours=16), dt.timedelta(hours=16)]
    planted = spark.createDataFrame(
        [(-1, t0 + off, -(i + 1)) for i, off in enumerate(offsets)],
        "user_id long, ts timestamp, event_id long")
    events = (load_table(spark, sf_dir, "events")
              .select("user_id", "ts", "event_id").unionByName(planted))

    def groups(df, key):
        return {(r.user_id, frozenset(r.ids)) for r in
                df.groupBy("user_id", key)
                .agg(F.collect_list("event_id").alias("ids")).collect()}

    lag_chain = groups(with_session_id(events, "user_id", "ts", 14400,
                                       order_tiebreak="event_id"),
                       "session_id")
    native = groups(events, F.session_window("ts", "4 hours"))
    assert lag_chain == native
    assert (-1, frozenset({-1, -2, -3})) in native     # exact 4 h gaps join
    assert (-1, frozenset({-4, -5, -6})) in native     # 4 h + 1 µs splits
    assert any(len(ids) > 1 for u, ids in native if u >= 0)
