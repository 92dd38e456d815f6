"""Time/timezone column helpers.

The reference stores UTC `timestamp without time zone` and converts to
Europe/Zurich at query time (trips_lambda.py:99,102). Spark mapping:
session timezone pinned to UTC (session.py) and explicit
from_utc_timestamp at the edges.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LOCAL_TZ = "Europe/Zurich"


def to_local(ts: Column, tz: str = LOCAL_TZ) -> Column:
    """UTC-naive timestamp -> local wall-clock timestamp (still naive).

    Equivalent of `ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Zurich'`
    (trips_lambda.py:99,102).
    """
    return F.from_utc_timestamp(ts, tz)
