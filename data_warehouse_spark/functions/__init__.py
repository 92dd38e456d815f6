from data_warehouse_spark.functions.geo import haversine_km  # noqa: F401
from data_warehouse_spark.functions.timeutils import to_local  # noqa: F401
