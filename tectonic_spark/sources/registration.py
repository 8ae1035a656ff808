"""Register the tectonic DataSources on a SparkSession.

Filter pushdown into Python data sources is gated by
``spark.sql.python.filterPushdown.enabled`` — a **static** conf (set at
session build; :func:`tectonic_spark.get_spark` turns it on, Spark's default
is off). PySpark's planning worker *rejects* any reader class that overrides
``pushFilters`` while the conf is off, and the worker that instantiates the
reader cannot see the conf — so the decision is made here, driver-side, with
the session in hand: probe the conf once and register the Pushdown variant
of each source only when pushdown is actually on. Either variant serves the
same format names; without pushdown Catalyst simply applies filters above
the scan (identical results, only the byte-skip I/O savings are lost).

The planner packs small files into about one task per core, and the core
count is the session's ``defaultParallelism``, also known only here. It is
recorded on a ``type()``-built subclass of each source, which Spark pickles
by value, so the planning worker sees it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _filter_pushdown_on(spark: SparkSession) -> bool:
    try:
        v = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    except Exception:
        return False
    return str(v).lower() == "true"


def register_tectonic_sources(spark: SparkSession) -> SparkSession:
    if _filter_pushdown_on(spark):
        from tectonic_spark.sources.csv_source import TectonicCsvPushdownDataSource as csv_cls
        from tectonic_spark.sources.json_source import TectonicJsonPushdownDataSource as json_cls
    else:
        from tectonic_spark.sources.csv_source import TectonicCsvDataSource as csv_cls
        from tectonic_spark.sources.json_source import TectonicJsonDataSource as json_cls
    parallelism = spark.sparkContext.defaultParallelism
    for cls in (json_cls, csv_cls):
        spark.dataSource.register(type(cls.__name__, (cls,), {"parallelism": parallelism}))
    return spark
