"""Table catalog over the driver's parquet testdata.

Schemas per FIXTURES.md §4. Parquet scans are schema'd at the source
so Catalyst gets column pruning + predicate pushdown for free; at
100 TB the same ``spark.read.parquet`` call reads a partitioned
table and partition pruning applies without code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Columns written as parquet TIMESTAMP(NANOS) — Spark has no nanosecond
# timestamp type, so these read as bigint (nanosAsLong) and are converted
# to TIMESTAMP_NTZ at microsecond precision, matching what DuckDB/Arrow
# produce when they truncate nanos to micros. The conversion is pure NTZ
# arithmetic: no session-timezone dependence.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # TIMESTAMP(NANOS) columns need this runtime read conf, but only
    # during the (eager) schema analysis of the read call — the scan
    # captures it into the plan. Scope it: set, read, restore, so the
    # session-wide parquet behavior outside this call is untouched.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    dtypes = dict(df.dtypes)
    for col in _NANO_TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            df = df.withColumn(
                col,
                F.expr(
                    f"timestampadd(MICROSECOND, `{col}` div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
