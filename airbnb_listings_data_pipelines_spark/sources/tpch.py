"""Loaders for the driver's deterministic parquet testdata
(``/root/testdata/sf*/{region,nation,customer,supplier,part,orders,lineitem,
events,documents,embeddings}.parquet`` — see TESTDATA.md).

Scale notes: parquet scans here go through the vectorized reader with column
pruning + predicate pushdown; at 100 TB the same code reads a partitioned
table directory instead of one file — nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_workers_can_import

TPCH_TABLES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing quirks so downstream plans see
    clean types.

    - ``events.ts`` arrives in one of three physical forms depending on the
      driver's generator version, all normalized here to a session-tz
      (UTC) microsecond TIMESTAMP so every consumer — including
      ``unix_micros``, which rejects TIMESTAMP_NTZ — sees one type:
      TIMESTAMP(NANOS) surfaced as a long under
      ``spark.sql.legacy.parquet.nanosAsLong`` (rounds 1-2),
      TIMESTAMP(MICROS, NTZ) read natively (round 3+), or an already-LTZ
      timestamp. With the UTC session timezone the NTZ->LTZ cast is
      wall-clock-identical, and aggregations only ever bucket at >= second
      granularity, so nanosecond truncation is semantics-free.
    """
    if name == "events":
        # runtime-settable; required even when the caller's session builder
        # didn't set it (e.g. the driver's own SparkSession)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_workers_can_import(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division, not float: epoch-ns (~1.7e18) exceeds double's
            # 53-bit exact range, so `/1000` could be off by 1µs near boundaries
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table and register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TPCH_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
