"""Pipeline runner — the Spark replacement for the reference's Airflow DAG
(workfile_populate_data_warehouse.py:934-1030):

    refresh_raw_census   >> staging_census  >> dim_census
    refresh_raw_location >> staging_location >> fact_listing
    refresh_raw_listing  >> staging_listing  >> fact_listing
    fact_listing >> {kpi1, kpi1_raw, kpi2, kpi3}

Airflow's process/network task boundary collapses to Python call ordering;
Spark's lazy plans already encode intra-query dependencies, and each layer
can optionally be persisted (saveAsTable/parquet) to keep the reference's
restartable-layer property.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from ..sources.csv import read_positional_csv
from . import adhoc, datamart, staging, warehouse

# file patterns, as the reference's external-table PATTERNs
# (workfile_design_data_warehouse.sql:104-128)
RAW_GLOBS = {
    "listing": "*listings*.csv",
    "census_g01": "*G01*.csv",
    "census_g02": "*G02*.csv",
    "lga": "*LGA*.csv",
    "ssc": "*SSC*.csv",
}

# fixed positional widths of the reference's external tables
# (design.sql:49-95) — lets the CSV reads carry explicit schemas so plan
# construction schedules no header-discovery jobs
RAW_WIDTHS = {
    "listing": 74,
    "census_g01": 70,
    "census_g02": 9,
    "lga": 3,
    "ssc": 6,
}


@dataclass
class PipelineResult:
    staging_census: DataFrame
    staging_location: DataFrame
    staging_listing: DataFrame
    dim_census: DataFrame
    fact_listing: DataFrame

    # KPI plans build on first access: each is ~0.8 s of driver-side plan
    # construction (4-way FULL JOIN of sub-aggregates), which should bill
    # to the consumer that runs it, not to the ELT critical path
    @cached_property
    def kpi_neighbourhood_month(self) -> DataFrame:
        return datamart.kpi_neighbourhood_month(self.fact_listing)

    @cached_property
    def kpi_neighbourhood_month_raw(self) -> DataFrame:
        return datamart.kpi_neighbourhood_month_raw(self.fact_listing)

    @cached_property
    def kpi_property_month(self) -> DataFrame:
        return datamart.kpi_property_month(self.fact_listing)

    @cached_property
    def kpi_host_neighbourhood_month(self) -> DataFrame:
        return datamart.kpi_host_neighbourhood_month(self.fact_listing)


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    persist_dir: str | None = None,
    register_views: bool = True,
    csv_max_partition_bytes: str | None = "16m",
) -> PipelineResult:
    """Execute the full ELT flow over a directory of raw CSVs.

    ``persist_dir``: if given, staging+warehouse layers are materialized as
    parquet (fact partitioned by file_date) and re-read — the reference's
    layer-materialization property (design.sql:140,164,187; SURVEY §4.1);
    otherwise everything stays one lazy plan.

    ``csv_max_partition_bytes``: split size for the raw CSV scans (session
    conf ``spark.sql.files.maxPartitionBytes``, runtime-settable). Monthly
    listing files are ~25 MB, so the 128 MB default yields about one parse
    task per file and idles most cores; 16 MB splits each file so the
    parse — the ELT's dominant cost — uses the whole machine. Pass None to
    leave the session default untouched (e.g. on a cluster tuned already).
    """
    if csv_max_partition_bytes:
        spark.conf.set("spark.sql.files.maxPartitionBytes", csv_max_partition_bytes)
    raw = {
        name: read_positional_csv(spark, data_dir, glob=glob, n_cols=RAW_WIDTHS[name])
        for name, glob in RAW_GLOBS.items()
    }

    st_census = staging.build_staging_census(raw["census_g01"], raw["census_g02"])
    st_location = staging.build_staging_location(raw["ssc"], raw["lga"])
    st_listing = staging.build_staging_listing(raw["listing"])

    if persist_dir:
        base = persist_dir.rstrip("/")
        # Cache the parsed listing rows: the CSV parse (the ELT's dominant
        # cost) runs ONCE and feeds both the staging parquet write and the
        # fact build; the parquet layer is still written, so the
        # restartable-layer property is unchanged. All four layer writes
        # run as concurrent Spark jobs — the fact write consumes cached
        # blocks as the staging write materializes them (BlockManager
        # computes each cached partition exactly once; concurrent readers
        # block per-partition, which pipelines the two jobs instead of
        # serializing them).
        st_listing_cached = st_listing.persist()
        fact_plan = warehouse.build_fact_listing(st_listing_cached, st_location)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(4) as pool:
            jobs = [
                pool.submit(
                    lambda df, p: df.write.mode("overwrite").parquet(p), df, f"{base}/{name}"
                )
                for name, df in (
                    ("staging_census", st_census),
                    ("staging_location", st_location),
                    ("staging_listing", st_listing_cached),
                )
            ]
            jobs.append(
                pool.submit(warehouse.write_fact_partitioned, fact_plan, f"{base}/fact_listing")
            )
            for j in jobs:
                j.result()
        st_listing_cached.unpersist()
        # hand back the materialized layers so downstream consumers restart
        # from disk like the reference's staging/warehouse tables
        st_census = spark.read.parquet(f"{base}/staging_census")
        st_location = spark.read.parquet(f"{base}/staging_location")
        st_listing = spark.read.parquet(f"{base}/staging_listing")
        fact = spark.read.parquet(f"{base}/fact_listing")
        dim_census = warehouse.build_dim_census(st_census)
    else:
        dim_census = warehouse.build_dim_census(st_census)
        fact = warehouse.build_fact_listing(st_listing, st_location)

    result = PipelineResult(
        staging_census=st_census,
        staging_location=st_location,
        staging_listing=st_listing,
        dim_census=dim_census,
        fact_listing=fact,
    )
    if register_views:
        for name in (
            "staging_census",
            "staging_location",
            "staging_listing",
            "dim_census",
            "fact_listing",
            "kpi_neighbourhood_month",
            "kpi_neighbourhood_month_raw",
            "kpi_property_month",
            "kpi_host_neighbourhood_month",
        ):
            getattr(result, name).createOrReplaceTempView(name)
    return result


def append_month(
    spark: SparkSession,
    data_dir: str,
    persist_dir: str,
    listing_glob: str,
) -> DataFrame:
    """Incremental monthly load — the Spark-idiomatic form of the
    reference's per-file external-table refresh + re-run
    (workfile_populate_data_warehouse.py:176-178, 1024-1030).

    Reads ONLY the new month's listing file(s) (``listing_glob``), rebuilds
    the cheap dimension inputs (census/location are small and static), and
    appends exactly the new ``file_date`` partition(s) to the persisted
    fact table with dynamic partition overwrite — existing partitions are
    untouched, nothing is recomputed.
    """
    raw_listing = read_positional_csv(
        spark, data_dir, glob=listing_glob, n_cols=RAW_WIDTHS["listing"]
    )
    st_listing = staging.build_staging_listing(raw_listing)
    st_location = staging.build_staging_location(
        read_positional_csv(spark, data_dir, glob=RAW_GLOBS["ssc"], n_cols=RAW_WIDTHS["ssc"]),
        read_positional_csv(spark, data_dir, glob=RAW_GLOBS["lga"], n_cols=RAW_WIDTHS["lga"]),
    )
    new_fact = warehouse.build_fact_listing(st_listing, st_location)
    new_fact.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("file_date").parquet(f"{persist_dir.rstrip('/')}/fact_listing")
    return spark.read.parquet(f"{persist_dir.rstrip('/')}/fact_listing")


def run_adhoc(result: PipelineResult) -> dict[str, DataFrame]:
    """The four ad-hoc analyses (workfile_ad-hoc_analysis.sql)."""
    return {
        "a_best_worst_demographics": adhoc.query_a_best_worst_demographics(
            result.fact_listing, result.dim_census
        ),
        "b_best_listing_type_top5": adhoc.query_b_best_listing_type_top5(result.fact_listing),
        "c_same_neighbourhood": adhoc.query_c_same_neighbourhood(result.fact_listing),
        "d_mortgage_coverage": adhoc.query_d_mortgage_coverage(
            result.fact_listing, result.dim_census
        ),
    }
