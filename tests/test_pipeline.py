"""End-to-end tests of the reference pipeline over FIXTURES.md-shaped CSVs.

Expected values are hand-derived from the fixture construction (see
fixtures.py docstring for the LGA map and edge-case inventory).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.plans.pipeline import run_adhoc, run_pipeline

from .fixtures import write_fixtures


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    data_dir = write_fixtures(tmp_path_factory.mktemp("airbnb_raw"))
    # persist_dir materializes staging+warehouse ONCE (the reference's
    # own layer-materialization property) — without it every test's
    # collect re-runs the CSV parse + join lineage from scratch, ~70 s
    # of recompute across the module (guide §5)
    return run_pipeline(
        spark,
        data_dir,
        persist_dir=str(tmp_path_factory.mktemp("pipe_persist")),
        register_views=False,
    )


# --- staging ---------------------------------------------------------------


def test_staging_census_full_join(pipe):
    rows = {r.lga_code: r for r in pipe.staging_census.collect()}
    assert rows[10001].tot_p_p == 10000 and rows[10001].median_mortgage_repay_monthly == 2000
    # G01-only LGA: G02 fields null
    assert rows[10006].median_age_persons is None
    # G02-only LGA: code comes from G01 side -> NULL key row survives the full join
    assert None in rows and rows[None].median_age_persons == 50


def test_staging_location_largest_area_rule(pipe):
    loc = {r.suburb_name: r for r in pipe.staging_location.collect()}
    # NEWTOWN spans SYDNEY (total area 55) and INNER WEST (60) -> INNER WEST
    assert loc["NEWTOWN"].lga_name == "INNER WEST"
    assert loc["BONDI"].lga_name == "WAVERLEY"
    assert loc["MANLY"].lga_name == "NORTHERN BEACHES"
    # one row per suburb
    assert pipe.staging_location.count() == pipe.staging_location.select("suburb_name").distinct().count()


def test_staging_listing_dedup_and_price(pipe):
    st = pipe.staging_listing
    # 12 raw rows/file, L5 duplicated once -> 11 per file x 3 files
    assert st.count() == 33
    assert st.filter((F.col("id") == "L5") & (F.col("filename") == "05_2020_listings.csv")).count() == 1
    # comma price -> NULL (kept in staging, dropped later in fact)
    l3 = st.filter(F.col("id") == "L3").first()
    assert l3.price is None
    l1 = st.filter(F.col("id") == "L1").first()
    assert str(l1.price) == "100.00"


# --- warehouse -------------------------------------------------------------


def test_fact_filters_and_lga_resolution(pipe):
    fact = pipe.fact_listing
    ids = {r.id for r in fact.select("id").distinct().collect()}
    assert "L3" not in ids  # comma price dropped (SURVEY 2.10(2))
    assert "L4" not in ids  # null host_id dropped
    assert "L9" not in ids  # out-of-month scrape dropped (SURVEY 2.10(7))
    # 8 surviving listings x 3 months
    assert fact.count() == 24

    by_id = {r.id: r for r in fact.filter(F.col("filename").startswith("05")).collect()}
    assert by_id["L1"].neighbourhood_lga == "WAVERLEY"
    assert by_id["L1"].host_lga == "WAVERLEY"
    assert by_id["L1"].neighbourhood_lga_code == "10002"
    assert by_id["L5"].neighbourhood_lga == "SYDNEY"  # '悉尼' CASE ladder
    assert by_id["L5"].host_lga == "MISSING"          # null host_location
    assert by_id["L6"].neighbourhood_lga == "MISSING"
    assert by_id["L6"].neighbourhood_cleansed == "OTHER"
    assert by_id["L6"].host_lga == "INNER WEST"       # split-suburb rule
    assert by_id["L8"].neighbourhood_lga == "NORTHERN BEACHES"  # LIKE branch
    assert by_id["L12"].neighbourhood_lga == "MOSMAN"  # BALMORAL BEACH branch
    assert by_id["L10"].property_type is None          # \N token nullified


def test_dim_census_key_type(pipe):
    assert dict(pipe.dim_census.dtypes)["lga_code"] == "string"


# --- datamart --------------------------------------------------------------


def test_kpi1_waverley_may(pipe):
    k = pipe.kpi_neighbourhood_month
    r = k.filter(
        (F.col("neighbourhood_lga") == "WAVERLEY")
        & (F.col("listing_year") == 2020)
        & (F.col("listing_month") == 5)
    ).first()
    # WAVERLEY May: only L1 (price 100, avail 10, active, superhost)
    assert str(r.active_listing_rate) == "100.00"
    assert str(r.min_price) == "100.00" and str(r.max_price) == "100.00"
    assert float(r.med_price) == 100.0
    assert r.distinct_hosts == 1
    assert str(r.superhost_rate) == "100.00"
    assert str(r.avg_number_stays) == "20"
    assert float(r.total_number_stays) == 20.0
    assert str(r.total_estimated_revenue_active_listings) == "2000.00"
    # first month -> LAG null -> percentage change null (SURVEY 2.10(4))
    assert r.percentage_change_active_listings is None


def test_kpi1_lag_second_month_zero_change(pipe):
    k = pipe.kpi_neighbourhood_month
    r = k.filter(
        (F.col("neighbourhood_lga") == "WAVERLEY") & (F.col("listing_month") == 6)
    ).first()
    assert str(r.percentage_change_active_listings) == "0.00"


def test_kpi2_null_key_quirk(pipe):
    # L10 has NULL property_type; NULL keys don't join across the FULL JOIN,
    # so the active-side group surfaces with NULL-projected keys
    # (SURVEY 2.10(1)) in addition to the t-side NULL-key row.
    k = pipe.kpi_property_month
    null_rows = k.filter(F.col("property_type").isNull()).collect()
    assert len(null_rows) >= 2
    # t-side rows carry distinct_hosts; a-side rows carry revenue metrics
    assert any(r.distinct_hosts is not None for r in null_rows)
    assert any(
        r.total_estimated_revenue_active_listings is not None and r.distinct_hosts is None
        for r in null_rows
    )


def test_kpi1_ab_parity_with_raw_view(pipe):
    # the reference's own validation technique (populate.py:625-627):
    # cleaned vs raw views agree on metrics for groups where the group
    # column happens to coincide (MOSMAN listings all have cleansed='MOSMAN')
    clean = pipe.kpi_neighbourhood_month.filter(
        (F.col("neighbourhood_lga") == "MOSMAN") & (F.col("listing_month") == 5)
    ).first()
    raw = pipe.kpi_neighbourhood_month_raw.filter(
        (F.col("neighbourhood_cleansed") == "MOSMAN") & (F.col("listing_month") == 5)
    ).first()
    assert str(clean.total_estimated_revenue_active_listings) == str(
        raw.total_estimated_revenue_active_listings
    )
    assert clean.distinct_hosts == raw.distinct_hosts


def test_kpi3_host_lga(pipe):
    k = pipe.kpi_host_neighbourhood_month
    r = k.filter((F.col("host_lga") == "MISSING") & (F.col("listing_month") == 5)).first()
    # hosts 102 (L5: 30x150=4500) and 106 (L10: 25x400=10000) both have
    # NULL host_location -> MISSING
    assert r.distinct_count == 2
    assert str(r.total_estimated_revenue_listings) == "14500.00"


# --- ad-hoc ----------------------------------------------------------------


def test_adhoc_a_best_worst(pipe):
    out = run_adhoc(pipe)["a_best_worst_demographics"].collect()
    assert len(out) == 2
    best, worst = out[0], out[1]
    # avg revenue per active listing per LGA (constant across months):
    # SYDNEY(L5)=4500, MISSING(L6 inactive, excluded), WAVERLEY(L1)=2000,
    # N.BEACHES(L2 2000, L8 4500 -> 3250), MOSMAN(L10 10000, L11 1250,
    # L12 1040 -> 4096.67)
    assert best.neighbourhood_lga == "SYDNEY"
    assert str(best.estimated_revenue_per_active_listings) == "4500.00"
    assert best.median_age_persons is not None  # census joined via lga_code
    assert worst.neighbourhood_lga == "WAVERLEY"
    assert str(worst.estimated_revenue_per_active_listings) == "2000.00"


def test_adhoc_b_rank_keeps_ties(pipe):
    out = run_adhoc(pipe)["b_best_listing_type_top5"].toPandas()
    # 4 LGAs have active listings (MISSING has none) -> one rank-1 row each
    # unless tied; SYDNEY's best type is L5's (30 stays)
    assert len(out) >= 4
    sydney = out[out.neighbourhood_lga == "SYDNEY"]
    assert str(sydney.avg_number_stays.iloc[0]) == "30"
    assert set(out.columns) == {
        "neighbourhood_lga", "property_type", "room_type", "accommodates", "avg_number_stays",
    }


def test_adhoc_c_buckets(pipe):
    out = {r.percentage_in_same_lga: r for r in run_adhoc(pipe)["c_same_neighbourhood"].collect()}
    # multi-listing hosts: 100 (L1 same + L2 diff -> 50%-99%), 105 (L11+L12
    # both MOSMAN -> 100%); host 102/103/104/106 single-listing -> excluded
    assert out["100%"].number_of_host_same_lga_per_range == 1
    assert out["50% - 99%"].number_of_host_same_lga_per_range == 1
    assert out["100%"].total_number_of_host_same_lga == 2
    assert out["100%"].total_number_of_host_with_mutiple_listings == 2
    assert str(out["100%"].percentage_of_host_with_same_lga_mutiple_listings) == "50.00"


def test_adhoc_d_mortgage_coverage(pipe):
    r = run_adhoc(pipe)["d_mortgage_coverage"].first()
    # unique-listing hosts (host_listings_count='1'): 102 (L5, SYDNEY,
    # revenue 3x4500=13500 vs 24000 -> half), 103 (L6, MISSING -> NULL
    # mortgage, only in total), 104 (L8, N.BEACHES, 13500 vs 28800 ->
    # 20% only), 106 (L10, MOSMAN, 30000 vs 36000 -> half)
    assert r.total_number_of_host == 4
    assert r.total_number_of_host_can_cover_all == 0
    assert r.total_number_of_host_can_cover_half == 2
    assert r.total_number_of_host_can_cover_20per == 3
    assert r.total_number_of_host_cannot_cover == 3
    assert str(r.percentage_of_host_can_cover_half) == "50.00"


def test_kpi_single_pass_agrees_on_nonnull_groups(pipe):
    from airbnb_listings_data_pipelines_spark.plans.datamart import kpi_view_single_pass

    fast = kpi_view_single_pass(pipe.fact_listing, ["neighbourhood_lga"]).toPandas()
    ref = pipe.kpi_neighbourhood_month.toPandas()
    key = ["neighbourhood_lga", "listing_year", "listing_month"]
    ref_nn = ref[ref.neighbourhood_lga.notna()].sort_values(key).reset_index(drop=True)
    fast = fast.sort_values(key).reset_index(drop=True)
    assert len(fast) == len(ref_nn)
    for col in ref_nn.columns:
        a, b = fast[col], ref_nn[col]
        same = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
        assert same.all(), (col, fast[~same][key + [col]], ref_nn[~same][col])


def test_incremental_month_append(spark, tmp_path_factory):
    """Loading months 05+06 then appending 07 must equal a full 3-month run,
    and the append must only touch the new file_date partition."""
    import os
    import shutil

    from airbnb_listings_data_pipelines_spark.plans.pipeline import append_month

    src = write_fixtures(tmp_path_factory.mktemp("incr_src"))
    two = tmp_path_factory.mktemp("incr_two")
    for f in os.listdir(src):
        if not f.startswith("07_"):
            shutil.copy(os.path.join(src, f), two / f)
    wh = str(tmp_path_factory.mktemp("incr_wh"))
    run_pipeline(spark, str(two), persist_dir=wh, register_views=False)
    base = spark.read.parquet(f"{wh}/fact_listing")
    assert base.select("file_date").distinct().count() == 2
    may_before = sorted(map(tuple, base.filter("file_date = '2020-05-01'").collect()))

    # the new month's file arrives
    shutil.copy(os.path.join(src, "07_2020_listings.csv"), two / "07_2020_listings.csv")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key)
    fact = append_month(spark, str(two), wh, "07_2020*.csv")
    assert fact.select("file_date").distinct().count() == 3
    # dynamic overwrite is per write: the caller's session is unchanged
    assert spark.conf.get(mode_key) == mode_before

    # equals the from-scratch 3-month fact
    full = run_pipeline(spark, src, register_views=False).fact_listing
    assert sorted(map(tuple, fact.select("id", "filename").collect())) == sorted(
        map(tuple, full.select("id", "filename").collect())
    )
    # old partition untouched byte-for-byte at the row level
    may_after = sorted(map(tuple, fact.filter("file_date = '2020-05-01'").collect()))
    assert may_after == may_before
