"""``merge_into_txlog`` reads its source exactly once per call: touched-file
discovery, the merge join and every commit retry see the SAME rows. A
source evaluated once per consumer is both slower (a Python-built or
streaming batch re-runs its whole lineage) and wrong when it is not
deterministic — discovery and the join see different keys, and a key the
join sees in an untouched file becomes a duplicate insert."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    merge_into_txlog,
)

N_IDS = 1000


def _table(spark, path, files=40):
    # range-clustered: a handful of source keys touches few of the files,
    # so a key discovery missed sits in a file the merge never rewrites
    return TxLogTable.create(
        spark,
        str(path),
        spark.range(N_IDS)
        .select(F.col("id").alias("k"), F.lit("old").alias("v"))
        .repartitionByRange(files, "k"),
    )


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_nondeterministic_source_leaves_no_duplicate_keys(
    spark, tmp_path, mode
):
    t = _table(spark, tmp_path / mode)
    pick = F.udf(lambda i: random.randrange(N_IDS), "long").asNondeterministic()
    src = (
        spark.range(12)
        .select(pick("id").alias("k"), F.lit("new").alias("v"))
        .dropDuplicates(["k"])
    )
    merge_into_txlog(spark, t, src, ["k"], mode=mode)
    got = t.read().agg(
        F.count("*").alias("n"), F.countDistinct("k").alias("d")
    ).first()
    assert (got.n, got.d) == (N_IDS, N_IDS)
    assert t.read().filter("v = 'new'").count() >= 1


FORMS = {
    "simple": {},
    "clauses": {
        "clauses": {
            "matched": [{"cond": "s.v <> t.v", "action": "update",
                         "set": {"v": "s.v"}}],
            "not_matched": [{"cond": None, "values": None}],
        }
    },
    "cdc": {"cdc": True},
    "dv": {"mode": "dv"},
}


@pytest.mark.parametrize("form", sorted(FORMS))
def test_source_evaluated_once_per_call(spark, tmp_path, form):
    t = _table(spark, tmp_path / form, files=8)
    acc = spark.sparkContext.accumulator(0)

    def touch(i):
        acc.add(1)
        return i

    seen = F.udf(touch, "long")
    # 30 updates across the table plus 5 inserts beyond it
    keys = list(range(0, N_IDS, 34)) + list(range(N_IDS, N_IDS + 5))
    src = spark.createDataFrame([(k,) for k in keys], "i long").select(
        seen("i").alias("k"), F.lit("new").alias("v")
    )
    merge_into_txlog(spark, t, src, ["k"], **FORMS[form])
    assert acc.value == len(keys)
    assert t.read().count() == N_IDS + 5
    assert t.read().filter("v = 'new'").count() == len(keys)


def test_caller_cached_source_stays_cached(spark, tmp_path):
    t = _table(spark, tmp_path / "t", files=4)
    src = spark.createDataFrame(
        [(1, "new"), (N_IDS + 1, "new")], "k long, v string"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        src.count()
        merge_into_txlog(spark, t, src, ["k"])
        assert src.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert not _cache_empty(spark)
        merge_into_txlog(spark, t, src, ["k"], mode="dv")
        assert src.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        src.unpersist()
    assert t.read().count() == N_IDS + 1


@pytest.mark.parametrize("form", sorted(FORMS))
def test_uncached_source_leaves_session_unchanged(spark, tmp_path, form):
    t = _table(spark, tmp_path / form, files=4)
    spark.catalog.clearCache()
    conf_before = {r.key: r.value for r in spark.sql("SET").collect()}
    src = spark.createDataFrame(
        [(2, "new"), (N_IDS + 2, "new")], "k long, v string"
    )
    merge_into_txlog(spark, t, src, ["k"], **FORMS[form])
    assert src.storageLevel == StorageLevel.NONE
    assert _cache_empty(spark)
    assert {r.key: r.value for r in spark.sql("SET").collect()} == conf_before
    assert t.read().count() == N_IDS + 1
