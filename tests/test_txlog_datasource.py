"""The ``txlog`` Python DataSource (Spark 4 SPARK-44076 API): batch
snapshot + time travel, typed partition reattachment, schema-evolution
null-fill, and the streaming source's append-only tail with
exactly-once recovery — all through ``spark.read.format("txlog")`` /
``readStream``, the way an external Spark job would consume the table.
The source and TxLogTable share one commit-log fold
(operators/logfold.py); the batch reads here pin that both readers see
the same rows at every version."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators import txlog as txmod
from airbnb_listings_data_pipelines_spark.operators.logfold import partition_meta
from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable
from airbnb_listings_data_pipelines_spark.sources import txlog_source

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def registered(spark):
    txlog_source.register(spark)
    return spark


def _mk(spark, path, rows=((1, 10.0), (2, 20.0))):
    return TxLogTable.create(
        spark,
        path,
        spark.createDataFrame(list(rows), "k int, price double").coalesce(1),
    )


def test_batch_read_matches_native_and_time_travels(registered, tmp_path):
    spark = registered
    t = _mk(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    t.delete_where("k = 1")
    got = spark.read.format("txlog").load(t.path)
    assert sorted((r.k, r.price) for r in got.collect()) == sorted(
        (r.k, r.price) for r in t.read().collect()
    )
    assert got.schema == t.read().schema
    v0 = spark.read.format("txlog").option("versionAsOf", 0).load(t.path)
    assert sorted(r.k for r in v0.collect()) == [1, 2]


def test_batch_read_partitioned_exact_types(registered, tmp_path):
    """Partition columns reattach from directory names under the
    RECORDED types: the string column keeps '07' as a string (inference
    would corrupt it to int 7), the int column comes back as int."""
    spark = registered
    t = TxLogTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame(
            [(1, "07", 10.0), (2, "1", 20.0), (3, "07", 30.0)],
            "k int, bucket string, price double",
        ),
        partition_by=["bucket"],
    )
    got = spark.read.format("txlog").load(t.path)
    assert dict(got.dtypes)["bucket"] == "string"
    rows = sorted((r.k, r.bucket) for r in got.collect())
    assert rows == [(1, "07"), (2, "1"), (3, "07")]


def test_batch_read_null_fills_pre_evolution_files(registered, tmp_path):
    spark = registered
    t = _mk(spark, str(tmp_path / "e"))
    t.add_column("discount", "double")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, 0.5)], "k int, price double, discount double"
        )
    )
    got = spark.read.format("txlog").load(t.path)
    vals = {(r.k, r.discount) for r in got.collect()}
    assert vals == {(1, None), (2, None), (3, 0.5)}


def _drain(spark, table_path, out, ck, **opts):
    r = spark.readStream.format("txlog")
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load(table_path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_tails_appends_exactly_once(registered, tmp_path):
    spark = registered
    t = _mk(spark, str(tmp_path / "s"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, t.path, out, ck)
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2]
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    _drain(spark, t.path, out, ck)
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2, 3]
    # no new commits -> a re-drain must emit NOTHING (exactly-once via
    # checkpointed version offsets)
    _drain(spark, t.path, out, ck)
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_stream_change_commits_raise_or_skip(registered, tmp_path):
    spark = registered
    t = _mk(spark, str(tmp_path / "c"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, t.path, out, ck)
    t.delete_where("k = 1")  # change commit: removes files
    with pytest.raises(Exception, match="append-only"):
        _drain(spark, t.path, out, ck)
    t.append(spark.createDataFrame([(5, 50.0)], "k int, price double"))
    # first drain re-runs the failed (offset-logged) batch range with
    # the skip option; the second picks up the post-delete append —
    # standard structured-streaming recovery, no duplicates either way
    _drain(spark, t.path, out, ck, skipChangeCommits="true")
    _drain(spark, t.path, out, ck, skipChangeCommits="true")
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2, 5]


def test_batch_read_matches_read_version_across_checkpoint(
    registered, tmp_path, monkeypatch
):
    """The DataSource batch read and TxLogTable.read_version return the
    same rows at EVERY version — across a checkpoint commit (whose
    recorded adds are the full live list) and a delete."""
    spark = registered
    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 3)
    t = _mk(spark, str(tmp_path / "h"))
    for i in range(3, 8):
        t.append(spark.createDataFrame([(i, float(i))], "k int, price double"))
    t.delete_where("k = 4")
    ckpts = []
    for f in sorted(os.listdir(t.log_dir)):
        if f.endswith(".json"):
            with open(os.path.join(t.log_dir, f)) as fh:
                ckpts += [f] if json.load(fh).get("checkpoint") else []
    assert ckpts, "the fixture must cross a checkpoint commit"
    for v in range(t.version() + 1):
        via_source = (
            spark.read.format("txlog").option("versionAsOf", v).load(t.path)
        )
        assert sorted(map(tuple, via_source.collect())) == sorted(
            map(tuple, t.read_version(v).collect())
        ), f"version {v}"


def test_batch_cdf_reads_per_commit_changes(registered, tmp_path):
    """readChangeFeed=true (Delta's option): per-commit change rows with
    _change_type/_commit_version. Raw file granularity — a copy-on-write
    rewrite's unchanged rows appear as matching delete+insert pairs
    (exactly Delta CDF without CDC files); the NET feed is
    TxLogTable.read_changes."""
    spark = registered
    t = _mk(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))  # v1
    t.delete_where("k = 1")  # v2: rewrites the (1,2) file -> keeps 2
    cdf = (
        spark.read.format("txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(t.path)
    )
    got = sorted(
        (r._commit_version, r._change_type, r.k) for r in cdf.collect()
    )
    assert got == [
        (1, "insert", 3),
        (2, "delete", 1),
        (2, "delete", 2),
        (2, "insert", 2),  # rewrite pair for the surviving row
    ]
    # endingVersion bounds the range; bad ranges raise
    only_v1 = (
        spark.read.format("txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .option("endingVersion", 1)
        .load(t.path)
    )
    assert [(r._commit_version, r.k) for r in only_v1.collect()] == [(1, 3)]
    with pytest.raises(Exception, match="invalid change range"):
        spark.read.format("txlog").option("readChangeFeed", "true").option(
            "startingVersion", 99
        ).load(t.path).collect()


def test_stream_cdf_tails_dml_as_changes(registered, tmp_path):
    """Streaming CDF: DML commits are first-class change rows, not
    errors — the stream that WOULD have died append-only keeps tailing."""
    spark = registered
    t = _mk(spark, str(tmp_path / "t"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("txlog")
            .option("readChangeFeed", "true")
            .load(t.path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    t.delete_where("k = 1")
    drain()
    got = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (0, "insert", 1),
        (0, "insert", 2),
        (1, "delete", 1),
        (1, "delete", 2),
        (1, "insert", 2),
    ]


def test_partition_meta_raises_on_headless_unspecced_log(registered, tmp_path):
    """Review finding: when commit 0 is gone and the oldest retained
    commit carries no partition spec (head truncated outside
    cleanup_log's checkpoint invariant), the source's partition spec
    used to fall back to pby=[] — silently reading a PARTITIONED table
    as unpartitioned (partition columns all null). The one fold that
    TxLogTable and the source share must raise."""
    path = str(tmp_path / "t")
    t = TxLogTable.create(
        registered,
        path,
        registered.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "k int, g string, price double"
        ),
        partition_by=["g"],
    )
    t.append(
        registered.createDataFrame([(3, "a", 30.0)], "k int, g string, price double")
    )
    # corrupt the head the way an external mis-truncation would:
    # delete commit 0; commit 1 is a plain append, not a
    # metadata-complete checkpoint
    os.remove(os.path.join(t.log_dir, f"{0:012d}.json"))
    with pytest.raises(FileNotFoundError, match="partition spec"):
        partition_meta(t.log_dir)


def test_datasource_dv_pathkey_survives_checkpoint_sidecar(
    registered, tmp_path
):
    """The checkpoint fold must carry dv_pathkey through a
    parquet checkpoint sidecar: a PARTITIONED table's rel-keyed vector
    (basename != relative path) read via the DataSource after a
    cleanup_log bootstrap would silently mis-key otherwise."""
    spark = registered
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, k % 2) for k in range(20)], "k int, g int"
        ),
        partition_by=["g"],
    )
    t.delete_where("k < 4", mode="dv")
    for i in range(3):
        t.append(
            spark.createDataFrame([(100 + i, 0)], "k int, g int")
        )
    t.ckpt_sidecar_min_files = 1
    t.cleanup_log(retain_versions=2)
    got = sorted(
        r.k
        for r in spark.read.format("txlog")
        .load(str(tmp_path / "t"))
        .collect()
    )
    assert got == list(range(4, 20)) + [100, 101, 102]


def test_register_and_tpch_load_ship_one_package_zip(registered):
    """The source's register() and tpch.load_table share the session's
    one worker-package shipper: a session that does both carries ONE
    package zip on its python path, not two."""
    from airbnb_listings_data_pipelines_spark.sources import tpch

    txlog_source.register(registered)
    tpch.load_table(registered, SF_SMALL, "region")
    zips = [
        p for p in registered.sparkContext._python_includes if p.endswith(".zip")
    ]
    assert len(zips) == 1, zips
