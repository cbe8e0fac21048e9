"""Exactly-once streaming sinks into the commit-log table format
(streaming/upsert.append_stream_txlog / upsert_stream_txlog + the txn
plumbing in operators/txlog). The public analog is Structured Streaming
foreachBatch + Delta's idempotent-writes ``txn`` action: checkpoint
replay alone gives at-least-once, and an APPEND replay is not naturally
idempotent, so the sink records (app_id, batch_id) in each commit and
skips any batch already in the log — including under a racing duplicate
instance. The Delta export mirrors the marker so a foreign engine can
take over the sink."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    merge_into_txlog,
)


def _mk_source(spark, src, batches):
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "id long, val string, ord long").coalesce(
            1
        ).write.parquet(os.path.join(src, f"batch_{i:03d}.parquet"))
    return (
        spark.readStream.schema("id long, val string, ord long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )


def test_append_stream_lands_exactly_once(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.streaming.upsert import (
        append_stream_txlog,
    )

    stream = _mk_source(
        spark,
        str(tmp_path / "src"),
        [
            [(1, "a", 10), (2, "b", 11)],
            [(3, "c", 20)],
            [(4, "d", 30), (5, "e", 31)],
        ],
    )
    target = str(tmp_path / "t")
    q = append_stream_txlog(
        stream, target, str(tmp_path / "ckpt"), app_id="ingest-1"
    )
    q.processAllAvailable()
    q.stop()
    t = TxLogTable(spark, target)
    got = {(r.id, r.val) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")}
    assert t.read().count() == 5  # multiset: no double-append
    assert t.last_txn_version("ingest-1") == 2


def test_append_replay_is_noop(spark, tmp_path):
    """Simulated crash replay: the same (app_id, batch_id) applied twice
    must commit once — version and rows unchanged on the second call."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(0, "seed")], "id long, val string"),
    )
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    v1 = t.append(batch, txn=("app", 7))
    v2 = t.append(batch, txn=("app", 7))  # replay
    assert v2 == v1 and t.version() == v1
    assert t.read().count() == 3
    # an EARLIER batch id replayed late is also skipped (version <= last)
    old = spark.createDataFrame([(9, "old")], "id long, val string")
    assert t.append(old, txn=("app", 3)) == v1
    assert t.read().count() == 3
    # a different app_id is independent
    t.append(old, txn=("other", 0))
    assert t.read().count() == 4
    assert t.last_txn_version("app") == 7
    assert t.last_txn_version("other") == 0
    assert t.last_txn_version("absent") is None


def test_append_aligns_and_casts_to_table_schema(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a")], "id long, val string"),
    )
    # reordered columns + narrower int type: aligned and cast, no drift
    b = spark.createDataFrame([("b", 2)], "val string, id int")
    t.append(b)
    assert dict(t.read().dtypes) == {"id": "bigint", "val": "string"}
    assert {(r.id, r.val) for r in t.read().collect()} == {(1, "a"), (2, "b")}
    # Delta append enforcement: missing columns null-fill (evolution
    # tolerance), extra columns are rejected (silent drop = data loss)
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert {(r.id, r.val) for r in t.read().collect()} == {
        (1, "a"), (2, "b"), (3, None),
    }
    import pytest

    with pytest.raises(ValueError, match="absent from table"):
        t.append(
            spark.createDataFrame([(4, "d", 1)], "id long, val string, oops int")
        )


def test_merge_txn_replay_is_noop(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    merge_into_txlog(spark, t, src, keys=["k"], txn=("cdc", 0))
    v = t.version()
    merge_into_txlog(spark, t, src, keys=["k"], txn=("cdc", 0))  # replay
    assert t.version() == v
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c"),
    }


def test_upsert_stream_txlog_end_to_end(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.streaming.upsert import (
        upsert_stream_txlog,
    )

    stream = _mk_source(
        spark,
        str(tmp_path / "src"),
        [
            [(1, "a", 10), (2, "b", 11), (3, "c", 12)],
            [(2, "b2", 20), (2, "b3", 21), (4, "d", 22)],
        ],
    )
    target = str(tmp_path / "t")
    q = upsert_stream_txlog(
        stream, target, keys=["id"], order_col="ord",
        checkpoint_dir=str(tmp_path / "ckpt"), app_id="cdc-1",
    )
    q.processAllAvailable()
    q.stop()
    t = TxLogTable(spark, target)
    got = {(r.id, r.val) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "b3"), (3, "c"), (4, "d")}
    assert t.last_txn_version("cdc-1") == 1


def test_racing_duplicate_appends_commit_once(spark, tmp_path):
    """Two instances of the SAME batch racing: the idempotency re-check
    inside append's retry loop means exactly one commit lands, and the
    loser removes its staged files (no orphans)."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(0, "seed")], "id long, val string"),
    )
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")

    def run():
        TxLogTable(spark, str(tmp_path / "t")).append(batch, txn=("app", 1))

    with ThreadPoolExecutor(max_workers=2) as ex:
        for f in [ex.submit(run), ex.submit(run)]:
            f.result()
    assert t.read().count() == 3  # not 5
    txn_commits = 0
    for name in os.listdir(t.log_dir):
        if name.endswith(".json"):
            with open(os.path.join(t.log_dir, name)) as fh:
                if json.load(fh).get("txn", {}).get("appId") == "app":
                    txn_commits += 1
    assert txn_commits == 1
    assert t.vacuum(retain_versions=10_000) == []  # no orphan data files


def test_delta_export_mirrors_txn_action(spark, tmp_path):
    """The exported _delta_log must carry the txn action so an external
    Delta engine resumes the sink idempotently from (appId, version)."""
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(0, "seed")], "id long, val string"),
    )
    t.append(
        spark.createDataFrame([(1, "a")], "id long, val string"),
        txn=("ingest-1", 0),
    )
    t.append(
        spark.createDataFrame([(2, "b")], "id long, val string"),
        txn=("ingest-1", 1),
    )
    t.to_delta_log()
    state = _replay_delta_log(os.path.join(t.path, "_delta_log"))
    assert state.txns["ingest-1"]["version"] == 1


def test_ensure_table_waits_for_racing_creators_commit0(spark, tmp_path):
    """The create() loser must WAIT for the winner's commit 0: create()
    makedirs the log dir, runs a multi-second Spark write, then commits
    — between those, '_txlog exists' does not mean appendable, and an
    immediate append would kill the streaming query on
    FileNotFoundError. A crashed winner surfaces as TimeoutError, not a
    hang or an opaque crash."""
    import threading
    import time

    import pytest

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable,
        _commit_name,
    )
    from airbnb_listings_data_pipelines_spark.streaming.upsert import (
        _ensure_table,
    )

    batch = spark.createDataFrame([(1, 10.0)], "k int, price double")

    # crashed winner: log dir exists, commit 0 never lands
    dead = str(tmp_path / "dead")
    os.makedirs(os.path.join(dead, "_txlog"))
    with pytest.raises(TimeoutError, match="commit 0 never appeared"):
        _ensure_table(batch, dead, timeout_s=0.3)

    # slow winner: commit 0 lands mid-wait; the loser then proceeds
    slow = str(tmp_path / "slow")
    os.makedirs(os.path.join(slow, "_txlog"))

    def winner():
        time.sleep(0.3)
        # commit 0 appearing is all the loser waits on
        with open(
            os.path.join(slow, "_txlog", _commit_name(0)), "w"
        ) as fh:
            json.dump(
                {
                    "op": "create",
                    "adds": [],
                    "removes": [],
                    "checkpoint": True,
                    "partition_by": [],
                    "partition_schema": None,
                    "schema": batch.schema.json(),
                },
                fh,
            )

    th = threading.Thread(target=winner)
    th.start()
    _ensure_table(batch, slow, timeout_s=10.0)
    th.join()
    t = TxLogTable(spark, slow)
    t.append(batch)
    assert t.read().count() == 1


def test_append_sink_auto_compacts(spark, tmp_path):
    """compact_every=N (Delta's autoOptimize shape): the sink triggers
    an inline OPTIMIZE after N data commits since the last compaction —
    rows identical before/after, file count bounded, history shows the
    optimize commits."""
    from pyspark.sql import functions as F

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable,
    )
    from airbnb_listings_data_pipelines_spark.streaming.upsert import (
        append_stream_txlog,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, float(i)) for i in range(12)], "k int, price double"
    ).repartition(6).write.parquet(src)
    table = str(tmp_path / "table")
    q = append_stream_txlog(
        spark.readStream.schema("k int, price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        table,
        str(tmp_path / "ck"),
        app_id="sink",
        compact_every=3,
        compact_target_files=1,
    )
    q.awaitTermination(180)
    t = TxLogTable(spark, table)
    assert {r.k for r in t.read().collect()} == set(range(12))
    ops = [h["op"] for h in t.history()]
    assert "optimize" in ops, f"no compaction ran: {ops}"
    # compaction bounds live file count below the per-trigger growth
    assert len(t.files()) <= 4, (len(t.files()), ops)
