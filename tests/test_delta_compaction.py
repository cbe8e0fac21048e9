"""Log compactions (``<start>.<end>.compacted.json`` — Delta 3.x /
delta-kernel minor compactions): one JSON file carrying the NET actions
of a commit range. Snapshot folds in BOTH independent readers substitute
a fitting compaction for its covered single commits; time travel INSIDE
a compacted range still requires the singles, and change feeds never
consume compactions (per-commit deltas are netted away by construction).

Also covers ``delta.checkpointInterval`` — Delta's auto-checkpoint
property, honored by the export: when the newest checkpoint lags the
head by >= the interval, the export checkpoints (classic or v2 per
``delta.checkpointPolicy``).
"""
from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.deltalog import (
    export_delta_log,
    read_delta_snapshot,
    write_delta_checkpoint,
    write_delta_compaction,
)
from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable


def _mk(spark, tmp_path):
    """v0 create, v1 append, v2 dv-delete, v3 append — a range with
    adds, a deletion-vector re-add (remove+add of the same path), and
    plain appends."""
    path = str(tmp_path / "t")
    df = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t = TxLogTable.create(spark, path, df.repartition(2))
    t.append(
        spark.range(40, 60).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    t.delete_where("k % 10 = 3", mode="dv")
    t.append(
        spark.range(60, 70).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    export_delta_log(spark, t)
    return t, path


def _vals(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_compaction_fold_equivalence_both_readers(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    want = _vals(read_delta_snapshot(spark, path))
    name = write_delta_compaction(path, 1, 3)
    assert re.fullmatch(r"\d{20}\.\d{20}\.compacted\.json", name)
    # the compacted fold must agree with the per-commit fold
    assert _vals(read_delta_snapshot(spark, path)) == want
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    dd = os.path.join(path, "_delta_log")
    r = _replay_delta_log(dd)
    assert r.version == 3 and len(r.live) > 0


def test_compaction_substitutes_for_missing_singles(spark, tmp_path):
    """Delete the covered single commits: latest still reads via the
    compaction; time travel INSIDE the range refuses loudly."""
    t, path = _mk(spark, tmp_path)
    want = _vals(read_delta_snapshot(spark, path))
    write_delta_compaction(path, 1, 3)
    dd = os.path.join(path, "_delta_log")
    for v in (1, 2, 3):
        os.remove(os.path.join(dd, f"{v:020d}.json"))
    assert _vals(read_delta_snapshot(spark, path)) == want
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    assert _replay_delta_log(dd).version == 3
    with pytest.raises(FileNotFoundError, match="missing commit"):
        read_delta_snapshot(spark, path, version=2)
    with pytest.raises(FileNotFoundError, match="missing commit"):
        _replay_delta_log(dd, 2)


def test_compaction_nets_actions(spark, tmp_path):
    """A path added then fully removed inside the range nets away: the
    compaction file carries NO action for it; a DV update (remove+add of
    one path) nets to the LATEST add."""
    path = str(tmp_path / "t")
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    t = TxLogTable.create(spark, path, df.coalesce(1))
    t.append(spark.range(100, 110).select(F.col("id").alias("k")))  # v1
    # v2: delete EVERY v1 row -> the v1 file is fully removed (COW)
    t.delete_where("k >= 100")
    t.delete_where("k % 7 = 1", mode="dv")  # v3: DV remove+re-add
    export_delta_log(spark, t)
    name = write_delta_compaction(path, 1, 3)
    dd = os.path.join(path, "_delta_log")
    v1_adds = [
        json.loads(s)["add"]["path"]
        for s in open(os.path.join(dd, f"{1:020d}.json"))
        if s.strip() and "\"add\"" in s
    ]
    lines = [
        json.loads(s)
        for s in open(os.path.join(dd, name)).read().splitlines()
        if s.strip()
    ]
    adds = [a["add"]["path"] for a in lines if "add" in a]
    removes = [a["remove"]["path"] for a in lines if "remove" in a]
    # the added-then-removed v1 file appears as a net REMOVE (it existed
    # on neither side boundary inside the range only if added in-range;
    # here it WAS added in range, so it nets away from adds)
    for p in v1_adds:
        assert p not in adds
    # the DV-updated path appears exactly once, as an add with the
    # deletion vector attached (latest wins)
    dv_adds = [a["add"] for a in lines if "add" in a and a["add"].get("deletionVector")]
    assert dv_adds, "DV re-add lost in compaction"
    assert not set(adds) & set(removes)


def test_compaction_writer_refusals(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="single-version"):
        write_delta_compaction(path, 2, 2)
    with pytest.raises(ValueError, match="invalid"):
        write_delta_compaction(path, 3, 1)
    with pytest.raises(FileNotFoundError, match="single commit 4"):
        write_delta_compaction(path, 1, 9)


def test_change_feed_never_uses_compactions(spark, tmp_path):
    """CDF needs per-commit deltas; after compacting AND deleting the
    covered singles, a change read over the range must refuse — not
    silently emit the netted result."""
    t, path = _mk(spark, tmp_path)
    write_delta_compaction(path, 1, 3)
    dd = os.path.join(path, "_delta_log")
    for v in (1, 2, 3):
        os.remove(os.path.join(dd, f"{v:020d}.json"))
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        delta_deltas_full,
    )

    with pytest.raises(FileNotFoundError):
        delta_deltas_full(dd, 1, 3)


def test_checkpoint_interval_auto_checkpoints(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    t = TxLogTable.create(spark, path, df.coalesce(1))
    t.set_properties({"delta.checkpointInterval": "3"})  # v1
    export_delta_log(spark, t)  # head 1, no checkpoint yet (1 - (-1) < 3)?
    dd = os.path.join(path, "_delta_log")
    # 1 - (-1) = 2 < 3: no checkpoint
    assert not os.path.exists(os.path.join(dd, "_last_checkpoint"))
    t.append(spark.range(20, 30).select(F.col("id").alias("k")))  # v2
    export_delta_log(spark, t)  # 2 - (-1) = 3 >= 3: checkpoint at 2
    lc = json.load(open(os.path.join(dd, "_last_checkpoint")))
    assert lc["version"] == 2
    assert os.path.exists(os.path.join(dd, f"{2:020d}.checkpoint.parquet"))
    t.append(spark.range(30, 40).select(F.col("id").alias("k")))  # v3
    export_delta_log(spark, t)  # 3 - 2 = 1 < 3: unchanged
    assert json.load(open(os.path.join(dd, "_last_checkpoint")))["version"] == 2


def test_checkpoint_interval_composes_with_v2_policy(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    t = TxLogTable.create(spark, path, df.coalesce(1))
    t.set_properties(
        {"delta.checkpointInterval": "1", "delta.checkpointPolicy": "v2"}
    )  # v1
    export_delta_log(spark, t)
    dd = os.path.join(path, "_delta_log")
    lc = json.load(open(os.path.join(dd, "_last_checkpoint")))
    assert lc["version"] == 1
    assert any(
        re.fullmatch(rf"{1:020d}\.checkpoint\.[^.]+\.json", f)
        for f in os.listdir(dd)
    )
    assert read_delta_snapshot(spark, path).count() == 20


def test_checkpoint_interval_validation(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark, path, spark.range(3).select(F.col("id").alias("k")).coalesce(1)
    )
    t.set_properties({"delta.checkpointInterval": "0"})
    with pytest.raises(ValueError, match="checkpointInterval"):
        export_delta_log(spark, t)


def test_cleanup_delta_log_with_sidecar_gc(spark, tmp_path):
    """Delta metadata cleanup: commits/checkpoints/compactions strictly
    below the newest checkpoint are deleted and orphaned v2 sidecars are
    garbage-collected; the horizon snapshot still reads, time travel
    below it refuses loudly."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        cleanup_delta_log,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 30).select(F.col("id").alias("k"))
    t = TxLogTable.create(spark, path, df.repartition(2))
    t.set_properties({"delta.checkpointPolicy": "v2"})
    t.append(spark.range(30, 40).select(F.col("id").alias("k")))
    export_delta_log(spark, t)
    write_delta_checkpoint(spark, path)  # v2 ckpt at 2, sidecar A
    t.delete_where("k % 10 = 1", mode="dv")
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path)  # v2 ckpt at 3, sidecar B
    t.append(spark.range(40, 45).select(F.col("id").alias("k")))
    export_delta_log(spark, t)  # commit 4 above the horizon
    dd = os.path.join(path, "_delta_log")
    n_sidecars = len(os.listdir(os.path.join(dd, "_sidecars")))
    assert n_sidecars >= 2
    want = sorted(
        r["k"] for r in read_delta_snapshot(spark, path).collect()
    )
    deleted = cleanup_delta_log(path)
    names = set(os.listdir(dd))
    # singles 0..2 and the version-2 checkpoint gone; 3 and 4 remain
    assert f"{0:020d}.json" not in names
    assert f"{2:020d}.json" not in names
    assert f"{3:020d}.json" in names and f"{4:020d}.json" in names
    assert not any(f.startswith(f"{2:020d}.checkpoint.") for f in names)
    assert any(f.startswith(f"{v:020d}.checkpoint.") for f in names)
    # orphaned sidecar (of the v2 checkpoint at 2) collected
    assert any(d.startswith("_sidecars/") for d in deleted)
    assert len(os.listdir(os.path.join(dd, "_sidecars"))) < n_sidecars
    # latest still reads bit-for-bit; sub-horizon time travel refuses
    got = sorted(r["k"] for r in read_delta_snapshot(spark, path).collect())
    assert got == want
    with pytest.raises(FileNotFoundError):
        read_delta_snapshot(spark, path, version=1)
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    assert _replay_delta_log(dd).version == 4


def test_cleanup_requires_checkpoint_and_validates(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        cleanup_delta_log,
    )

    t, path = _mk(spark, tmp_path)
    with pytest.raises(FileNotFoundError, match="no checkpoint"):
        cleanup_delta_log(path)
    v = write_delta_checkpoint(spark, path)
    with pytest.raises(ValueError, match="above the newest checkpoint"):
        cleanup_delta_log(path, keep_after=v + 5)


def test_keep_after_horizon_is_readable(spark, tmp_path):
    """Review finding (round 10): cleanup_delta_log(keep_after=) kept an
    older checkpoint no reader could bootstrap from — readers consulted
    only _last_checkpoint. Both readers now bootstrap from the newest
    AVAILABLE checkpoint at/below the wanted version (directory
    listing)."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        cleanup_delta_log,
    )
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark, path, spark.range(10).select(F.col("id").alias("k")).coalesce(1)
    )
    for i in range(5):  # v1..v5
        t.append(
            spark.range(10 * (i + 1), 10 * (i + 2)).select(
                F.col("id").alias("k")
            )
        )
    export_delta_log(spark, t)
    write_delta_checkpoint(spark, path, version=2)
    v_at_3 = sorted(
        r["k"] for r in read_delta_snapshot(spark, path, version=3).collect()
    )
    write_delta_checkpoint(spark, path)  # newest at 5
    cleanup_delta_log(path, keep_after=2)  # horizon = the v2 checkpoint
    dd = os.path.join(path, "_delta_log")
    assert f"{0:020d}.json" not in os.listdir(dd)
    # versions BETWEEN the kept horizon and the head stay readable
    got = sorted(
        r["k"] for r in read_delta_snapshot(spark, path, version=3).collect()
    )
    assert got == v_at_3
    assert _replay_delta_log(dd, 3).version == 3
    with pytest.raises(FileNotFoundError):
        read_delta_snapshot(spark, path, version=1)


def test_narrower_compaction_serves_smaller_range(spark, tmp_path):
    """Review finding (round 10): keeping only the widest compaction per
    start discarded a narrower one that legally covers a smaller
    time-travel range. Selection now picks the widest FITTING range."""
    t, path = _mk(spark, tmp_path)
    v3 = sorted(
        (r["k"], r["v"])
        for r in read_delta_snapshot(spark, path, version=3).collect()
    )
    write_delta_compaction(path, 1, 2)
    write_delta_compaction(path, 1, 3)
    dd = os.path.join(path, "_delta_log")
    for v in (1, 2, 3):
        os.remove(os.path.join(dd, f"{v:020d}.json"))
    # version 2 resolves through the NARROWER [1,2] compaction
    assert read_delta_snapshot(spark, path, version=2).count() > 0
    got = sorted(
        (r["k"], r["v"])
        for r in read_delta_snapshot(spark, path, version=3).collect()
    )
    assert got == v3
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    assert _replay_delta_log(dd, 2).version == 2
