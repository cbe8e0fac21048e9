"""The txlog snapshot: one fold of the log per operation, from the newest
checkpoint. Pins what it buys and what it must not change:

- the JSON loads an operation pays do not grow with the log (they are
  bounded by the checkpoint interval), and a MERGE lists the log a few
  times, not once per accessor;
- a table whose log is checkpointed every few commits answers every
  accessor and every time-travel read exactly as the same table with
  no checkpoint at all — before and after ``cleanup_log``;
- ``history()`` reports each commit's TRUE file delta, also at a
  checkpoint commit (whose recorded adds are the whole live list).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import airbnb_listings_data_pipelines_spark.operators.txlog as txmod
from airbnb_listings_data_pipelines_spark.operators.deltalog import (
    read_delta_snapshot,
)
from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    merge_into_txlog,
)

SCHEMA = "id long, value long"


def _table(spark, path, n=400, files=4):
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(n)], SCHEMA
    ).repartitionByRange(files, "id").sortWithinPartitions("id")
    return TxLogTable.create(spark, str(path), df)


class _LogIO:
    """Counts JSON loads of commit files and listings of the log dir."""

    def __init__(self, monkeypatch):
        self.loads = 0
        self.listings = 0
        real_load, real_listdir = json.load, os.listdir

        def load(fh, *a, **kw):
            if "_txlog" in str(getattr(fh, "name", "")):
                self.loads += 1
            return real_load(fh, *a, **kw)

        def listdir(path="."):
            if str(path).rstrip("/").endswith("_txlog"):
                self.listings += 1
            return real_listdir(path)

        monkeypatch.setattr(json, "load", load)
        monkeypatch.setattr(os, "listdir", listdir)

    def measure(self, fn):
        self.loads = self.listings = 0
        fn()
        return self.loads, self.listings


def _grow_to(t, head):
    """Metadata commits until the log's newest version is ``head``."""
    while t.version() < head:
        t.set_properties({"grow": str(t.version())})


def test_loads_per_op_do_not_grow_with_the_log(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t")
    io = _LogIO(monkeypatch)

    def ops(spark, path):
        upsert = spark.createDataFrame(
            [(i, -i) for i in range(0, 400, 40)] + [(1000, 1)], SCHEMA
        )
        return {
            "merge": lambda: merge_into_txlog(
                spark, TxLogTable(spark, path), upsert, ["id"]
            ),
            "delete": lambda: TxLogTable(spark, path).delete_where(
                "id BETWEEN 100 AND 110", prune=("id", 100, 110)
            ),
            "row_count": lambda: TxLogTable(spark, path).row_count(),
            "read": lambda: TxLogTable(spark, path).read(),
        }

    counts = {}
    for head in (24, 204):  # log lengths 25 and 205: one checkpoint phase
        _grow_to(t, head)
        counts[head] = {
            name: io.measure(fn) for name, fn in ops(spark, t.path).items()
        }
    for name in counts[24]:
        loads_short, _ = counts[24][name]
        loads_long, _ = counts[204][name]
        assert loads_short == loads_long, (name, counts)
        assert loads_long <= 2 * txmod._CHECKPOINT_EVERY, (name, counts)
    assert counts[204]["merge"][1] <= 5, counts
    assert counts[204]["row_count"][1] == 1, counts


def test_latest_version_is_one_listing_and_no_load(spark, tmp_path, monkeypatch):
    from airbnb_listings_data_pipelines_spark.operators import logfold

    t = _table(spark, tmp_path / "t", n=20, files=1)
    _grow_to(t, 30)
    io = _LogIO(monkeypatch)
    loads, listings = io.measure(lambda: logfold.latest_version(t.log_dir))
    assert (loads, listings) == (0, 1)
    assert logfold.latest_version(t.log_dir) == 30
    loads, listings = io.measure(lambda: t.version())
    assert (loads, listings) == (0, 1)


def test_history_reports_true_deltas_at_a_checkpoint(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 5)
    t = _table(spark, tmp_path / "t", n=80, files=8)
    _grow_to(t, 4)
    # a one-file COW delete landing ON the checkpoint version
    v = t.delete_where("id BETWEEN 3 AND 4", prune=("id", 3, 4))
    assert v == 5
    with open(os.path.join(t.log_dir, "000000000005.json")) as fh:
        assert json.load(fh)["checkpoint"], "v5 must be a checkpoint commit"
    h = {r["version"]: r for r in t.history()}
    assert (h[5]["op"], h[5]["n_adds"], h[5]["n_removes"]) == ("delete", 1, 1)
    assert (h[0]["n_adds"], h[0]["n_removes"]) == (8, 0)
    # a metadata commit on a checkpoint changes no file
    _grow_to(t, 9)
    t.set_properties({"on": "checkpoint"})
    assert t.history()[-1]["version"] == 10
    assert (t.history()[-1]["n_adds"], t.history()[-1]["n_removes"]) == (0, 0)


# ------------------------------------------------------- differential


def _sig(stats: dict, f: str) -> str:
    """A data file named by its content (its recorded stats): the two
    tables write identical files under different uuid names. Row ids
    are left out: a commit assigns base row ids in file-NAME order, so
    the two tables number the same rows differently."""
    st = json.loads(json.dumps(stats.get(f)))
    for k in ("minValues", "maxValues", "nullCount"):
        (st or {}).get(k, {}).pop("_rt_row_id", None)
    return json.dumps(st, sort_keys=True)


def _view(t: TxLogTable, v: int) -> dict:
    """Every accessor of ``t`` at version ``v``, file names normalized."""
    stats = t.stats_at(v)
    bases, hw = t.row_tracking_meta(v)
    files = t._replay(v)[1]
    rows = sorted(map(tuple, t.read_version(v).collect()))
    return {
        "files": sorted(_sig(stats, f) for f in files),
        "stats": sorted(_sig(stats, f) for f in stats),
        "dvs": sorted(
            (_sig(stats, f), d["cardinality"]) for f, d in t.dvs(v).items()
        ),
        "row_count": t.row_count(v),
        "rows": rows,
        "checks": t.checks(v),
        "properties": t.properties(v),
        "row_hw": hw,
        "based_live": sorted(_sig(stats, f) for f in files if f in bases),
        "identity": t.identity_meta(v),
        "generated": t.generated_exprs(v),
        "clustering": t.clustering_columns(v),
        "row_tracking": t.row_tracking_enabled(v),
        "mapping": sorted(t._snapshot(v).mapping or {}),
        "schema": t._snapshot(v).schema,
    }


def _head(t: TxLogTable) -> dict:
    return {
        "version": t.version(),
        "partition": t.partition_meta(),
        "txn": t.last_txn_version("app"),
        "read": sorted(map(tuple, t.read().collect())),
    }


def _feed(t: TxLogTable, head: int) -> list:
    """The change feed over every commit, as row counts per (version,
    change type) — file names differ between the tables, rows do not."""
    df = t.read_changes(1, head)
    return sorted(
        map(tuple, df.groupBy("_commit_version", "_change_type").count().collect())
    )


def test_checkpointed_fold_equals_uncheckpointed_fold(spark, tmp_path, monkeypatch):
    """One op sequence on two tables, one checkpointed every 5 commits
    and one never: every accessor, history, the change feed and the Delta
    export agree at every version, and the accessors again on the
    versions the checkpointed table retains after cleanup_log."""
    every = {"ck": 5, "flat": 10**6}
    tables = {
        name: _table(spark, tmp_path / name, n=60, files=3) for name in every
    }

    def both(op):
        for name, t in tables.items():
            monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", every[name])
            op(t)

    def rows(lo, hi, value):
        return spark.createDataFrame(
            [(i, value) for i in range(lo, hi)], SCHEMA
        )

    both(lambda t: t.append(rows(100, 110, 1)))
    both(lambda t: merge_into_txlog(spark, t, rows(5, 15, 7), ["id"]))
    both(lambda t: t.delete_where("id = 20", mode="dv"))
    both(lambda t: t.update_where("id = 21", {"value": "0"}, mode="dv"))
    both(lambda t: t.delete_where("id BETWEEN 30 AND 32"))
    both(lambda t: t.update_where("id = 40", {"value": "value + 1"}))
    both(lambda t: t.add_check("value_pos", "value >= 0"))
    both(lambda t: t.set_properties({"team": "core", "tier": "gold"}))
    both(lambda t: t.append(rows(200, 205, 2), txn=("app", 7)))
    both(lambda t: t.optimize(target_files=2))
    both(lambda t: t.unset_properties(["tier"]))
    both(lambda t: t.drop_check("value_pos"))
    both(lambda t: t.restore(3))
    both(lambda t: t.rename_column("value", "amount"))
    both(lambda t: t.append(rows(300, 303, 3).withColumnRenamed("value", "amount"), txn=("app", 8)))
    both(lambda t: t.cluster_by(["id"]))
    both(lambda t: t.set_properties({"delta.enableRowTracking": "true"}))
    both(
        lambda t: merge_into_txlog(
            spark, t, rows(50, 52, 9).withColumnRenamed("value", "amount"), ["id"]
        )
    )
    both(lambda t: t.delete_where(F.col("id") == 301, mode="dv"))
    both(lambda t: t.optimize())

    ck, flat = tables["ck"], tables["flat"]
    head = ck.version()
    assert head == flat.version() and head > 3 * every["ck"]
    checkpoints = [
        v
        for v in range(1, head + 1)
        if json.load(open(os.path.join(ck.log_dir, f"{v:012d}.json"))).get("checkpoint")
    ]
    assert checkpoints, "the checkpointed table wrote no checkpoint"
    for v in range(head + 1):
        assert _view(ck, v) == _view(flat, v), f"version {v}"
    assert _head(ck) == _head(flat)
    assert _head(ck)["txn"] == 8
    # the per-commit passes (logfold.walk) agree too: history, the
    # change feed and the Delta export, at every version
    assert ck.history() == flat.history()
    assert _feed(ck, head) == _feed(flat, head)
    for t in (ck, flat):
        assert t.to_delta_log() == head
        for v in range(head + 1):
            d, n = read_delta_snapshot(spark, t.path, version=v), t.read_version(v)
            assert d.columns == n.columns, f"delta export v{v} columns"
            assert sorted(map(tuple, d.collect())) == sorted(
                map(tuple, n.collect())
            ), f"delta export v{v} rows"

    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", every["ck"])
    deleted = ck.cleanup_log(retain_versions=6)
    assert deleted, "cleanup_log truncated nothing"
    fresh = TxLogTable(spark, ck.path)
    oldest = fresh._snapshot().oldest
    assert oldest > 0
    for v in range(oldest, head + 1):
        assert _view(fresh, v) == _view(flat, v), f"version {v} after cleanup"
    with pytest.raises(FileNotFoundError):
        fresh.read_version(oldest - 1)
    got, want = _head(fresh), _head(flat)
    assert got["version"] == want["version"] + 1  # the cleanup audit commit
    assert {k: got[k] for k in ("partition", "txn", "read")} == {
        k: want[k] for k in ("partition", "txn", "read")
    }
