"""V2 checkpoints (Delta PROTOCOL.md "V2 Checkpoints" / the v2Checkpoint
table feature): UUID-named checkpoint spec files whose add/remove file
actions live in parquet SIDECARS under ``_delta_log/_sidecars/``.

Covers both sides of the seam:
- WRITE: ``delta.checkpointPolicy=v2`` (the real Delta table property)
  upgrades the exported protocol to carry the v2Checkpoint table
  feature; ``write_delta_checkpoint`` then emits the v2 form.
- READ: both independent foreign-Delta readers (operators/deltalog's
  Spark replay and sources/txlog_source's pyarrow stream planner)
  bootstrap from v2 checkpoints — including hand-built PARQUET spec
  files a JVM writer would produce, which this repo's writer never
  emits (manifest-format independence).
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
)
from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable


V2_NAME = re.compile(r"\d{20}\.checkpoint\.[^.]+\.(json|parquet)")


def _mk(spark, tmp_path, n=100, policy_first=True):
    path = str(tmp_path / "t")
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = TxLogTable.create(spark, path, df.repartition(4))
    if policy_first:
        t.set_properties({"delta.checkpointPolicy": "v2"})
    return t, path


def _expire_json_head(delta_dir: str, through: int) -> None:
    for f in sorted(os.listdir(delta_dir)):
        m = re.fullmatch(r"(\d{20})\.json", f)
        if m and int(m.group(1)) <= through:
            os.remove(os.path.join(delta_dir, f))


def test_v2_checkpoint_structure_and_protocol(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    t.delete_where("k % 10 = 0", mode="dv")
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path)  # v2 derived from the property
    dd = os.path.join(path, "_delta_log")
    names = sorted(os.listdir(dd))
    specs = [f for f in names if V2_NAME.fullmatch(f)]
    assert len(specs) == 1 and specs[0].startswith(f"{v:020d}.")
    # no classic checkpoint was written alongside
    assert not any(
        re.fullmatch(r"\d{20}\.checkpoint\.parquet", f) for f in names
    )
    lines = [
        json.loads(s)
        for s in open(os.path.join(dd, specs[0])).read().splitlines()
        if s.strip()
    ]
    # exactly one checkpointMetadata, matching the file-name version
    cms = [a["checkpointMetadata"] for a in lines if "checkpointMetadata" in a]
    assert [cm["version"] for cm in cms] == [v]
    # file actions live in sidecars, never inline next to sidecar refs
    sidecars = [a["sidecar"] for a in lines if "sidecar" in a]
    assert sidecars and not any("add" in a or "remove" in a for a in lines)
    for s in sidecars:
        full = os.path.join(dd, "_sidecars", s["path"])
        assert os.path.exists(full)
        assert s["sizeInBytes"] == os.path.getsize(full)
    # the protocol carries the table feature (readers that cannot
    # resolve UUID-named checkpoints must refuse, not miss them)
    protos = [a["protocol"] for a in lines if "protocol" in a]
    assert protos and "v2Checkpoint" in protos[0]["readerFeatures"]
    assert "v2Checkpoint" in protos[0]["writerFeatures"]
    lc = json.load(open(os.path.join(dd, "_last_checkpoint")))
    assert lc["version"] == v and "parts" not in lc


def test_v2_refused_without_feature(spark, tmp_path):
    t, path = _mk(spark, tmp_path, policy_first=False)
    export_delta_log(spark, t)
    with pytest.raises(ValueError, match="v2Checkpoint"):
        write_delta_checkpoint(spark, path, v2=True)
    # and v2=None derives classic from the absent property
    write_delta_checkpoint(spark, path)
    dd = os.path.join(path, "_delta_log")
    assert any(
        re.fullmatch(r"\d{20}\.checkpoint\.parquet", f)
        for f in os.listdir(dd)
    )


def test_v2_roundtrip_after_log_cleanup(spark, tmp_path):
    """The checkpoint is the only source of expired state: delete the
    JSON head at/below it and both independent readers must still
    reconstruct the snapshot — live files, DVs, schema, tombstone-free."""
    t, path = _mk(spark, tmp_path)
    t.delete_where("k % 10 = 0", mode="dv")
    t.update_where("k % 7 = 1", {"v": F.col("v") + F.lit(1)}, mode="dv")
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path, parts=3)
    dd = os.path.join(path, "_delta_log")
    assert len(os.listdir(os.path.join(dd, "_sidecars"))) == 3
    before = read_delta_snapshot(spark, path)
    want = sorted((r["k"], r["v"]) for r in before.collect())
    _expire_json_head(dd, v)
    after = read_delta_snapshot(spark, path)
    assert sorted((r["k"], r["v"]) for r in after.collect()) == want
    # the DataSource planner's pyarrow fold sees the same live set
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    r = _replay_delta_log(dd)
    assert r.version == v
    assert len(r.live) > 0
    assert sum(1 for a in r.live.values() if a.get("deletionVector")) > 0


def test_v2_checkpoint_version_mismatch_is_loud(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path)
    dd = os.path.join(path, "_delta_log")
    spec = next(f for f in os.listdir(dd) if V2_NAME.fullmatch(f))
    # corrupt: rename the spec file to claim a different version
    wrong = f"{v + 1:020d}." + spec.split(".", 1)[1]
    os.rename(os.path.join(dd, spec), os.path.join(dd, wrong))
    with open(os.path.join(dd, "_last_checkpoint"), "w") as fh:
        json.dump({"version": v + 1, "size": 1}, fh)
    # fake the now-required commit so the version exists
    with pytest.raises((ValueError, FileNotFoundError)):
        read_delta_snapshot(spark, path)


def test_v2_missing_sidecar_is_loud(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path)
    dd = os.path.join(path, "_delta_log")
    sc_dir = os.path.join(dd, "_sidecars")
    for f in os.listdir(sc_dir):
        os.remove(os.path.join(sc_dir, f))
    _expire_json_head(dd, v)
    with pytest.raises(FileNotFoundError, match="sidecar"):
        read_delta_snapshot(spark, path)


def test_foreign_parquet_manifest_fixture(spark, tmp_path):
    """A v2 checkpoint whose SPEC FILE is parquet (what the JVM writer
    emits; this repo's writer always emits json manifests) — hand-built
    with pyarrow straight from the spec, so reading it exercises a
    format this repo never wrote."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t, path = _mk(spark, tmp_path)
    t.delete_where("k % 10 = 0", mode="dv")
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path)
    dd = os.path.join(path, "_delta_log")
    spec = next(f for f in os.listdir(dd) if V2_NAME.fullmatch(f))
    lines = [
        json.loads(s)
        for s in open(os.path.join(dd, spec)).read().splitlines()
        if s.strip()
    ]
    os.remove(os.path.join(dd, spec))  # replace json spec with parquet

    for a in lines:
        # pyarrow cannot write an empty struct; JVM checkpoints store
        # format.options as map<string,string>, which readers ignore
        if "metaData" in a and not (a["metaData"].get("format") or {}).get(
            "options"
        ):
            a["metaData"]["format"].pop("options", None)

    def col(key):
        return [a.get(key) for a in lines]

    tbl = pa.table(
        {
            "checkpointMetadata": col("checkpointMetadata"),
            "protocol": col("protocol"),
            "metaData": col("metaData"),
            "sidecar": col("sidecar"),
        }
    )
    pq.write_table(
        tbl, os.path.join(dd, f"{v:020d}.checkpoint.fixturejvm0001.parquet")
    )
    _expire_json_head(dd, v)
    snap = read_delta_snapshot(spark, path)
    assert snap.count() == 90
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    r = _replay_delta_log(dd)
    assert r.version == v and len(r.live) > 0


def test_incremental_export_upgrades_protocol(spark, tmp_path):
    """Property set AFTER the first export: the next exported commit
    must latch the protocol up to table features (monotonic upgrade),
    and a v2 checkpoint becomes writable only from that point."""
    t, path = _mk(spark, tmp_path, policy_first=False)
    export_delta_log(spark, t)
    with pytest.raises(ValueError, match="v2Checkpoint"):
        write_delta_checkpoint(spark, path, v2=True)
    t.set_properties({"delta.checkpointPolicy": "v2"})
    export_delta_log(spark, t)
    v = write_delta_checkpoint(spark, path)
    dd = os.path.join(path, "_delta_log")
    assert any(f.startswith(f"{v:020d}.checkpoint.") for f in os.listdir(dd))
    _expire_json_head(dd, v)
    assert read_delta_snapshot(spark, path).count() == 100


def test_stream_tail_bootstraps_from_v2_checkpoint(spark, tmp_path):
    """The foreign-Delta CDF tail's range planner bootstraps its
    pre-range state from the newest checkpoint below the range — with a
    v2 checkpoint there, the poll must plan without the expired JSON."""
    t, path = _mk(spark, tmp_path, n=50)
    t.delete_where("k % 10 = 0", mode="dv")  # v2 commit
    export_delta_log(spark, t)
    ckv = write_delta_checkpoint(spark, path)
    t.delete_where("k % 7 = 3", mode="dv")  # commit after the checkpoint
    export_delta_log(spark, t)
    dd = os.path.join(path, "_delta_log")
    _expire_json_head(dd, ckv)
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
        delta_deltas_full,
    )

    recs = delta_deltas_full(dd, ckv + 1, ckv + 1)
    assert [r["v"] for r in recs] == [ckv + 1]
    live = _replay_delta_log(dd).live
    assert len(live) > 0
