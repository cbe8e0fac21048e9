"""Merge-on-read MERGE (``merge_into_txlog(mode='dv')``) — Delta's
deletion-vector MERGE design: matched deletes and CHANGED matched updates
record positions in a DV sidecar, only update post-images + inserts write
new files, no-op updates touch nothing, and the byte cost scales with
changed rows instead of touched files. The clause plan is SHARED with the
COW merge (merge.prepare_clause_plan), so every test here pins semantic
equality against a COW twin."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    CheckViolation,
    TxLogTable,
    merge_into_txlog,
)


def _mk(spark, path, n=40, parts=4):
    return TxLogTable.create(
        spark,
        str(path),
        spark.createDataFrame(
            [(k, f"v{k}", float(k)) for k in range(n)],
            "k int, v string, amt double",
        ).repartition(parts),
    )


def _rows(t):
    return sorted(map(tuple, t.read().collect()))


CLAUSES = {
    "matched": [
        {"cond": "s.bump < 0", "action": "delete"},
        {"cond": "s.bump > 50", "action": "update",
         "set": {"amt": "t.amt + s.bump"}},
        {"cond": None, "action": "update", "set": {"amt": "t.amt"}},  # no-op
    ],
    "not_matched": [
        {"cond": None, "values": {"k": "s.k", "amt": "s.bump"}},
    ],
    "not_matched_by_source": [
        {"cond": "t.k >= 38", "action": "delete"},
    ],
}


def _src(spark):
    return spark.createDataFrame(
        [(1, 100.0), (2, 5.0), (3, -1.0), (99, 9.0)], "k int, bump double"
    )


def test_dv_merge_equals_cow_twin_full_clause_surface(spark, tmp_path):
    """Same clauses, same source: the DV merge's final table must equal
    the COW merge's — conditional update/delete, a no-op update clause,
    inserts, and NOT MATCHED BY SOURCE in one statement — and the DV
    table must NOT have rewritten its untouched-row files."""
    a = _mk(spark, tmp_path / "a")
    b = _mk(spark, tmp_path / "b")
    files_before = set(a.files())
    merge_into_txlog(spark, a, _src(spark), ["k"], clauses=CLAUSES, mode="dv")
    merge_into_txlog(spark, b, _src(spark), ["k"], clauses=CLAUSES)
    assert _rows(a) == _rows(b)
    # merge-on-read: every pre-merge file still live (positions DV'd out)
    assert files_before <= set(a.files())
    assert a.dvs(), "the merge recorded deletion vectors"
    # the no-op clause (k=2: SET amt = t.amt) DV'd nothing
    total = sum(d["cardinality"] for d in a.dvs().values())
    # doomed rows: k=3 delete, k=1 changed update, k=38, k=39 nmbs delete
    assert total + len([f for f in files_before if f not in a.files()]) >= 0
    feed = sorted(
        (r._change_type, r.k)
        for r in a.read_changes(1, 1).collect()
    )
    assert ("delete", 3) in feed and ("delete", 38) in feed
    assert ("insert", 99) in feed and ("insert", 1) in feed
    assert ("delete", 2) not in feed and ("insert", 2) not in feed


def test_dv_merge_simple_form_and_feed_parity(spark, tmp_path):
    """Simple-form upsert under mode='dv': table equals the COW twin AND
    the change feeds are row-identical (DV delta + new files on one
    side, netted rewrite on the other)."""
    a = _mk(spark, tmp_path / "a")
    b = _mk(spark, tmp_path / "b")
    src = spark.createDataFrame(
        [(3, "M", 3.5), (7, "M", 7.5), (77, "new", 77.0)],
        "k int, v string, amt double",
    )
    merge_into_txlog(spark, a, src, ["k"], mode="dv")
    merge_into_txlog(spark, b, src, ["k"])
    assert _rows(a) == _rows(b)

    def _feed(t):
        return sorted(
            (r._change_type, r.k, r.v, r.amt)
            for r in t.read_changes(1, 1).collect()
        )

    assert _feed(a) == _feed(b)


def test_dv_merge_byte_cost_sliver_vs_rewrite(spark, tmp_path):
    """THE cost model: a 1-row-per-file upsert against a multi-file table.
    COW rewrites every touched file; DV writes one sidecar + one sliver
    file of just the changed rows. Data bytes written by the DV commit
    must be well under the COW commit's."""
    # 4 x 1000-row files: the >5x sliver-vs-rewrite gap is file-size
    # driven, so halving the FILE COUNT (round-14 suite budget) keeps
    # the per-file ratio while halving the 2x(create+appends) build
    n, files = 4000, 4
    per = n // files

    def _mk_filed(path):
        # one EXPLICIT file per key range: create with batch 0, append
        # the rest — deterministic layout, no range-sampler guesswork
        def batch(i):
            return spark.createDataFrame(
                [
                    (k, f"v{k}", float(k))
                    for k in range(i * per, (i + 1) * per)
                ],
                "k int, v string, amt double",
            ).coalesce(1)

        t = TxLogTable.create(spark, str(path), batch(0))
        for i in range(1, files):
            t.append(batch(i))
        return t

    a = _mk_filed(tmp_path / "a")
    b = _mk_filed(tmp_path / "b")
    assert len(a.files()) == files and len(b.files()) == files
    ks = [i * per for i in range(files)]  # one updated key per file
    src = spark.createDataFrame(
        [(k, "UPD", float(k) + 0.5) for k in ks], "k int, v string, amt double"
    )

    def commit_bytes(t):
        with open(
            os.path.join(t.log_dir, f"{t.version():012d}.json")
        ) as fh:
            c = json.load(fh)
        data = sum(
            os.path.getsize(os.path.join(t.path, f)) for f in c["adds"]
        )
        dv = sum(
            os.path.getsize(os.path.join(t.path, d["sidecar"]))
            for d in (c.get("dvs") or {}).values()
        )
        return data + dv, c

    merge_into_txlog(spark, a, src, ["k"], mode="dv")
    merge_into_txlog(spark, b, src, ["k"])
    assert _rows(a) == _rows(b)
    dv_bytes, dv_c = commit_bytes(a)
    cow_bytes, cow_c = commit_bytes(b)
    assert len(cow_c["removes"]) == files, "COW rewrote every touched file"
    assert not dv_c["removes"], "DV retired nothing"
    assert len(dv_c["dvs"]) == files, "one vector per touched file"
    assert dv_bytes * 5 < cow_bytes, (
        f"sliver vs rewrite: dv={dv_bytes} cow={cow_bytes}"
    )


def test_dv_merge_full_cover_retires_file(spark, tmp_path):
    """A file whose vector would cover every row is retired outright —
    delete every key of one file via matched-delete clauses."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k int, amt double"
        ).repartitionByRange(2, "k"),  # file A: 0-4, file B: 5-9
    )
    src = spark.createDataFrame([(k,) for k in range(5)], "k int")
    merge_into_txlog(
        spark, t, src, ["k"],
        clauses={"matched": [{"action": "delete"}]}, mode="dv",
    )
    assert sorted(r.k for r in t.read().collect()) == list(range(5, 10))
    with open(os.path.join(t.log_dir, f"{1:012d}.json")) as fh:
        c = json.load(fh)
    assert len(c["removes"]) == 1, "fully-covered file retired, no DV"
    assert not c.get("dvs"), "nothing left to vector"
    assert not os.path.isdir(os.path.join(t.path, "_dv")) or not os.listdir(
        os.path.join(t.path, "_dv")
    ), "unreferenced sidecar swept"


def test_dv_merge_stacks_on_prior_vectors(spark, tmp_path):
    """A DV merge on files that ALREADY carry vectors (from dv DML)
    unions positions — full-union-per-file invariant, one sidecar."""
    t = _mk(spark, tmp_path / "t", n=20, parts=2)
    t.delete_where("k in (0, 10)", mode="dv")
    src = spark.createDataFrame(
        [(1, "M", 1.5), (11, "M", 11.5)], "k int, v string, amt double"
    )
    merge_into_txlog(spark, t, src, ["k"], mode="dv")
    got = {(r.k, r.v) for r in t.read().collect()}
    assert (1, "M") in got and (11, "M") in got
    assert {r[0] for r in got} == set(range(1, 10)) | set(range(11, 20))
    # 2 prior deletes + 2 merge-update pre-images, whatever the file split
    assert sum(d["cardinality"] for d in t.dvs().values()) == 4
    # full-union invariant: every file the MERGE touched points at the
    # merge's one sidecar, prior positions re-unioned into it
    with open(os.path.join(t.log_dir, f"{t.version():012d}.json")) as fh:
        mc = json.load(fh)
    merged_refs = {d["sidecar"] for d in (mc.get("dvs") or {}).values()}
    assert len(merged_refs) == 1


def test_dv_merge_insert_only_writes_no_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    src = spark.createDataFrame(
        [(3, "x", 0.0), (50, "new", 50.0)], "k int, v string, amt double"
    )
    merge_into_txlog(
        spark, t, src, ["k"],
        clauses={"not_matched": [{"values": None}]}, mode="dv",
    )
    got = _rows(t)
    assert (3, "v3", 3.0) in got and (50, "new", 50.0) in got
    assert len(got) == 11 and not t.dvs()


def test_dv_merge_evolve_schema_and_column_mapping(spark, tmp_path):
    """evolve_schema widens under mode='dv': old DV'd files null-fill;
    on a column-mapped table the new column writes under a fresh
    physical name recorded on the merge commit."""
    for mapped in (False, True):
        t = _mk(spark, tmp_path / f"t{mapped}", n=10, parts=1)
        if mapped:
            t.rename_column("v", "label")
        src = spark.createDataFrame(
            [(1, 100.0), (77, 777.0)], "k int, extra double"
        )
        merge_into_txlog(
            spark, t, src, ["k"],
            clauses={
                "matched": [{"action": "update", "set": {"extra": "s.extra"}}],
                "not_matched": [{"values": {"k": "s.k", "extra": "s.extra"}}],
            },
            evolve_schema=True, mode="dv",
        )
        got = {(r.k, r.extra) for r in t.read().collect()}
        assert (1, 100.0) in got and (77, 777.0) in got
        assert (2, None) in got, "untouched DV'd file null-fills"
        if mapped:
            mp = t._snapshot().mapping
            assert "extra" in mp and mp["extra"].startswith("col_")


def test_dv_merge_check_constraint_gates_new_rows(spark, tmp_path):
    """A CHECK violation in the update post-images aborts BEFORE any
    sidecar or commit exists — table untouched."""
    t = _mk(spark, tmp_path / "t", n=10)
    t.add_check("amt_nonneg", "amt >= 0")
    src = spark.createDataFrame(
        [(1, "bad", -5.0)], "k int, v string, amt double"
    )
    with pytest.raises(CheckViolation):
        merge_into_txlog(spark, t, src, ["k"], mode="dv")
    assert t.version() == 1  # create + add_check
    assert not t.dvs() and len(_rows(t)) == 10


def test_dv_merge_conflict_retry_and_txn_idempotency(spark, tmp_path):
    """A racing append forces CommitConflict: the dv merge recomputes
    and lands; its orphan sidecar+files are swept. A txn-marked dv merge
    replayed is a no-op."""
    import unittest.mock as mock

    t = _mk(spark, tmp_path / "t", n=10)
    src = spark.createDataFrame(
        [(1, "M", 1.5)], "k int, v string, amt double"
    )
    orig_commit = TxLogTable.commit
    raced = {"done": False}

    def racing_commit(self, *a, **kw):
        if not raced["done"] and kw.get("op") == "merge":
            raced["done"] = True
            TxLogTable(spark, self.path).append(
                spark.createDataFrame(
                    [(500, "r", 0.0)], "k int, v string, amt double"
                )
            )
        return orig_commit(self, *a, **kw)

    with mock.patch.object(TxLogTable, "commit", racing_commit):
        merge_into_txlog(
            spark, t, src, ["k"], mode="dv", txn=("m", 1)
        )
    got = {(r.k, r.v) for r in t.read().collect()}
    assert (1, "M") in got and (500, "r") in got
    # orphan sweep: every _dv sidecar on disk is referenced
    live_sidecars = {d["sidecar"] for d in t.dvs().values()}
    on_disk = {
        f"_dv/{f}" for f in os.listdir(os.path.join(t.path, "_dv"))
    } if os.path.isdir(os.path.join(t.path, "_dv")) else set()
    assert on_disk == live_sidecars
    # replay: no-op
    v = t.version()
    merge_into_txlog(spark, t, src, ["k"], mode="dv", txn=("m", 1))
    assert t.version() == v


def test_dv_merge_rejects_cdc_and_full_rewrite(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=5)
    src = spark.createDataFrame([(1, "x", 0.0)], "k int, v string, amt double")
    with pytest.raises(ValueError, match="redundant with mode='dv'"):
        merge_into_txlog(spark, t, src, ["k"], mode="dv", cdc=True)
    with pytest.raises(ValueError, match="copy-on-write only"):
        merge_into_txlog(spark, t, src, ["k"], mode="dv", rewrite="full")
    with pytest.raises(ValueError, match="unknown MERGE mode"):
        merge_into_txlog(spark, t, src, ["k"], mode="bogus")


def test_dv_merge_partitioned_table(spark, tmp_path):
    """Partitioned target: vectors key the hive-pathed files; updates
    keep rows in their partitions; the read reattaches partition
    columns."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, k % 2, float(k)) for k in range(20)],
            "k int, g int, amt double",
        ),
        partition_by=["g"],
    )
    src = spark.createDataFrame(
        [(3, 1, 300.0), (4, 0, 400.0), (99, 1, 99.0)],
        "k int, g int, amt double",
    )
    merge_into_txlog(spark, t, src, ["k"], mode="dv")
    got = {(r.k, r.g, r.amt) for r in t.read().collect()}
    assert (3, 1, 300.0) in got and (4, 0, 400.0) in got and (99, 1, 99.0) in got
    assert len(got) == 21
    assert all("g=" in f for f in t.dvs()), "vectors key hive-pathed files"


def test_dv_merge_export_and_delta_replay(spark, tmp_path):
    """Composition: to_delta_log on a DV-merged table exports the
    vectors as Delta deletionVectors actions and the independent
    log-replay reader reproduces the snapshot."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _mk(spark, tmp_path / "t", n=30, parts=3)
    src = spark.createDataFrame(
        [(5, "M", 5.5), (15, "M", 15.5), (77, "new", 77.0)],
        "k int, v string, amt double",
    )
    merge_into_txlog(spark, t, src, ["k"], mode="dv")
    t.to_delta_log()
    got = read_delta_snapshot(spark, t.path)
    assert sorted(map(tuple, got.collect())) == _rows(t)


def test_dv_merge_duplicate_source_keys_exact_positions(spark, tmp_path):
    """Review finding (round 10): duplicate source keys yield one doomed
    JOIN row per duplicate at the SAME position — un-deduped, the
    vector cardinality inflates and a file whose unmatched rows are
    still live gets wrongly retired (silent data loss). Positions must
    be DISTINCT."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(3)], "k int, amt double"
        ).coalesce(1),  # ONE file of 3 rows
    )
    # source repeats key 0 three times: card would hit nrows=3 un-deduped
    src = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (0, 3.0)], "k int, bump double"
    )
    merge_into_txlog(
        spark, t, src, ["k"],
        clauses={"matched": [{"action": "delete"}]},
        mode="dv",
    )
    got = sorted(r.k for r in t.read().collect())
    assert got == [1, 2], "unmatched rows must survive"
    assert len(t.files()) == 1, "the file must NOT be retired"
    assert sum(d["cardinality"] for d in t.dvs().values()) == 1
    # duplicate UPDATE matches: one distinct position, THREE output rows
    # (the COW-twin duplication rule), vector exact
    t2 = TxLogTable.create(
        spark,
        str(tmp_path / "t2"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(3)], "k int, amt double"
        ).coalesce(1),
    )
    merge_into_txlog(
        spark, t2, src, ["k"],
        clauses={"matched": [
            {"action": "update", "set": {"amt": "t.amt + s.bump"}}
        ]},
        mode="dv",
    )
    assert sum(d["cardinality"] for d in t2.dvs().values()) == 1
    rows = sorted((r.k, r.amt) for r in t2.read().collect())
    assert rows == [(0, 1.0), (0, 2.0), (0, 3.0), (1, 1.0), (2, 2.0)]


@pytest.mark.parametrize("name", ["part one", "part%one"])
def test_dv_merge_uri_unsafe_basename_keeps_doomed_positions(
    spark, tmp_path, name
):
    """An adopted layout's basenames are whatever its writer chose. The
    scan reports each file as a percent-encoded URI, so a unique basename
    holding a space or ``%`` must not take the basename fast path: its
    doomed positions would match no file and the old rows stay live."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "adopted"
    root.mkdir()
    for stem, ks in ((name, range(0, 5)), ("plain", range(5, 10))):
        pq.write_table(
            pa.table({
                "k": pa.array(list(ks), pa.int32()),
                "v": [f"v{k}" for k in ks],
            }),
            str(root / f"{stem}.parquet"),
        )
    t = TxLogTable.convert(spark, str(root))
    src = spark.createDataFrame([(1, "N"), (6, "N")], "k int, v string")
    merge_into_txlog(spark, t, src, ["k"], mode="dv")
    assert _rows(t) == sorted(
        (k, "N" if k in (1, 6) else f"v{k}") for k in range(10)
    )
    assert sum(d["cardinality"] for d in t.dvs().values()) == 2
