"""Commit-log table format (operators/txlog): atomic MERGE, snapshot
isolation, optimistic concurrency, crash-orphan hygiene — the guarantees
the staged-swap backend documents as out of scope. Both MERGE backends
must produce identical logical results (one clause plan,
merge.prepare_clause_plan, behind every MERGE route)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators import merge as merge_mod
from airbnb_listings_data_pipelines_spark.operators import scd
from airbnb_listings_data_pipelines_spark.operators.txlog import (
    CommitConflict,
    TxLogTable,
    merge_into_txlog,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, ts int")


@pytest.fixture()
def table(spark, tmp_path):
    df = _df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)])
    return TxLogTable.create(spark, str(tmp_path / "t"), df)


def test_create_read_roundtrip(spark, table):
    assert table.version() == 0
    got = {(r.k, r.v) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_convert_adopts_existing_parquet_in_place(spark, tmp_path):
    path = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1)]).write.parquet(path)
    names_before = sorted(os.listdir(path))
    t = TxLogTable.convert(spark, path)
    assert {r.k for r in t.read().collect()} == {1}
    # no data rewrite: the original files are referenced, not copied
    assert all(n in os.listdir(path) for n in names_before)


# the three physical routes of a txlog MERGE: copy-on-write, copy-on-write
# with a change-data sidecar, and deletion vectors (merge-on-read)
MERGE_ROUTES = pytest.mark.parametrize(
    "route", [{}, {"cdc": True}, {"mode": "dv"}], ids=["cow", "cdc", "dv"]
)
# a row-level DELETE/UPDATE (delete_where, update_where) has the same
# three routes: one body per storage mode, so every assertion on
# semantics must hold on each
DML_ROUTES = MERGE_ROUTES


@MERGE_ROUTES
def test_merge_backends_agree(spark, tmp_path, table, route):
    source = _df(spark, [(2, "B", 2), (4, "d", 2)])
    # staged-swap backend on a parquet copy of the same data
    plain = str(tmp_path / "plain")
    table.read().write.parquet(plain)
    swap_result = merge_mod.merge_into_parquet(spark, plain, source, keys=["k"])
    tx_result = merge_into_txlog(spark, table, source, keys=["k"], **route)
    assert sorted(map(tuple, swap_result.collect())) == sorted(map(tuple, tx_result.collect()))
    assert {(r.k, r.v) for r in tx_result.collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d"),
    }
    assert table.version() == 1


@MERGE_ROUTES
def test_whole_row_merge_casts_to_stored_type(spark, tmp_path, route):
    """A whole-row source of a wider type lands under the STORED type on
    every route: files written as INT64 under a recorded ``int`` column
    would fail every later read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v int"),
    )
    source = spark.createDataFrame([(2, 200), (3, 300)], "k bigint, v bigint")
    merge_into_txlog(spark, t, source, keys=["k"], **route)
    out = t.read()
    assert dict(out.dtypes)["v"] == "int"
    assert sorted(map(tuple, out.collect())) == [(1, 10), (2, 200), (3, 300)]
    for f in t._replay()[1]:
        assert pq.read_schema(os.path.join(t.path, f)).field("v").type == pa.int32()


@MERGE_ROUTES
@pytest.mark.parametrize("identity", [False, True], ids=["plain", "identity"])
def test_whole_row_merge_contract_on_every_route(spark, tmp_path, route, identity):
    """One whole-row contract on every route and table kind: a source
    lacking a regular column is refused, never merged with the target's
    value kept on update and NULL on insert. Only engine-owned columns
    (identity, generated) may be omitted."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a", 1.0)], "k bigint, v string, w double"),
        identity={"rid": (1, 1)} if identity else None,
    )
    source = spark.createDataFrame([(1, "b"), (2, "c")], "k bigint, v string")
    with pytest.raises(AssertionError, match="source/target schemas must match"):
        merge_into_txlog(spark, t, source, keys=["k"], **route)
    assert t.version() == 0


def test_merge_delete_and_ignore(spark, table):
    source = _df(spark, [(1, "x", 2), (9, "z", 2)])
    out = merge_into_txlog(
        spark, table, source, keys=["k"], when_matched="delete", when_not_matched="ignore"
    )
    assert {r.k for r in out.collect()} == {2, 3}


def test_old_snapshot_files_survive_until_vacuum(spark, table):
    """The no-unavailability-window guarantee: a commit must not delete the
    files a concurrent reader's snapshot references."""
    _v, old_files = table._replay()
    # full rewrite: every old file is superseded, so each must survive the
    # commit (for concurrent readers) yet fall to vacuum. The touched
    # rewrite keeps most files LIVE instead — covered by the COW tests.
    merge_into_txlog(spark, table, _df(spark, [(1, "A", 2)]), keys=["k"], rewrite="full")
    for f in old_files:
        assert os.path.exists(os.path.join(table.path, f))  # still readable
    removed = table.vacuum()
    assert set(removed) >= set(old_files)
    # live snapshot untouched
    assert {(r.k, r.v) for r in table.read().collect()} == {
        (1, "A"), (2, "b"), (3, "c"),
    }


def test_crashed_writer_leaves_table_unchanged(spark, table):
    """Data files written without a commit are invisible and vacuumable."""
    orphans = table._write_data(_df(spark, [(99, "crash", 9)]))
    assert {r.k for r in table.read().collect()} == {1, 2, 3}  # unchanged
    assert set(table.vacuum()) == set(orphans)


def test_commit_conflict_detected(spark, table):
    v, files = table._replay()
    a1 = table._write_data(_df(spark, [(10, "w1", 2)]))
    a2 = table._write_data(_df(spark, [(11, "w2", 2)]))
    table.commit(adds=a1, removes=[], base_version=v, op="append")
    with pytest.raises(CommitConflict):
        table.commit(adds=a2, removes=[], base_version=v, op="append")


def test_merge_retries_after_conflict(spark, table, monkeypatch):
    """A racing commit between snapshot-read and commit: the merge must
    recompute on the winner's snapshot, not clobber it."""
    real_commit = TxLogTable.commit
    state = {"raced": False}

    def racing_commit(self, adds, removes, base_version, op, schema=None, txn=None, column_mapping=None, **kw):
        if not state["raced"]:
            state["raced"] = True
            # interleave a competing writer that wins version base+1
            w = TxLogTable(spark, self.path)
            wa = w._write_data(_df(spark, [(7, "raced", 5)]))
            real_commit(w, adds=wa, removes=[], base_version=base_version, op="append")
        return real_commit(self, adds, removes, base_version, op, schema=schema, txn=txn, column_mapping=column_mapping)

    monkeypatch.setattr(TxLogTable, "commit", racing_commit)
    out = merge_into_txlog(spark, table, _df(spark, [(2, "B", 2)]), keys=["k"])
    got = {(r.k, r.v) for r in out.collect()}
    # both the racing append AND the merge landed
    assert got == {(1, "a"), (2, "B"), (3, "c"), (7, "raced")}
    assert state["raced"]


def test_checkpoint_replay(spark, tmp_path, monkeypatch):
    import airbnb_listings_data_pipelines_spark.operators.txlog as txmod

    # shrink the checkpoint period (the established test seam, see
    # test_txlog_datasource): 8 one-row merges cross the boundary just
    # like 24 did at the default 20 — same replay shape, 1/3 the wall
    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 5)
    t = TxLogTable.create(spark, str(tmp_path / "ck"), _df(spark, [(0, "v0", 0)]))
    for i in range(1, 9):  # crosses the every-5 checkpoint boundary
        merge_into_txlog(spark, t, _df(spark, [(i, f"v{i}", i)]), keys=["k"])
    assert t.version() == 8
    assert {r.k for r in t.read().collect()} == set(range(9))
    ops = [h["op"] for h in t.history()]
    assert ops[0] == "create" and all(o == "merge" for o in ops[1:])


def test_scd2_upsert_on_both_backends(spark, tmp_path):
    dim = spark.createDataFrame(
        [(1, "x", "2020-01-01", None, True), (2, "y", "2020-01-01", None, True)],
        "k int, attr string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "x2", "2020-02-01"), (3, "z", "2020-02-01")],
        "k int, attr string, valid_from string",
    )
    expected = scd.scd2_upsert(dim, updates, ["k"], ["attr"])

    # persist the upserted dimension through each physical backend
    plain = str(tmp_path / "scd_plain")
    dim.write.parquet(plain)
    merge_mod.merge_into_parquet(
        spark, plain, expected, keys=["k", "valid_from"], when_matched="update"
    )
    tx = TxLogTable.create(spark, str(tmp_path / "scd_tx"), dim)
    merge_into_txlog(spark, tx, expected, keys=["k", "valid_from"])

    a = sorted(map(tuple, spark.read.parquet(plain).collect()))
    b = sorted(map(tuple, tx.read().collect()))
    assert a == b
    cur = {(r.k, r.attr) for r in tx.read().filter(F.col("is_current")).collect()}
    assert cur == {(1, "x2"), (2, "y"), (3, "z")}


def test_time_travel_reads_each_version(spark, table):
    merge_into_txlog(spark, table, _df(spark, [(4, "d", 2)]), keys=["k"])
    merge_into_txlog(spark, table, _df(spark, [(1, "a2", 3)]), keys=["k"])
    assert {r.k for r in table.read_version(0).collect()} == {1, 2, 3}
    assert {r.k for r in table.read_version(1).collect()} == {1, 2, 3, 4}
    v1_vals = {(r.k, r.v) for r in table.read_version(1).collect()}
    assert (1, "a") in v1_vals  # pre-update value still visible at v1
    latest = {(r.k, r.v) for r in table.read_version(table.version()).collect()}
    assert (1, "a2") in latest
    with pytest.raises(FileNotFoundError):
        table.read_version(-1)


def test_vacuum_retention_bounds_time_travel(spark, table):
    # full rewrites supersede v0's files (a touched-rewrite pure insert
    # would keep them live forever — nothing for retention to expire)
    merge_into_txlog(spark, table, _df(spark, [(4, "d", 2)]), keys=["k"], rewrite="full")
    merge_into_txlog(spark, table, _df(spark, [(5, "e", 3)]), keys=["k"], rewrite="full")
    # retain 2 versions: v1 and v2 stay readable, v0's files may go
    table.vacuum(retain_versions=2)
    assert {r.k for r in table.read_version(1).collect()} == {1, 2, 3, 4}
    assert {r.k for r in table.read_version(2).collect()} == {1, 2, 3, 4, 5}
    # default retention (1) drops everything but the live snapshot
    table.vacuum()
    assert {r.k for r in table.read().collect()} == {1, 2, 3, 4, 5}
    with pytest.raises(Exception):
        table.read_version(0).collect()


def test_optimize_compacts_atomically(spark, tmp_path):
    df = _df(spark, [(i, f"v{i}", 1) for i in range(20)]).repartition(8)
    t = TxLogTable.create(spark, str(tmp_path / "opt"), df)
    before = sorted(map(tuple, t.read().collect()))
    n_before = len(t.files())
    assert n_before > 1
    v = t.optimize(target_files=1)
    assert v == 1 and len(t.files()) == 1
    assert sorted(map(tuple, t.read().collect())) == before
    # pre-optimize snapshot still time-travel-readable until vacuumed
    assert len(t.read_version(0).collect()) == 20
    assert t.history()[-1]["op"] == "optimize"
    t.vacuum()
    assert sorted(map(tuple, t.read().collect())) == before


def test_file_skipping_prunes_and_preserves_results(spark, tmp_path):
    """read_where must hand the scan only footer-overlapping files while
    returning exactly the rows a full-scan filter would."""
    t = TxLogTable.create(
        spark, str(tmp_path / "skip"),
        spark.createDataFrame([(i, f"v{i}") for i in range(0, 100)], "k int, v string").coalesce(1),
    )
    # three more commits with disjoint key ranges -> disjoint footer envelopes
    for lo in (100, 200, 300):
        t.commit(
            adds=t._write_data(
                spark.createDataFrame(
                    [(i, f"v{i}") for i in range(lo, lo + 100)], "k int, v string"
                ).coalesce(1)
            ),
            removes=[],
            base_version=t.version(),
            op="append",
        )
    assert len(t.files()) == 4
    stats = t.file_stats(["k"])
    assert all("k" in env for env in stats.values())
    out = t.read_where("k", 210, 260)
    got = sorted(r.k for r in out.collect())
    assert got == list(range(210, 261))
    # plan evidence: only 1 of 4 files overlaps [210, 260]
    kept = [
        f for f, env in stats.items() if env["k"][0] <= 260 and env["k"][1] >= 210
    ]
    assert len(kept) == 1
    # non-overlapping range reads nothing
    assert t.read_where("k", 5000, 6000).count() == 0


# --------------------------------------------------- copy-on-write DML


def _ranged_table(spark, tmp_path, name="dml"):
    """Four files with disjoint k-ranges (0-99, 100-199, 200-299, 300-399)
    — the shape that makes 'only touched files rewritten' assertable."""
    t = TxLogTable.create(
        spark, str(tmp_path / name),
        spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k int, v string").coalesce(1),
    )
    for lo in (100, 200, 300):
        t.commit(
            adds=t._write_data(
                spark.createDataFrame(
                    [(i, f"v{i}") for i in range(lo, lo + 100)], "k int, v string"
                ).coalesce(1)
            ),
            removes=[], base_version=t.version(), op="append",
        )
    assert len(t.files()) == 4
    return t


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    t = _ranged_table(spark, tmp_path)
    before = set(t.files())
    v = t.delete_where("k >= 210 AND k < 220")
    after = set(t.files())
    assert v == t.version() and t.history()[-1]["op"] == "delete"
    # exactly one file held matching rows; the other three carry over
    assert len(before & after) == 3
    got = sorted(r.k for r in t.read().collect())
    assert got == [k for k in range(400) if not (210 <= k < 220)]
    # pre-delete snapshot still time-travel-readable
    assert t.read_version(v - 1).count() == 400


@DML_ROUTES
def test_delete_where_null_condition_keeps_rows(spark, table, route):
    # SQL DELETE: rows where the predicate is NULL are KEPT
    upd = _df(spark, [(9, None, 1)])
    t = merge_into_txlog(spark, table, upd, keys=["k"])
    table.delete_where(F.col("v") < "b", **route)  # NULL for k=9, TRUE for k=1
    got = {r.k for r in table.read().collect()}
    assert got == {2, 3, 9}


def test_delete_where_prune_hint_bounds_discovery(spark, tmp_path):
    t = _ranged_table(spark, tmp_path)
    # the prune hint must shrink the candidate list to the one file
    cands = t._prune_files(t.files(), "k", 210, 219)
    assert len(cands) == 1
    v = t.delete_where((F.col("k") >= 210) & (F.col("k") <= 219), prune=("k", 210, 219))
    assert t.read().count() == 390 and v == t.version()


def test_delete_where_noop_commits_faithful_history(spark, table):
    v0 = table.version()
    v = table.delete_where("k > 1000")
    assert v == v0 + 1
    h = table.history()[-1]
    assert h["op"] == "delete" and h["n_adds"] == 0 and h["n_removes"] == 0
    assert table.read().count() == 3


@DML_ROUTES
def test_update_where_sql_assignment_semantics(spark, tmp_path, route):
    t = TxLogTable.create(
        spark, str(tmp_path / "upd"),
        spark.createDataFrame([(1, 10, 20), (2, 30, 40)], "k int, a int, b int"),
    )
    # RHS sees PRE-update values: {a: b, b: a} swaps
    t.update_where("k = 1", {"a": "b", "b": "a"}, **route)
    got = {(r.k, r.a, r.b) for r in t.read().collect()}
    assert got == {(1, 20, 10), (2, 30, 40)}
    # assigned values cast to the column's existing type (schema stable)
    t.update_where("k = 2", {"a": F.lit(7.9)}, **route)
    assert dict(t.read().dtypes)["a"] == "int"
    assert {r.a for r in t.read().filter("k = 2").collect()} == {7}
    with pytest.raises(ValueError, match="absent columns"):
        t.update_where("k = 1", {"nope": F.lit(1)}, **route)


@DML_ROUTES
def test_update_on_map_column_table(spark, tmp_path, route):
    """Spark cannot compare maps with ``<=>``, so the no-op check
    compares a map by its sorted entries: an UPDATE on a table with a
    MAP column runs on every route, and on the row-exact feeds (cdc, dv)
    a row whose map the assignment leaves equal is no change."""
    t = TxLogTable.create(
        spark, str(tmp_path / "maps"),
        spark.createDataFrame(
            [(1, {"a": 1}), (2, {"b": 2, "c": 3})], "k int, m map<string,int>"
        ),
    )
    v = t.update_where(
        "k IN (1, 2)",
        {"m": "CASE WHEN k = 1 THEN map('a', 9) ELSE map('c', 3, 'b', 2) END"},
        **route,
    )
    assert {r.k: r.m for r in t.read().collect()} == {
        1: {"a": 9}, 2: {"b": 2, "c": 3},
    }
    feed = {
        (r.k, r["_change_type"])
        for r in t.read_changes(v, v, net=False).collect()
    }
    assert {(1, "delete"), (1, "insert")} <= feed
    if route:
        assert feed == {(1, "delete"), (1, "insert")}


@DML_ROUTES
def test_update_applies_all_assignments_or_none(spark, tmp_path, route):
    """The condition is evaluated once per row, so a row takes every
    assignment of the UPDATE or none — even when the condition is
    nondeterministic. Evaluated once per assigned column, ``rand()``
    would update ``v`` on some rows and ``g`` on others."""
    t = TxLogTable.create(
        spark, str(tmp_path / "torn"),
        spark.createDataFrame(
            [(i, f"v{i}", i) for i in range(2000)], "k int, v string, g int"
        ).coalesce(2),
    )
    t.update_where("rand() < 0.5", {"v": F.lit("X"), "g": F.lit(-1)}, **route)
    rows = t.read().collect()
    assert len(rows) == 2000
    torn = [r.k for r in rows if (r.v == "X") != (r.g == -1)]
    assert torn == []
    assert 0 < sum(r.g == -1 for r in rows) < 2000


def test_update_where_moves_rows_across_partitions(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(30)], "k int, p int, v int"
    )
    t = TxLogTable.create(spark, str(tmp_path / "pupd"), df, partition_by=["p"])
    t.update_where("k < 3", {"p": F.lit(9)})
    got = {(r.k, r.p) for r in t.read().filter("k < 3").collect()}
    assert got == {(0, 9), (1, 9), (2, 9)}
    # moved rows' files live under the new partition directory
    moved = [f for f in t.files() if f.startswith("p=9/")]
    assert moved
    # untouched partition rows unchanged
    assert t.read().count() == 30


def test_merge_touched_rewrites_only_matching_files(spark, tmp_path):
    t = _ranged_table(spark, tmp_path, "mrg")
    before = set(t.files())
    src = spark.createDataFrame([(250, "UPD"), (999, "NEW")], "k int, v string")
    out = merge_into_txlog(spark, t, src, keys=["k"])  # default rewrite='touched'
    after = set(t.files())
    # only the 200-299 file was rewritten; 3 of 4 carried over
    assert len(before & after) == 3
    vals = {r.k: r.v for r in out.filter("k in (250, 999, 50)").collect()}
    assert vals == {250: "UPD", 999: "NEW", 50: "v50"}
    assert out.count() == 401


def test_merge_touched_equals_full_including_evolution(spark, tmp_path):
    base = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "k int, v string")
    src = spark.createDataFrame(
        [(7, "u7", 1.5), (70, "n70", 2.5)], "k int, v string, w double"
    )
    t1 = TxLogTable.create(spark, str(tmp_path / "full"), base.repartition(4))
    t2 = TxLogTable.create(spark, str(tmp_path / "touched"), base.repartition(4))
    a = merge_into_txlog(spark, t1, src, ["k"], evolve_schema=True, rewrite="full")
    b = merge_into_txlog(spark, t2, src, ["k"], evolve_schema=True, rewrite="touched")
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # untouched pre-evolution files null-fill the new column at read time
    assert t2.read().filter("k = 3").collect()[0]["w"] is None


@DML_ROUTES
def test_delete_retries_after_conflict(spark, table, monkeypatch, route):
    real_commit = TxLogTable.commit
    state = {"raced": False}

    def racing_commit(self, adds, removes, base_version, op, schema=None, **kw):
        if not state["raced"] and op == "delete":
            state["raced"] = True
            w = TxLogTable(spark, self.path)
            wa = w._write_data(_df(spark, [(7, "raced", 5)]))
            real_commit(w, adds=wa, removes=[], base_version=base_version, op="append")
        return real_commit(
            self, adds, removes, base_version, op, schema=schema, **kw
        )

    monkeypatch.setattr(TxLogTable, "commit", racing_commit)
    table.delete_where("k = 2", **route)
    got = {r.k for r in table.read().collect()}
    assert got == {1, 3, 7} and state["raced"]
    # the losing attempt removed what it wrote (data, sidecar, cdc file)
    assert table.vacuum(retain_versions=10_000, dry_run=True) == []


@DML_ROUTES
def test_dml_change_feed_is_row_exact(spark, tmp_path, route):
    """diff_versions across DML commits must show exactly the changed
    rows — unchanged rows in rewritten files cancel."""
    t = _ranged_table(spark, tmp_path, "cdf")
    v0 = t.version()
    t.delete_where("k = 205", **route)
    t.update_where("k = 301", {"v": F.lit("X")}, **route)
    cdf = t.diff_versions(v0, t.version()).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r.change_type, set()).add((r.k, r.v))
    assert by_type["delete"] == {(205, "v205"), (301, "v301")}
    assert by_type["insert"] == {(301, "X")}


def test_dml_exports_through_delta_log(spark, tmp_path):
    """A delete + update sequence must survive the Delta export / replay
    path — partial removes+adds per commit, not just full rewrites."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _ranged_table(spark, tmp_path, "dlta")
    t.delete_where("k >= 390")
    t.update_where("k = 0", {"v": F.lit("zero")})
    t.to_delta_log()
    got = read_delta_snapshot(spark, t.path)
    assert got.count() == 390
    assert got.filter("k = 0").collect()[0]["v"] == "zero"
    assert got.filter("k >= 390").count() == 0


def test_diff_versions_change_feed(spark, table):
    merge_into_txlog(spark, table, _df(spark, [(2, "b2", 9), (4, "d", 9)]), keys=["k"])
    cdf = table.diff_versions(0, 1).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r.change_type, set()).add((r.k, r.v))
    # update of k=2 appears as delete+insert; k=4 as pure insert
    assert (2, "b") in by_type["delete"] and (2, "b2") in by_type["insert"]
    assert (4, "d") in by_type["insert"]
    # unchanged rows never appear
    flat = {kv for s in by_type.values() for kv in s}
    assert (1, "a") not in flat and (3, "c") not in flat


def test_delete_retry_racing_optimize_converges(spark, tmp_path):
    """A delete_where whose first attempt loses the commit race to an
    OPTIMIZE must recompute against the compacted snapshot and converge:
    final rows = optimize's (logical no-op) ∘ delete's semantics, with
    both commits in the history (round-6 verdict item 5 — compaction and
    row-level DML share the CommitConflict retry loop, so their
    interleaving needs an explicit convergence proof)."""
    t = _ranged_table(spark, tmp_path, "race1")
    t2 = TxLogTable(spark, t.path)  # the racing writer's handle
    fired = {}
    orig = t._touched_files

    def touched_then_race(cands, cond, **kw):
        res = orig(cands, cond, **kw)
        if "v" not in fired:
            # between delete's discovery scan and its commit, OPTIMIZE
            # lands: delete's base_version goes stale
            fired["v"] = t2.optimize(target_files=2)
        return res

    t._touched_files = touched_then_race
    v = t.delete_where("k >= 100 AND k < 120")
    assert fired["v"] == v - 1, "optimize committed first; delete retried on top"
    got = sorted(r.k for r in t.read().collect())
    assert got == [k for k in range(400) if not (100 <= k < 120)]
    assert [h["op"] for h in t.history()[-2:]] == ["optimize", "delete"]
    # the loser's aborted attempt left no orphan data files
    assert t.vacuum(retain_versions=0) == [] or all(
        f not in t.files() for f in t.vacuum(retain_versions=0)
    )


def test_optimize_rerun_after_losing_to_delete_converges(spark, tmp_path):
    """The reverse interleaving: OPTIMIZE loses the race to a delete_where.
    optimize() documents no internal retry — it raises CommitConflict and
    the caller re-runs against the winner's snapshot; the re-run must
    compact the POST-delete table (the deleted rows stay gone)."""
    t = _ranged_table(spark, tmp_path, "race2")
    t2 = TxLogTable(spark, t.path)
    orig_write = t._write_data
    fired = {}

    def write_then_race(df, _pby=None, _validate=True):
        adds = orig_write(df, _pby, _validate)
        if "v" not in fired:
            fired["v"] = t2.delete_where("k >= 300")
        return adds

    t._write_data = write_then_race
    with pytest.raises(CommitConflict):
        t.optimize(target_files=1)
    v = t.optimize(target_files=1)  # caller re-runs, as documented
    assert v == t.version()
    got = sorted(r.k for r in t.read().collect())
    assert got == list(range(300)), "re-run compacted the post-delete snapshot"
    assert len(t.files()) == 1
    assert [h["op"] for h in t.history()[-2:]] == ["delete", "optimize"]


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
def test_multiwriter_stress_converges(spark, tmp_path, backend):
    """Four concurrent writers — DELETE, UPDATE, OPTIMIZE, APPEND — race on
    one table through the commit arbiter. The 2-way race tests above
    pin specific interleavings; this pins the general case: whatever order
    the commits landed in, (a) the log replays to a consistent snapshot,
    (b) every remove retired a file that was live at its base version,
    (c) the final rows are the DETERMINISTIC fixed point of the four ops
    (predicates chosen so outcome is interleaving-independent: deletes win
    over updates on overlapping keys, appended keys match no predicate).

    Run against BOTH arbiter backends: the default O_EXCL file creation
    and the simulated object-store conditional PUT (the S3/GCS/Azure
    put-if-absent mapping — SCALING.md 'commit arbiter')."""
    import json as _json
    from concurrent.futures import ThreadPoolExecutor

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        ConditionalPutArbiter,
    )

    arb = ConditionalPutArbiter() if backend == "conditional_put" else None
    path = str(tmp_path / "stress")
    base = spark.createDataFrame(
        [(k, "v") for k in range(800)], "k int, v string"
    ).repartitionByRange(8, "k")
    TxLogTable.create(spark, path, base, arbiter=arb)

    def deleter():
        TxLogTable(spark, path, arbiter=arb).delete_where(
            "k % 17 = 3", max_retries=20
        )

    def updater():
        TxLogTable(spark, path, arbiter=arb).update_where(
            "k % 13 = 2", {"v": F.lit("u")}, max_retries=20
        )

    def optimizer():
        t = TxLogTable(spark, path, arbiter=arb)
        for _ in range(20):
            try:
                t.optimize(target_files=4)
                return
            except CommitConflict:
                continue
        raise AssertionError("optimize never landed")

    def appender():
        t = TxLogTable(spark, path, arbiter=arb)
        # appended keys match neither DML predicate -> outcome deterministic
        rows = [(k, "new") for k in range(10000, 10040)
                if k % 17 != 3 and k % 13 != 2]
        adds = t._write_data(spark.createDataFrame(rows, "k int, v string"))
        for _ in range(20):
            try:
                t.commit(adds=adds, removes=[], base_version=t.version(), op="append")
                return
            except CommitConflict:
                continue
        raise AssertionError("append never landed")

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [ex.submit(f) for f in (deleter, updater, optimizer, appender)]
        for f in futs:
            f.result()  # re-raise any writer failure

    t = TxLogTable(spark, path)
    # (a)+(b): structural replay invariants over the raw log
    import os as _os

    commits = {}
    for name in sorted(_os.listdir(t.log_dir)):
        if name.endswith(".json"):
            with open(_os.path.join(t.log_dir, name)) as fh:
                commits[int(name.split(".")[0])] = _json.load(fh)
    versions = sorted(commits)
    assert versions == list(range(len(versions))), "dense version sequence"
    live: set[str] = set()
    for v in versions:
        c = commits[v]
        if c.get("checkpoint") and c["op"] not in ("create", "convert"):
            live = set(c["adds"])
            continue
        dangling = set(c["removes"]) - live
        assert not dangling, f"v{v} retired files not live: {dangling}"
        live = (live - set(c["removes"])) | set(c["adds"])
    assert set(t.files()) == live
    for f in live:
        assert _os.path.exists(_os.path.join(t.path, f)), f"missing data file {f}"
    # (c): deterministic fixed point regardless of commit order
    expected = {
        (k, "u" if k % 13 == 2 else "v") for k in range(800) if k % 17 != 3
    } | {(k, "new") for k in range(10000, 10040) if k % 17 != 3 and k % 13 != 2}
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == expected
    ops = sorted(c["op"] for c in commits.values())
    assert ops.count("delete") >= 1 and ops.count("update") >= 1
    assert ops.count("optimize") == 1 and ops.count("append") == 1


def test_conditional_put_arbiter_semantics(tmp_path):
    """The simulated object-store arbiter's contract, pinned directly:
    exactly one of N racing PUTs for a key wins; losers see False and the
    winner's COMPLETE body; a deleted key may be re-created (conditional
    PUT checks current existence, not history — S3 If-None-Match: * /
    GCS ifGenerationMatch=0 semantics)."""
    from concurrent.futures import ThreadPoolExecutor

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        ConditionalPutArbiter,
    )

    arb = ConditionalPutArbiter()
    key = str(tmp_path / "00000000000000000001.json")
    with ThreadPoolExecutor(max_workers=8) as ex:
        wins = list(
            ex.map(lambda i: arb.put_if_absent(key, f"body-{i}"), range(8))
        )
    assert sum(wins) == 1, "exactly one PUT must win"
    body = open(key).read()
    assert body.startswith("body-") and wins[int(body.split("-")[1])]
    # existing key: refused
    assert arb.put_if_absent(key, "other") is False
    assert open(key).read() == body
    # delete then re-create: allowed
    os.remove(key)
    assert arb.put_if_absent(key, "fresh") is True
    assert open(key).read() == "fresh"


# ------------------------------------------------------- change data feed


def _cdf_rows(df):
    return {
        (r._commit_version, r._change_type, r.k, r.price)
        for r in df.collect()
    }


def test_read_changes_per_commit_feed(spark):
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        t = TxLogTable.create(
            spark,
            os.path.join(d, "t"),
            # ONE file so the k=1 delete's copy-on-write rewrite carries
            # k=2 along — the rewrite noise net=True must cancel
            spark.createDataFrame(
                [(1, 10.0), (2, 20.0)], "k int, price double"
            ).coalesce(1),
        )  # v0
        t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))  # v1
        t.delete_where("k = 1")  # v2
        t.update_where("k = 2", {"price": F.col("price") + 5.0})  # v3
        got = _cdf_rows(t.read_changes(1, 3))
        assert got == {
            (1, "insert", 3, 30.0),
            (2, "delete", 1, 10.0),
            (3, "delete", 2, 20.0),  # update = delete+insert pair
            (3, "insert", 2, 25.0),
        }
        # net=True cancelled the copy-on-write rewrite noise: v2's
        # rewrite of the file holding k=1,2 re-adds k=2 unchanged — the
        # raw feed shows it, the net feed does not
        raw = _cdf_rows(t.read_changes(2, 2, net=False))
        assert (2, "insert", 2, 20.0) in raw and (2, "delete", 2, 20.0) in raw
        # full-range from 0 includes the create
        assert (0, "insert", 1, 10.0) in _cdf_rows(t.read_changes(0))
        with pytest.raises(ValueError, match="invalid change range"):
            t.read_changes(2, 99)
        with pytest.raises(ValueError, match="invalid change range"):
            t.read_changes(3, 2)


def test_read_changes_preserves_intermediate_history(spark):
    """The CDF's point vs diff_versions: a row inserted then deleted
    INSIDE the range cancels in the endpoint diff but must appear (both
    events) in the per-commit feed."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        t = TxLogTable.create(
            spark,
            os.path.join(d, "t"),
            spark.createDataFrame([(1, 10.0)], "k int, price double"),
        )  # v0
        t.append(spark.createDataFrame([(9, 90.0)], "k int, price double"))  # v1
        t.delete_where("k = 9")  # v2
        assert t.diff_versions(0, 2).count() == 0  # endpoint diff: cancels
        got = _cdf_rows(t.read_changes(1, 2))
        assert got == {(1, "insert", 9, 90.0), (2, "delete", 9, 90.0)}


def test_read_changes_skips_metadata_commits_and_handles_checkpoints(spark):
    """add_check / vacuum-audit commits contribute no rows, and a
    checkpoint commit inside the range yields its TRUE file delta, not
    the full live list its json records."""
    import tempfile

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        _CHECKPOINT_EVERY,
    )

    with tempfile.TemporaryDirectory() as d:
        t = TxLogTable.create(
            spark,
            os.path.join(d, "t"),
            spark.createDataFrame([(0, 0.0)], "k int, price double"),
        )
        t.add_check("price_ok", "price >= 0")  # v1: metadata only
        # drive a checkpoint commit (every _CHECKPOINT_EVERY) via appends
        upto = _CHECKPOINT_EVERY + 1
        for i in range(2, upto + 1):
            t.append(
                spark.createDataFrame([(i, float(i))], "k int, price double")
            )
        ck = _CHECKPOINT_EVERY
        feed = t.read_changes(ck, ck)
        assert _cdf_rows(feed) == {(ck, "insert", ck, float(ck))}, (
            "checkpoint commit must yield its true delta, not the full "
            "live list"
        )
        # the metadata-only commit contributes nothing
        assert t.read_changes(1, 1).count() == 0
        # incremental-consumer shape: tail [last+1, latest] sees only new
        assert _cdf_rows(t.read_changes(upto, upto)) == {
            (upto, "insert", upto, float(upto))
        }


# ---------------------------------------------- commit-arbiter fault injection
# The CommitArbiter seam is the trust anchor for every table-format
# guarantee; these tests inject writer crashes and slow PUTs at the
# arbiter's internal transition points (the documented fault_hook test
# seam) on BOTH backends — the failure modes a real object store / posix
# log store exhibits: a writer dying mid-PUT, a PUT that lands but whose
# ack is lost, and a slow PUT racing a second committer.


class _Crash(RuntimeError):
    """Simulated writer death inside the arbiter."""


def _mk_arbiter(backend):
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        ConditionalPutArbiter,
        PosixExclArbiter,
    )

    return (
        PosixExclArbiter() if backend == "posix_excl"
        else ConditionalPutArbiter()
    )


_PRE_PUBLISH = {"posix_excl": "staged", "conditional_put": "reserved"}


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
@pytest.mark.parametrize("stage", ["pre_publish", "published"])
def test_arbiter_crash_never_exposes_partial_commit(tmp_path, backend, stage):
    """A writer crashing INSIDE the publish leaves either NOTHING (crash
    before the atomic publish: next writer wins with a complete body) or
    the COMPLETE crashed-writer body (crash after publish, ack lost:
    next writer correctly loses). A truncated body is never visible —
    the PosixExclArbiter's old O_EXCL create-then-write form failed
    exactly this (crash between create and write left an empty json
    every replayer would choke on)."""
    arb = _mk_arbiter(backend)
    key = str(tmp_path / "000000000001.json")
    trip = _PRE_PUBLISH[backend] if stage == "pre_publish" else "published"

    def hook(st, target):
        if st == trip:
            raise _Crash(st)

    arb.fault_hook = hook
    with pytest.raises(_Crash):
        arb.put_if_absent(key, "BODY-CRASHED")
    arb.fault_hook = None
    if stage == "pre_publish":
        assert not os.path.exists(key), "unpublished crash leaves nothing"
        assert arb.put_if_absent(key, "BODY-NEXT") is True
        assert open(key).read() == "BODY-NEXT"
    else:
        assert open(key).read() == "BODY-CRASHED", "published = durable"
        assert arb.put_if_absent(key, "BODY-NEXT") is False
        assert open(key).read() == "BODY-CRASHED"
    leftovers = sorted(
        f for f in os.listdir(tmp_path) if f != os.path.basename(key)
    )
    assert leftovers == [], f"stray temp bodies: {leftovers}"


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
def test_slow_put_racing_second_committer(tmp_path, backend):
    """A slow PUT (writer stalls between reserve/stage and publish) races
    a fast second committer for the same version key: EXACTLY one wins,
    the final body is one writer's complete payload, and the loser can
    land at the next version. On the conditional-PUT store the in-flight
    reservation makes the fast writer lose and retry; on posix the fast
    writer can win the link and the slow one's publish then fails — both
    resolutions preserve exactly-one-winner."""
    import threading
    import time

    arb = _mk_arbiter(backend)
    key = str(tmp_path / "000000000001.json")
    release = threading.Event()

    def hook(st, target):
        if st == _PRE_PUBLISH[backend]:
            release.wait(10)

    arb.fault_hook = hook
    results = {}

    def slow():
        results["slow"] = arb.put_if_absent(key, "BODY-SLOW")

    t = threading.Thread(target=slow)
    t.start()
    time.sleep(0.2)  # slow writer is now stalled pre-publish
    fast_arb = _mk_arbiter(backend)  # separate handle, same store
    fast_first = fast_arb.put_if_absent(key, "BODY-FAST")
    release.set()
    t.join()
    wins = [results["slow"], fast_first]
    if not any(wins):
        # conditional-put: fast writer was refused while the slow PUT
        # was in flight — its CommitConflict retry loop tries again now
        fast_retry = fast_arb.put_if_absent(key, "BODY-FAST")
        wins.append(fast_retry)
    assert sum(wins) == 1, f"exactly one winner, got {wins}"
    body = open(key).read()
    assert body in ("BODY-SLOW", "BODY-FAST"), "complete body only"
    # the loser proceeds at the next version unimpeded
    nxt = str(tmp_path / "000000000002.json")
    assert arb.put_if_absent(nxt, "NEXT") or fast_arb.put_if_absent(nxt, "NEXT")


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
def test_writer_crash_mid_commit_table_stays_committable(
    spark, tmp_path, backend
):
    """Table-level: a DML writer dying inside the arbiter (pre-publish)
    must leave the LOG bit-for-bit as it was — other writers commit,
    every retained json replays, and the dead writer's own retry
    succeeds against the post-crash snapshot."""
    import json as _json

    arb = _mk_arbiter(backend)
    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark, path, _df(spark, [(k, "v", 1) for k in range(20)]), arbiter=arb
    )

    def hook(st, target):
        if st == _PRE_PUBLISH[backend]:
            raise _Crash(st)

    arb.fault_hook = hook
    with pytest.raises(_Crash):
        t.delete_where("k < 5")
    arb.fault_hook = None
    # log unchanged and fully parseable (no truncated json)
    names = sorted(f for f in os.listdir(t.log_dir) if f.endswith(".json"))
    assert names == ["000000000000.json"]
    for n in names:
        with open(os.path.join(t.log_dir, n)) as fh:
            _json.load(fh)
    # another writer proceeds; then the crashed writer's retry lands
    t2 = TxLogTable(spark, path, arbiter=_mk_arbiter(backend))
    t2.append(_df(spark, [(100, "new", 1)]))
    t.delete_where("k < 5")
    assert sorted(r.k for r in t.read().collect()) == list(range(5, 20)) + [100]
    assert [h["op"] for h in t.history()] == ["create", "append", "delete"]


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
def test_crash_after_put_before_ack_txn_replay_is_noop(
    spark, tmp_path, backend
):
    """Lost ack: the PUT landed (commit durable) but the writer died
    before observing True. A crash-replay of the same streaming batch
    with the same txn marker is a NO-OP — exactly-once holds across the
    lost ack; and a DIFFERENT later batch for the same app commits
    normally."""
    arb = _mk_arbiter(backend)
    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark, path, _df(spark, [(1, "a", 1)]), arbiter=arb
    )

    def hook(st, target):
        if st == "published":
            raise _Crash(st)

    arb.fault_hook = hook
    with pytest.raises(_Crash):
        t.append(_df(spark, [(2, "b", 1)]), txn=("app", 7))
    arb.fault_hook = None
    assert t.version() == 1, "the commit IS durable despite the lost ack"
    assert t.last_txn_version("app") == 7
    # replayed batch (same txn): no-op — no duplicate rows, no commit
    t.append(_df(spark, [(2, "b", 1)]), txn=("app", 7))
    assert t.version() == 1
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, "a"), (2, "b")]
    # the next batch commits normally
    t.append(_df(spark, [(3, "c", 1)]), txn=("app", 8))
    assert t.version() == 2 and t.last_txn_version("app") == 8


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
def test_crash_after_put_without_txn_duplicates_on_retry(
    spark, tmp_path, backend
):
    """The inverse contract, pinned: WITHOUT a txn marker a lost-ack
    append retried by the writer double-applies (the retry sees a fresh
    snapshot and lands at the next version) — this is exactly why the
    streaming sink passes txn=(app_id, batch_id); the docstring's
    'a replayed append is NOT naturally idempotent' made testable."""
    arb = _mk_arbiter(backend)
    path = str(tmp_path / "t")
    t = TxLogTable.create(spark, path, _df(spark, [(1, "a", 1)]), arbiter=arb)

    def hook(st, target):
        if st == "published":
            raise _Crash(st)

    arb.fault_hook = hook
    with pytest.raises(_Crash):
        t.append(_df(spark, [(2, "b", 1)]))
    arb.fault_hook = None
    t.append(_df(spark, [(2, "b", 1)]))  # naive retry
    assert t.version() == 2
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 2]


@pytest.mark.parametrize("backend", ["posix_excl", "conditional_put"])
def test_arbiter_stress_with_random_crash_faults(tmp_path, backend):
    """8 threads race 12 keys while ~1/3 of PUT attempts crash at a
    random transition point: for every key at most one caller ever
    observes True, every key that exists holds one complete payload, and
    a key with no acked winner can only exist if some caller crashed
    post-publish (lost ack) — never a partial or mixed body."""
    import random
    import threading
    from concurrent.futures import ThreadPoolExecutor

    rng = random.Random(42)
    arb = _mk_arbiter(backend)
    faults = {"n": 0}
    lock = threading.Lock()

    def hook(st, target):
        with lock:
            roll = rng.random()
        if roll < 0.33:
            faults["n"] += 1
            raise _Crash(st)

    arb.fault_hook = hook
    keys = [str(tmp_path / f"{v:012d}.json") for v in range(12)]
    acked: dict[str, list[str]] = {k: [] for k in keys}
    alock = threading.Lock()

    def worker(wid):
        for k in keys:
            for _attempt in range(50):
                try:
                    won = arb.put_if_absent(k, f"W{wid}")
                except _Crash:
                    continue  # simulated death; "restarted" writer retries
                if won:
                    with alock:
                        acked[k].append(f"W{wid}")
                break

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(worker, range(8)))
    arb.fault_hook = None
    assert faults["n"] > 0, "faults must actually have fired"
    for k in keys:
        assert len(acked[k]) <= 1, f"two acked winners for {k}"
        if os.path.exists(k):
            body = open(k).read()
            assert body.startswith("W") and len(body) == 2, "complete body"
            if acked[k]:
                assert body == acked[k][0], "body is the acked winner's"
    stray = sorted(
        f for f in os.listdir(tmp_path) if not f.endswith(".json")
    )
    assert stray == [], f"leaked temp bodies: {stray}"
