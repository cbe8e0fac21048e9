from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.merge import merge_into_parquet


def _write_target(spark, path, rows):
    spark.createDataFrame(rows, ["k", "v", "p"]).write.mode("overwrite").parquet(path)


def test_merge_update_and_insert(spark, tmp_path):
    path = str(tmp_path / "tgt")
    _write_target(spark, path, [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")])
    src = spark.createDataFrame([(2, "B", "x"), (4, "d", "y")], ["k", "v", "p"])
    out = merge_into_parquet(spark, path, src, keys=["k"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    # idempotent: merging the same source again changes nothing
    again = merge_into_parquet(spark, path, src, keys=["k"])
    assert {r.k: r.v for r in again.collect()} == got


def test_merge_delete_and_ignore(spark, tmp_path):
    path = str(tmp_path / "tgt")
    _write_target(spark, path, [(1, "a", "x"), (2, "b", "x")])
    src = spark.createDataFrame([(2, "ZZ", "x"), (9, "new", "x")], ["k", "v", "p"])
    out = merge_into_parquet(
        spark, path, src, keys=["k"], when_matched="delete", when_not_matched="ignore"
    )
    assert {r.k: r.v for r in out.collect()} == {1: "a"}


def test_merge_partition_scoped_rewrites_only_touched(spark, tmp_path):
    path = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], ["k", "v", "p"]
    ).write.partitionBy("p").mode("overwrite").parquet(path)
    before = set(os.listdir(os.path.join(path, "p=y")))
    src = spark.createDataFrame([(1, "A", "x"), (5, "e", "x")], ["k", "v", "p"])
    out = merge_into_parquet(
        spark, path, src, keys=["k", "p"], partition_col="p"
    )
    got = {r.k: (r.v, r.p) for r in out.collect()}
    assert got == {1: ("A", "x"), 2: ("b", "x"), 3: ("c", "y"), 5: ("e", "x")}
    # untouched partition p=y kept its physical files (not rewritten)
    assert set(os.listdir(os.path.join(path, "p=y"))) == before


def test_merge_partition_scoped_leaves_session_conf_unchanged(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option: the caller's
    session keeps its overwrite mode, so a later full partitioned
    overwrite in the same session still replaces every partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    path = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a", "x"), (3, "c", "y")], ["k", "v", "p"]
    ).write.partitionBy("p").mode("overwrite").parquet(path)
    src = spark.createDataFrame([(1, "A", "x")], ["k", "v", "p"])
    merge_into_parquet(spark, path, src, keys=["k", "p"], partition_col="p")
    assert spark.conf.get(key) == before
    spark.createDataFrame([(7, "g", "x")], ["k", "v", "p"]).write.partitionBy(
        "p"
    ).mode("overwrite").parquet(path)
    assert sorted(d for d in os.listdir(path) if d.startswith("p=")) == ["p=x"]
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [
        (7, "g", "x")
    ]


def test_merge_staged_swap_preserves_target_on_schema_error(spark, tmp_path):
    path = str(tmp_path / "tgt")
    _write_target(spark, path, [(1, "a", "x")])
    bad = spark.createDataFrame([(1, "zz")], ["k", "other"])
    try:
        merge_into_parquet(spark, path, bad, keys=["k"])
        raise AssertionError("expected schema mismatch")
    except AssertionError as e:
        if "schema" not in str(e):
            raise
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {1: "a"}


def test_schema_evolution_new_source_column(spark):
    """Delta autoMerge semantics: a column NEW in the source appears in the
    output; untouched target rows carry NULL, updated/inserted rows get the
    source value."""
    from airbnb_listings_data_pipelines_spark.operators.merge import merge_frames

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(2, "b2", 9.5), (3, "c", 7.0)], "k int, v string, score double")
    out = merge_frames(target, source, ["k"], evolve_schema=True)
    rows = {r.k: (r.v, r.score) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 7.0)}
    assert out.columns == ["k", "v", "score"]


def test_schema_evolution_missing_source_column_keeps_target(spark):
    """A column the source LACKS keeps its target value on update (update
    sets only provided columns) and is NULL on insert."""
    from airbnb_listings_data_pipelines_spark.operators.merge import merge_frames

    target = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, v string, extra int")
    source = spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string")
    out = merge_frames(target, source, ["k"], evolve_schema=True)
    rows = {r.k: (r.v, r.extra) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 20), 3: ("c", None)}


def test_schema_evolution_through_txlog_backend(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable,
        merge_into_txlog,
    )

    t = TxLogTable.create(
        spark, str(tmp_path / "evo"), spark.createDataFrame([(1, "a")], "k int, v string")
    )
    source = spark.createDataFrame([(1, "a2", 5), (2, "b", 6)], "k int, v string, n int")
    out = merge_into_txlog(spark, t, source, keys=["k"], evolve_schema=True)
    assert {(r.k, r.v, r.n) for r in out.collect()} == {(1, "a2", 5), (2, "b", 6)}
    # pre-evolution snapshot still readable with the OLD schema (time travel)
    assert t.read_version(0).columns == ["k", "v"]


def test_mismatched_schema_still_rejected_without_evolution(spark):
    from airbnb_listings_data_pipelines_spark.operators.merge import merge_frames

    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(1, "a", 1)], "k int, v string, extra int")
    import pytest as _pytest

    with _pytest.raises(AssertionError):
        merge_frames(target, source, ["k"])


def test_percol_matched_set_updates_only_listed_columns(spark):
    """Delta's WHEN MATCHED THEN UPDATE SET c = expr: listed columns get
    the expression (both sides referencable as t./s.), unlisted columns
    KEEP TARGET VALUES (whole-row update would take the source), and the
    source may carry a different schema as long as keys exist."""
    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_frames,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "v", "amt"]
    )
    source = spark.createDataFrame(
        [(2, 5.0), (9, 9.0)], ["k", "delta"]  # no v, no amt
    )
    out = merge_frames(
        target,
        source,
        ["k"],
        matched_set={"amt": F.expr("t.amt + s.delta")},
        when_not_matched="ignore",
    )
    got = {(r.k, r.v, r.amt) for r in out.collect()}
    assert got == {(1, "a", 10.0), (2, "b", 25.0), (3, "c", 30.0)}


def test_percol_insert_values_null_fills_unlisted(spark):
    """WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs): listed columns
    evaluate over s., unlisted columns (keys included, if unlisted)
    insert NULL, and exprs cast to the target type — Delta's rules."""
    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_frames,
    )

    target = spark.createDataFrame([(1, "a", 10.0)], ["k", "v", "amt"])
    source = spark.createDataFrame([(1, 100), (7, 700)], ["k", "raw"])
    out = merge_frames(
        target,
        source,
        ["k"],
        matched_set={"amt": F.expr("s.raw")},  # int -> double cast
        insert_values={"k": F.expr("s.k"), "amt": F.expr("s.raw * 2")},
    )
    got = {(r.k, r.v, r.amt) for r in out.collect()}
    assert got == {(1, "a", 100.0), (7, None, 1400.0)}
    # insert omitting the KEY: Delta inserts NULL (k=1 matches and is
    # deleted; only source-only k=7 inserts)
    out2 = merge_frames(
        target,
        source,
        ["k"],
        when_matched="delete",
        insert_values={"amt": F.expr("s.raw")},
    )
    got2 = {(r.k, r.v, r.amt) for r in out2.collect()}
    assert got2 == {(None, None, 700.0)}


def test_percol_mixed_with_whole_row_insert(spark):
    """Per-column UPDATE combined with INSERT *: the star side falls back
    to whole-row semantics over the columns the source provides."""
    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_frames,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "v", "amt"]
    )
    source = spark.createDataFrame(
        [(2, "B2", 2.0), (5, "e", 50.0)], ["k", "v", "amt"]
    )
    out = merge_frames(
        target, source, ["k"], matched_set={"amt": F.expr("t.amt + s.amt")}
    )
    got = {(r.k, r.v, r.amt) for r in out.collect()}
    # matched k=2: amt updated per-column, v KEEPS target ('b');
    # inserted k=5: whole row from source
    assert got == {(1, "a", 10.0), (2, "b", 22.0), (5, "e", 50.0)}


def test_percol_refusals(spark):
    import pytest as _pytest

    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_frames,
    )

    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    source = spark.createDataFrame([(1, "b")], ["k", "v"])
    with _pytest.raises(ValueError, match="absent from the target"):
        merge_frames(target, source, ["k"], matched_set={"nope": F.lit(1)})
    # percol + evolve_schema is now a SUPPORTED composition (Delta's
    # autoMerge with per-column clauses) — covered by
    # test_merge_clauses_schema_evolution
    with _pytest.raises(ValueError, match="when_matched"):
        merge_frames(
            target, source, ["k"],
            when_matched="delete", matched_set={"v": F.lit("x")},
        )
    with _pytest.raises(ValueError, match="keys.*absent from the source"):
        merge_frames(
            target,
            spark.createDataFrame([("b",)], ["v"]),
            ["k"],
            matched_set={"v": F.lit("x")},
        )


def test_percol_through_txlog_backend(spark, tmp_path):
    """merge_into_txlog threads matched_set/insert_values through the
    touched-file copy-on-write path: only files holding source keys are
    rewritten and the per-column semantics hold."""
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable,
        merge_into_txlog,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, f"v{k}", float(k)) for k in range(20)], ["k", "v", "amt"]
        ).repartitionByRange(4, "k"),
    )
    files0 = set(t.files())
    src = spark.createDataFrame([(3, 1000.0), (99, 9.0)], ["k", "bump"])
    merge_into_txlog(
        spark, t, src, ["k"],
        matched_set={"amt": F.expr("t.amt + s.bump")},
        insert_values={"k": F.expr("s.k"), "amt": F.expr("s.bump")},
    )
    got = {(r.k, r.v, r.amt) for r in t.read().collect()}
    assert (3, "v3", 1003.0) in got and (99, None, 9.0) in got
    assert (5, "v5", 5.0) in got
    kept = files0 & set(t.files())
    assert kept, "untouched files must carry over unrewritten"


def test_merge_clauses_conditional_first_match_wins(spark):
    """Full Delta clause surface: ordered conditional MATCHED clauses —
    first clause whose condition holds wins, rows no clause accepts
    keep their target values."""
    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_clauses,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["k", "v", "amt"],
    )
    source = spark.createDataFrame(
        [(1, 100.0), (2, 5.0), (3, -1.0), (9, 9.0)], ["k", "bump"]
    )
    out = merge_clauses(
        target,
        source,
        ["k"],
        matched=[
            {"cond": "s.bump < 0", "action": "delete"},
            {
                "cond": "s.bump >= 50",
                "action": "update",
                "set": {"v": F.lit("BIG"), "amt": F.expr("t.amt + s.bump")},
            },
            {"cond": None, "action": "update", "set": {"amt": F.expr("s.bump")}},
        ],
        not_matched=[
            {"cond": "s.bump > 5", "values": {"k": F.expr("s.k"), "amt": F.expr("s.bump")}},
        ],
    )
    got = {(r.k, r.v, r.amt) for r in out.collect()}
    assert got == {
        (1, "BIG", 110.0),  # second clause (first false)
        (2, "b", 5.0),      # fallthrough unconditional clause, v kept
        # 3 deleted by first clause
        (4, "d", 40.0),     # matched by nothing? no — 4 has no source row:
                            # it is a TARGET-ONLY row, kept (no nmbs clause)
        (9, None, 9.0),     # conditional insert accepted
    }
    # source row failing every NOT MATCHED condition is NOT inserted
    out2 = merge_clauses(
        target,
        source,
        ["k"],
        matched=[{"cond": None, "action": "update", "set": {"amt": F.expr("s.bump")}}],
        not_matched=[{"cond": "s.bump > 100", "values": {"k": F.expr("s.k")}}],
    )
    assert 9 not in {r.k for r in out2.collect()}


def test_merge_clauses_not_matched_by_source(spark):
    """NOT MATCHED BY SOURCE clauses hit target-only rows: conditional
    DELETE + fallthrough UPDATE, with rows no clause accepts kept."""
    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_clauses,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "v", "amt"]
    )
    source = spark.createDataFrame([(1, 0.0)], ["k", "bump"])
    out = merge_clauses(
        target,
        source,
        ["k"],
        matched=[{"cond": None, "action": "update", "set": {"v": F.lit("M")}}],
        not_matched_by_source=[
            {"cond": "t.amt > 25", "action": "delete"},
            {
                "cond": None,
                "action": "update",
                "set": {"v": F.lit("STALE")},
            },
        ],
    )
    got = {(r.k, r.v, r.amt) for r in out.collect()}
    assert got == {(1, "M", 10.0), (2, "STALE", 20.0)}  # 3 deleted


def test_merge_clauses_refusals(spark):
    import pytest as _pytest

    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_clauses,
    )

    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    source = spark.createDataFrame([(1, "b")], ["k", "v"])
    with _pytest.raises(ValueError, match="at least one"):
        merge_clauses(target, source, ["k"])
    with _pytest.raises(ValueError, match="unreachable"):
        merge_clauses(
            target, source, ["k"],
            matched=[
                {"cond": None, "action": "delete"},
                {"cond": "t.v = 'a'", "action": "delete"},
            ],
        )
    with _pytest.raises(ValueError, match="SET list"):
        merge_clauses(
            target, source, ["k"],
            not_matched_by_source=[{"cond": None, "action": "update"}],
        )
    with _pytest.raises(ValueError, match="absent from the target"):
        merge_clauses(
            target, source, ["k"],
            matched=[{"cond": None, "action": "update", "set": {"zz": F.lit(1)}}],
        )


def test_merge_clauses_through_txlog_backend(spark, tmp_path):
    """clauses= threads through merge_into_txlog; a NOT MATCHED BY
    SOURCE clause widens the rewrite to every live file (it can touch
    any target row), matched/insert clauses stay touched-file CoW."""
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable,
        merge_into_txlog,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(20)], ["k", "amt"]
        ).repartitionByRange(4, "k"),
    )
    src = spark.createDataFrame([(3, 100.0), (99, 9.0)], ["k", "bump"])
    merge_into_txlog(
        spark, t, src, ["k"],
        clauses={
            "matched": [
                {"cond": "t.k % 2 = 1", "action": "update",
                 "set": {"amt": F.expr("t.amt + s.bump")}},
            ],
            "not_matched": [{"cond": None, "values": {"k": F.expr("s.k"), "amt": F.expr("s.bump")}}],
            "not_matched_by_source": [
                {"cond": "t.k >= 18", "action": "delete"},
            ],
        },
    )
    got = {r.k: r.amt for r in t.read().collect()}
    assert got[3] == 103.0 and got[99] == 9.0
    assert 18 not in got and 19 not in got
    assert got[4] == 4.0, "matched-clause condition false -> target kept"
    with pytest.raises(ValueError, match="cannot combine"):
        merge_into_txlog(
            spark, t, src, ["k"],
            when_matched="delete",
            clauses={"matched": [{"cond": None, "action": "delete"}]},
        )


def test_merge_clauses_schema_evolution(spark):
    """evolve_schema composes with the clause surface (Delta's
    autoMerge): new source columns widen the output schema up front —
    SET * takes them on updated rows, INSERT * fills them, untouched
    target rows carry NULL, and explicit lists may assign them."""
    from airbnb_listings_data_pipelines_spark.operators.merge import (
        merge_clauses,
    )

    target = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    source = spark.createDataFrame(
        [(2, "B", 9.0), (5, "e", 5.0)], ["k", "v", "score"]
    )
    out = merge_clauses(
        target,
        source,
        ["k"],
        matched=[{"cond": None, "action": "update", "set": None}],  # SET *
        not_matched=[{"cond": None, "values": None}],  # INSERT *
        evolve_schema=True,
    )
    assert out.columns == ["k", "v", "score"]
    got = {(r.k, r.v, r.score) for r in out.collect()}
    assert got == {(1, "a", None), (2, "B", 9.0), (5, "e", 5.0)}
    # explicit per-column assignment of an evolved column
    out2 = merge_clauses(
        target, source, ["k"],
        matched=[{"cond": None, "action": "update",
                  "set": {"score": F.expr("s.score * 2")}}],
        evolve_schema=True,
    )
    got2 = {(r.k, r.v, r.score) for r in out2.collect()}
    assert got2 == {(1, "a", None), (2, "b", 18.0)}
