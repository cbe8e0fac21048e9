"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then bench.py

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, union_length  # noqa: E402
from workloads import canon_rows  # noqa: E402

# ---------------------------------------------------------------- stats


def test_median_odd_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(1, 31)]  # 30 samples
    t = stats.tail(values)
    # index 30-1-10 = 19 -> value 20, with exactly 10 samples above it
    assert t["value"] == 20.0
    assert t["beyond"] == 10
    assert sum(v > t["value"] for v in values) == 10
    assert t["percentile"] == pytest.approx(66.7)
    assert t["n"] == 30 and t["supported"]


def test_tail_with_21_samples_sits_above_the_median():
    values = [float(v) for v in range(21)]
    t = stats.tail(values)
    assert t["value"] == 10.0 and t["percentile"] > 50.0
    assert t["value"] >= stats.median(values)


def test_tail_unsupported_falls_back_to_median():
    t = stats.tail([5.0, 1.0, 3.0])
    assert not t["supported"]
    assert t["value"] == 3.0 and t["percentile"] == 50.0
    # 15 samples would put the ten-beyond percentile below the median
    t = stats.tail([float(v) for v in range(15)])
    assert not t["supported"] and t["value"] == 7.0


def test_tail_ignores_input_order():
    a = [9.0, 1.0, 7.0, 3.0, 5.0] * 5
    assert stats.tail(a) == stats.tail(sorted(a))


def _fake_proc(root, procs):
    """procs: {pid: (ppid, rss_kb or None)}"""
    for pid, (ppid, rss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        # a comm with spaces and parens must not confuse the ppid parse
        (d / "stat").write_text(f"{pid} (odd (name) x) S {ppid} 1 1 0\n")
        status = "Name:\tx\n" + (f"VmRSS:\t{rss} kB\n" if rss is not None else "")
        (d / "status").write_text(status)
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_tree_rss_sums_descendants_only(tmp_path):
    _fake_proc(
        tmp_path,
        {
            100: (1, 1024),      # driver python
            101: (100, 4096),    # JVM
            102: (101, 512),     # python worker of the JVM
            103: (102, 512),     # forked worker
            104: (101, None),    # no VmRSS line (exiting)
            200: (1, 99999),     # unrelated process
        },
    )
    assert sorted(stats.tree_pids(100, str(tmp_path))) == [100, 101, 102, 103, 104]
    assert stats.tree_rss_mb(100, str(tmp_path)) == pytest.approx((1024 + 4096 + 512 + 512) / 1024)


def test_peak_rss_keeps_the_largest_sample(tmp_path):
    _fake_proc(tmp_path, {100: (1, 2048)})
    p = stats.PeakRss(100, interval_s=0.01, proc=str(tmp_path))
    with p:
        pass
    assert p.peak == pytest.approx(2.0)


def test_tree_rss_leaves_out_excluded_processes_not_their_children(tmp_path):
    # driver python, JVM (excluded), and a python worker the JVM started
    _fake_proc(tmp_path, {100: (1, 1024), 101: (100, 8192), 102: (101, 1024)})
    assert stats.tree_rss_mb(100, str(tmp_path), exclude={101}) == pytest.approx(2.0)


def test_peak_rss_of_this_process_is_positive():
    assert stats.tree_rss_mb(os.getpid()) > 0


# ---------------------------------------------------------------- spans


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer(spark=None)
    t.spans = [
        Span("parent", 0.0, 1.0, None, "op", children=[1, 2]),
        Span("child", 0.1, 0.4, 0, "op"),
        Span("child", 0.3, 0.5, 0, "op"),  # overlaps the first child
    ]
    got = {s.name + str(i): ms for i, (s, ms) in enumerate(t.self_times())}
    assert got["parent0"] == pytest.approx(600.0)
    assert got["child1"] == pytest.approx(300.0)


def test_wrap_and_restore_module_references():
    import types

    mod = types.ModuleType("airbnb_listings_data_pipelines_spark._perfbench_probe")

    def f(x):
        return x + 1

    mod.f = f
    mod.alias = f
    sys.modules[mod.__name__] = mod
    try:
        t = Tracer(spark=None)
        t.wrap(f, "probe")
        assert mod.f is not f and mod.alias is not f
        assert mod.f(1) == 2  # no op running: plain call, nothing recorded
        assert t.spans == []
        t.restore()
        assert mod.f is f and mod.alias is f
    finally:
        del sys.modules[mod.__name__]


# ---------------------------------------------------------------- inputs


def _digest_tree(root) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _listing_inputs(tmp_path, seed, tag):
    info = gen.write_listing_dir(seed, str(tmp_path / tag / "raw"), 60, 3, str(tmp_path / tag / "app"))
    return info, _digest_tree(tmp_path / tag)


def test_listing_inputs_repeat_per_seed_and_differ_across_seeds(tmp_path):
    a, da = _listing_inputs(tmp_path, 7, "a")
    b, db = _listing_inputs(tmp_path, 7, "b")
    c, dc = _listing_inputs(tmp_path, 8, "c")
    assert da == db and a == b
    assert dc != da


def test_listing_inputs_carry_the_reference_edge_cases(tmp_path):
    info, _ = _listing_inputs(tmp_path, 3, "x")
    text = "".join(
        (tmp_path / "x" / "raw" / f).read_text(encoding="utf-8")
        for f in os.listdir(tmp_path / "x" / "raw")
        if "listings" in f
    )
    assert '"$1,' in text  # comma price, quoted by the CSV writer
    assert "\\N" in text  # NULL token
    assert '""' in text  # embedded quote inside a quoted field
    base = info["base"]
    assert 0 < base["fact_rows"] < base["raw_rows"]  # some rows must be dropped


def test_tpch_inputs_repeat_per_seed(tmp_path):
    r1 = gen.write_tpch_dir(5, str(tmp_path / "a"), 1500)
    r2 = gen.write_tpch_dir(5, str(tmp_path / "b"), 1500)
    gen.write_tpch_dir(6, str(tmp_path / "c"), 1500)
    assert r1 == r2
    assert _digest_tree(tmp_path / "a") == _digest_tree(tmp_path / "b")
    assert _digest_tree(tmp_path / "a") != _digest_tree(tmp_path / "c")


def test_txlog_model_batches_repeat_and_track_the_table():
    m1, m2 = gen.TxlogModel(4, 1000), gen.TxlogModel(4, 1000)
    assert m1.upsert_batch(50) == m2.upsert_batch(50)
    assert m1.delete_range(10) == m2.delete_range(10)
    assert m1.expect() == m2.expect()
    assert gen.TxlogModel(5, 1000).upsert_batch(50) != gen.TxlogModel(4, 1000).upsert_batch(50)
    m = gen.TxlogModel(1, 100)
    batch = m.upsert_batch(20)
    keys = [k for k, _v in batch]
    assert len(keys) == len(set(keys))  # MERGE needs unique source keys
    assert max(keys) >= 100  # some inserts
    assert min(keys) >= 100 - m.hot  # updates stay on the recent ids
    assert m.expect()[0] == len(m.rows)


def test_zipf_ranks_favour_low_ranks():
    import numpy as np

    r = gen.zipf_ranks(np.random.default_rng(0), 10_000, 5000)
    assert (r < 100).mean() > 0.5
    assert r.min() >= 0 and r.max() < 10_000


def test_canon_rows_is_order_and_column_order_insensitive():
    a = canon_rows(["b", "a"], [(1, 0.1 + 0.2), (2, None)])
    b = canon_rows(["a", "b"], [(None, 2), (0.3, 1)])
    assert a == b
