"""operators/logfold.py is the one commit-log fold, and the ``txlog``
DataSource ships it BY VALUE to Spark processes that cannot import the
package. These tests pin the two rules that make that work: the module
imports nothing from the package and never touches a SparkSession
(checked statically), and a vanilla session driven from outside the
repository can stream a txlog table and a foreign Delta table through
the source (checked end to end in a subprocess — in-repo suites cannot
catch a broken by-value registration, because their workers import the
package through the working directory)."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap

import airbnb_listings_data_pipelines_spark.operators.logfold as logfold

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "airbnb_listings_data_pipelines_spark"


def test_logfold_imports_no_package_module_and_no_session():
    with open(logfold.__file__) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import at line {node.lineno}"
            mods = [node.module or ""]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        else:
            if isinstance(node, ast.Name):
                assert node.id != "SparkSession", f"line {node.lineno}"
            if isinstance(node, ast.Attribute):
                assert node.attr != "SparkSession", f"line {node.lineno}"
            continue
        for m in mods:
            assert not m.startswith(PACKAGE), f"package import {m!r}"
            top = m.split(".")[0]
            assert top in sys.stdlib_module_names or m in (
                "pyarrow",
                "pyarrow.parquet",
                "pyspark.sql.types",
            ), f"import {m!r} is neither stdlib, pyarrow nor pyspark.sql.types"
        if isinstance(node, ast.ImportFrom):
            assert "SparkSession" not in [a.name for a in node.names]


_DRIVER = textwrap.dedent(
    """
    import json, os, shutil, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from {pkg}.operators.deltalog import read_delta_snapshot, write_delta_checkpoint
    from {pkg}.operators.txlog import TxLogTable
    from {pkg}.sources import txlog_source

    txlog_source.register(spark)
    work = {work!r}
    native = os.path.join(work, "native")
    t = TxLogTable.create(
        spark, native, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    t.to_delta_log()
    write_delta_checkpoint(spark, native)
    t.append(spark.createDataFrame([(4, "d")], "k int, v string"))
    t.to_delta_log()
    foreign = os.path.join(work, "foreign")
    shutil.copytree(native, foreign)
    shutil.rmtree(os.path.join(foreign, "_txlog"))

    def drain(path, name):
        q = (
            spark.readStream.format("txlog").load(path)
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", os.path.join(work, "ck_" + name))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return sorted(map(tuple, spark.table(name).collect()))

    out = {{
        "txlog": [drain(native, "tx_out"), sorted(map(tuple, t.read().collect()))],
        "delta": [
            drain(foreign, "dl_out"),
            sorted(map(tuple, read_delta_snapshot(spark, foreign).collect())),
        ],
    }}
    print("RESULT " + json.dumps(out))
    spark.stop()
    """
)


def test_vanilla_session_outside_repo_streams_txlog_and_delta(tmp_path):
    """A driver whose cwd is outside the repository, with the repo on
    ``sys.path`` in code only (the JVM's python processes inherit the
    environment, so PYTHONPATH would hide a broken registration), on a
    vanilla SparkSession: ``register()`` then an ``availableNow`` drain
    of a txlog table and of a foreign Delta table (checkpointed, so the
    planner runner reads checkpoint parquet) equals each snapshot."""
    work = tmp_path / "work"
    work.mkdir()
    script = _DRIVER.format(repo=REPO, pkg=PACKAGE, work=str(work))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])
    for kind, (streamed, snapshot) in out.items():
        assert len(snapshot) == 4, kind
        assert streamed == snapshot, kind


# The places that legitimately list the txlog or open a commit (every
# piece of table state is a view over logfold.Snapshot, and every
# per-commit pass — history, change feeds, the Delta export, the Iceberg
# export's scans — steps logfold.walk): commit mtimes, the cleanup
# horizon scan, vacuum's one GC reference scan (raw, so a torn commit
# cannot stop it), the interleaved-commit check of a rebase, and the
# snapshot's own one listing. ``Snapshot.apply`` is the one step that
# applies a commit; outside logfold.py only the checkpoint writer calls
# it, to serialize the snapshot after the commit it publishes.
_LOG_WALKS_ALLOWED = {
    "operators/txlog.py": {
        "TxLogTable._snapshot",
        "TxLogTable.version_at_timestamp",
        "TxLogTable.cleanup_log",
        "TxLogTable.vacuum",
        "TxLogTable._rebase_base",
        "TxLogTable._try_commit",
    },
    "operators/iceberg.py": set(),
    "operators/deltalog.py": set(),
    "sources/txlog_source.py": set(),
}


def _log_walks(path: str) -> list[tuple[str, int]]:
    """(enclosing top-level function or method, line) of every place that
    lists the log dir or opens a commit: ``os.listdir(...log_dir...)``,
    ``open(...log_dir...)`` / ``open(..._commit_name...)``, the logfold
    commit readers ``_load`` / ``_commit_entries`` — or applies a commit
    itself: ``apply_commit(...)`` / ``<snapshot>.apply(...)``."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    scopes: list[tuple[str, ast.AST]] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scopes.append((node.name, node))
        elif isinstance(node, ast.ClassDef):
            scopes += [
                (f"{node.name}.{m.name}", m)
                for m in node.body
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
    out = []
    for name, scope in scopes:
        for call in ast.walk(scope):
            if not isinstance(call, ast.Call):
                continue
            fn = ast.unparse(call.func)
            args = " ".join(ast.unparse(a) for a in call.args)
            if (
                (fn == "os.listdir" and "log_dir" in args)
                or (fn == "open" and ("log_dir" in args or "_commit_name" in args))
                or fn in ("_load", "_commit_entries", "logfold._load")
                or fn.split(".")[-1] in ("apply_commit", "_apply_commit")
                or fn.endswith(".apply")
            ):
                out.append((name, call.lineno))
    return out


def test_table_state_never_walks_the_log_outside_the_snapshot():
    """Table state comes from the snapshot and per-commit state from
    logfold.walk: txlog.py, iceberg.py, deltalog.py and the DataSource
    list the log, open a commit or apply one only inside the named
    places. An accessor or export that re-grows its own walk or fold of
    the log fails here."""
    pkg = os.path.join(REPO, PACKAGE)
    for rel, allowed in _LOG_WALKS_ALLOWED.items():
        walks = _log_walks(os.path.join(pkg, rel))
        stray = sorted({(n, ln) for n, ln in walks if n not in allowed})
        assert not stray, f"{rel}: log walks outside the snapshot: {stray}"
        seen = {n for n, _ in walks}
        assert allowed <= seen, f"{rel}: stale allow-list {allowed - seen}"


def test_only_footer_stats_dict_reads_parquet_column_statistics():
    """Per-file statistics come from the snapshot's recorded stats;
    ``txlog.footer_stats_dict`` is the one reader of parquet column
    statistics (for files with no recorded entry). A skipper, export or
    accessor that grows its own footer loop reads ``.statistics`` and
    fails here."""
    stray, inside = [], 0
    for root, _dirs, names in os.walk(os.path.join(REPO, PACKAGE)):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            allowed = set()
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.FunctionDef)
                    and node.name == "footer_stats_dict"
                ):
                    allowed |= {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr == "statistics":
                    if id(node) in allowed:
                        inside += 1
                    else:
                        stray.append((os.path.relpath(path, REPO), node.lineno))
    assert not stray, f"parquet statistics read outside footer_stats_dict: {stray}"
    assert inside, "footer_stats_dict no longer reads parquet statistics"
