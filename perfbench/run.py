"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all [--seed n] [--seconds s] [--trace 0|1]

One run generates the workload's inputs from ``--seed`` inside a scratch
directory of the checkout, starts Spark on a pinned ``local[N]``, sets up,
runs closed-loop operations for at least ``--seconds`` (and until the
workload's sample floor is met), checks every output, and prints:

- a ``{"detail": ...}`` line: every workload metric by name with its unit,
  the environment stamp, input sizes and (traced) per-layer metrics;
- as the LAST line, the result object: ``correct``, ``attempted``,
  ``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
  with ``--trace 0``, its per-layer metrics with ``--trace 1``.

``--workload all`` runs every workload in turn (one process each) and
prints one table of all their metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import env  # noqa: E402
import stats  # noqa: E402

try:
    from bench import _lineage
    from workloads import WORKLOADS
except ImportError as e:
    sys.exit(f"perfbench: bench.py and the package under test must be importable from {ROOT}: {e}")

CPUS = min(4, os.cpu_count() or 1)  # pinned local[N], N <= nproc
GEN_REPEATS = 3  # set-up input generation is timed this many times (median)

END_TO_END = {
    "setup_s": "s",
    "op_mean_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "mem_mb": "MB",
}

PER_LAYER_SPANS = (
    "sources.read_positional_csv",
    "sources.tpch.load_table",
    "plans.staging.build",
    "plans.warehouse.write_fact_partitioned",
    "plans.pipeline.run_pipeline",
    "plans.pipeline.append_month",
    "plans.datamart.plan",
    "plans.adhoc.plan",
    "queries.plan",
    "functions.snowflake_sql.translate",
    "operators.dedup.exec",
    "operators.text.exec",
    "operators.similarity.exec",
    "operators.txlog.merge_into_txlog",
    "operators.txlog.delete_where",
    "operators.txlog.read",
    "operators.txlog.replay_log",
    "operators.txlog.optimize",
    "operators.txlog.vacuum",
)
PER_LAYER_COUNTS = {
    "plans.elt.files_written": "count",
    "plans.elt.bytes_written_per_input_byte": "B/B",
    "operators.txlog.live_files": "count",
    "operators.txlog.files_rewritten_per_write": "count",
    "operators.txlog.bytes_written_per_changed_row": "B/row",
    "operators.txlog.optimize_bytes_rewritten": "B",
    "operators.txlog.commit_retries": "count",
}
PER_OP_COUNTS = {
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
}

DETAIL_UNITS = {
    "query_mean_ms": "ms", "write_mean_ms": "ms", "query_p50_ms": "ms", "query_tail_ms": "ms", "query_tail_percentile": "%",
    "query_samples": "count", "queries_per_s": "1/s",
    "warehouse_query_p50_ms": "ms", "operator_query_p50_ms": "ms",
    "elt_rows_per_s": "rows/s", "append_month_s": "s", "elt_run_pipeline_s": "s",
    "raw_rows": "count", "raw_bytes": "B", "fact_rows": "count",
    "files_written": "count", "bytes_written_per_input_byte": "B/B",
    "write_p50_ms": "ms", "write_tail_ms": "ms", "write_tail_percentile": "%",
    "write_samples": "count", "writes_per_s": "1/s", "read_p50_ms": "ms",
    "maintenance_p50_ms": "ms", "storage_bytes_per_live_byte": "B/B",
    "checkpoints_crossed": "count", "commit_retries": "count", "versions": "version",
    "setup_s": "s", "session_start_s": "s", "input_gen_s": "s", "build_s": "s",
    "mem_mb": "MB", "jvm_heap_mb": "MB", "jvm_non_heap_mb": "MB", "python_rss_mb": "MB", "peak_rss_mb": "MB",
    "error_rate": "1", "elapsed_s": "s",
}


def _prepare_dirs(work: str, driver_memory: str) -> None:
    """Keep every file the run and Spark write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _held_mb(spark) -> dict[str, float]:
    """Memory the program holds, whatever the JVM heap cap: the JVM heap in
    use right after a full collection plus its non-heap memory (class
    metadata, code cache), and the resident memory of the driver Python and
    the JVM's Python workers. Called after the timed phase."""
    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    # the first collection lets Spark's cleaner drop the broadcasts and
    # shuffles of unreachable DataFrames; the second frees what it dropped
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = bean.getHeapMemoryUsage().getUsed() / 2**20
    non_heap = bean.getNonHeapMemoryUsage().getUsed() / 2**20
    py = stats.tree_rss_mb(os.getpid(), exclude={SparkContext._gateway.proc.pid})
    return {"mem_mb": heap + non_heap + py, "jvm_heap_mb": heap, "jvm_non_heap_mb": non_heap, "python_rss_mb": py}


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both (and for the
    JVM's Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while len(stats.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def _layer_metrics(tracer, wl, session_s: float) -> dict:
    # a layer's time: its self time summed within each traced op, averaged
    # over the traced ops the layer took part in
    by_op: dict[str, dict[str, float]] = {}
    for span, self_ms in tracer.self_times():
        ops = by_op.setdefault(span.name, {})
        ops[span.op] = ops.get(span.op, 0.0) + self_ms
    out = {"session.get_spark_s": {"value": session_s, "unit": "s"}}
    for name in PER_LAYER_SPANS:
        ops = by_op.get(name, {})
        val = sum(ops.values()) / len(ops) if ops else 0.0
        out[f"{name}.ms"] = {"value": val, "unit": "ms"}
    n = max(1, tracer.traced_ops)
    for name, unit in PER_OP_COUNTS.items():
        out[name] = {"value": tracer.counts.get(name, 0.0) / n, "unit": unit}
    extra = wl.layer_counts()
    for name, unit in PER_LAYER_COUNTS.items():
        val = extra.get(name, tracer.counts.get(name, 0.0))
        out[name] = {"value": float(val), "unit": unit}
    over, pct = wl.tracing_overhead()
    out["trace.overhead_ms"] = {"value": over, "unit": "ms"}
    out["trace.overhead_pct"] = {"value": pct, "unit": "%"}
    return out


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_dirs(work, WORKLOADS[workload].DRIVER_MEMORY)
    load_before = env.loadavg()
    try:
        with stats.PeakRss(os.getpid()) as rss:
            result = _run(workload, seed, seconds, trace, work, load_before, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result["detail"]}, default=str), flush=True)
    print(json.dumps(result["final"]), flush=True)
    return 0


def _run(workload, seed, seconds, trace, work, load_before, rss) -> dict:
    from airbnb_listings_data_pipelines_spark.session import get_spark

    from spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark) if trace else None
        wl = WORKLOADS[workload](spark, seed, work, tracer)
        gen_s = []
        for k in range(GEN_REPEATS):
            root = os.path.join(work, f"inputs-{k}")
            t = time.perf_counter()
            wl.generate(root)
            gen_s.append(time.perf_counter() - t)
            if k + 1 < GEN_REPEATS:
                shutil.rmtree(root)
        if tracer is not None:
            wl.install_tracing()
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.timed(seconds)
        elapsed = time.perf_counter() - t
        mem = _held_mb(spark)
        layers = _layer_metrics(tracer, wl, session_s) if tracer is not None else None
        if tracer is not None:
            tracer.restore()
        master = spark.sparkContext.master
        version = spark.version
    finally:
        _stop_spark(spark)
    rss.sample()
    setup_s = session_s + stats.median(gen_s) + build_s
    failed_ops = sum(not o.ok for o in wl.ops)
    attempted = len(wl.ops) + wl.checks
    failed = failed_ops + wl.check_failures
    prim = wl.primary_metrics(elapsed)
    e2e = {
        "setup_s": setup_s,
        "op_mean_ms": prim["op_mean_ms"],
        "op_tail_ms": prim["op_tail_ms"],
        "ops_per_s": prim["ops_per_s"],
        "mem_mb": mem["mem_mb"],
    }
    detail_vals = {
        **wl.details(elapsed),
        "setup_s": setup_s,
        "session_start_s": session_s,
        "input_gen_s": stats.median(gen_s),
        "build_s": build_s,
        **mem,
        "peak_rss_mb": rss.peak,
        "error_rate": failed / attempted,
        "elapsed_s": elapsed,
    }
    detail = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "metrics": {k: {"value": v, "unit": DETAIL_UNITS.get(k, "")} for k, v in detail_vals.items()},
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "inputs": wl.input_info,
        "env": env.stamp(ROOT, master, load_before, version),
        "ops": {"attempted": attempted, "failed": failed, "checks": wl.checks},
    }
    for name in ("raw", "tpch"):
        path = getattr(wl, name, None)
        if path and os.path.isdir(path):
            detail["env"][f"lineage_{name}"] = _lineage(path)
    metrics = layers if trace else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if layers is not None:
        detail["per_layer"] = layers
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"detail": detail, "final": final}


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process; one table of all their metrics."""
    rows = []
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
        out = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or len(lines) < 2:
            print(f"{name}: failed (exit {out.returncode})\n{out.stderr[-2000:]}", file=sys.stderr)
            status = 1
            continue
        detail = json.loads(lines[-2])["detail"]
        final = json.loads(lines[-1])
        verdict = "correct" if final["correct"] else f"WRONG ({final['failed']}/{final['attempted']} failed)"
        rows.append((name, "output_check", verdict, ""))
        for section in ("end_to_end", "metrics", "per_layer"):
            for k, m in detail.get(section, {}).items():
                v = m["value"]
                rows.append((name, f"{section}.{k}", f"{v:.4g}" if isinstance(v, float) else str(v), m["unit"]))
    width = max((len(r[1]) for r in rows), default=10)
    for r in rows:
        print(f"{r[0]:<18} {r[1]:<{width}} {r[2]:>14} {r[3]}")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
