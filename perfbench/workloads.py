"""The benchmark's workloads. Each one generates its inputs from the seed,
builds what its operations need (set-up), then runs closed-loop operations
until the run's time is up and its sample floor is met, checking outputs as
it goes. Every call into the package goes through a public function of
``session``, ``sources``, ``functions``, ``plans``, ``queries`` or
``operators``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

import gen
from bench import HEADLINE  # the driver-contract headline queries
from stats import median, tail

# a tail needs 10 samples beyond it; 21 puts that percentile above the median
MIN_SAMPLES = 21


@dataclass
class Op:
    kind: str
    label: str  # query name or write kind: ops with one label do the same work
    seconds: float
    ok: bool
    traced: bool


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns by name, floats
    to 10 significant digits (sums of doubles may reorder across runs)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None or (isinstance(v, float) and v != v):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.10g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


class Workload:
    name = ""
    primary = ""  # the op kind the end-to-end latency metrics describe
    min_samples = MIN_SAMPLES  # primary ops a timed phase runs at least
    DRIVER_MEMORY = "2g"  # JVM heap cap, kept small on a shared machine

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.ops: list[Op] = []
        self.checks = 0
        self.check_failures = 0
        self.input_info: dict = {}
        self._seq: dict[str, int] = {}
        self._lock = threading.Lock()

    # -- helpers shared by the workloads

    def _next_traced(self, label: str) -> tuple[int, bool]:
        """Sequence number of the next op with this label; in a traced run
        every other op of each label is traced, so the same run also
        measures the untraced cost of the same work."""
        with self._lock:
            i = self._seq.get(label, 0)
            self._seq[label] = i + 1
        return i, self.tracer is not None and i % 2 == 0

    def run_op(self, kind: str, fn, label: str | None = None) -> Op:
        label = label or kind
        i, traced = self._next_traced(label)
        t0 = time.perf_counter()
        ok = True
        try:
            if self.tracer is not None:
                with self.tracer.op(f"{label}-{i}", kind, traced):
                    ok = fn() is not False
            else:
                ok = fn() is not False
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
            print(f"op {label}-{i} failed: {type(e).__name__}: {e}", flush=True)
            ok = False
        op = Op(kind, label, time.perf_counter() - t0, ok, traced)
        with self._lock:
            self.ops.append(op)
        return op

    def tracing_overhead(self) -> tuple[float, float]:
        """(ms, %) by which a traced op is slower than an untraced op of the
        same label: the median over labels of the difference of medians."""
        diffs, bases = [], []
        for label in {o.label for o in self.ops if o.kind == self.primary}:
            t = [o.seconds for o in self.ops if o.label == label and o.ok and o.traced]
            u = [o.seconds for o in self.ops if o.label == label and o.ok and not o.traced]
            if t and u:
                diffs.append((median(t) - median(u)) * 1000.0)
                bases.append(median(u) * 1000.0)
        if not diffs:
            return 0.0, 0.0
        return median(diffs), 100.0 * median(diffs) / median(bases)

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures += 1
            print(f"output check failed: {what}", flush=True)

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def latencies(self, kind: str, traced: bool | None = False) -> list[float]:
        return [
            o.seconds for o in self.ops
            if o.kind == kind and o.ok and (traced is None or o.traced == traced)
        ]

    def primary_metrics(self, elapsed: float) -> dict:
        lat = self.latencies(self.primary) or self.latencies(self.primary, None)
        t = tail(lat)
        n_primary = sum(o.kind == self.primary for o in self.ops)
        return {
            "op_mean_ms": statistics.fmean(lat) * 1000.0,
            "op_p50_ms": median(lat) * 1000.0,
            "op_tail_ms": t["value"] * 1000.0,
            "tail_percentile": t["percentile"],
            "tail_samples": t["n"],
            "ops_per_s": n_primary / elapsed,
        }

    # -- interface

    def generate(self, root: str) -> dict:
        raise NotImplementedError

    def build(self) -> None:
        raise NotImplementedError

    def timed(self, seconds: float) -> None:
        raise NotImplementedError

    def details(self, elapsed: float) -> dict:
        return {}

    def install_tracing(self) -> None:
        pass

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts the workload measures itself (traced runs)."""
        return {}


# ------------------------------------------------------------- warehouse

# bench.py's headline queries plus the Snowflake-dialect front end
OPERATOR_QUERIES = (*HEADLINE, "q39_snowflake_dialect_frontend")
# the operator layer whose work a query's execution is
EXEC_LAYER = {
    "x01_dedup_exact": "operators.dedup.exec",
    "x07_simhash": "operators.dedup.exec",
    "x02_token_count": "operators.text.exec",
    "x03_quality_scores": "operators.text.exec",
    "x09_cosine_topk": "operators.similarity.exec",
}


def digest(canon: list[tuple]) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


class WarehouseQueries(Workload):
    """Interactive read traffic from 4 clients — the DAG's four parallel KPI
    tasks. Set-up runs the monthly ELT (``run_pipeline`` into a persisted
    warehouse, then ``append_month``) and checks the fact table against the
    generator. It records the result of every query — the KPI views, the
    ad-hoc queries, and the 12 ``bench.py`` headline queries plus the
    Snowflake-dialect query over generated TPC-H-shaped tables — comparing
    each operator query with its DuckDB oracle. The clients then pull
    queries from shuffled decks holding every query once: warehouse queries
    built on a fresh read of the persisted layers (they all share the fact
    table) and operator queries (little shared work). Every result is
    collected and compared with its set-up result."""

    name = "warehouse_queries"
    primary = "query"
    CLIENTS = 4
    # ~0.9k raw rows a month: 1/40 of the reference's ~36k (BASELINE.md), so
    # that a run fits the time budget; see README.md "Input sizes"
    N_LISTINGS = 1000
    MONTHS = 12
    N_ORDERS = 15_000  # sf0.01 row counts
    QUERIES = (
        ("kpi_neighbourhood_month", "datamart", False),
        ("kpi_neighbourhood_month_raw", "datamart", False),
        ("kpi_property_month", "datamart", False),
        ("kpi_host_neighbourhood_month", "datamart", False),
        ("query_a_best_worst_demographics", "adhoc", True),
        ("query_b_best_listing_type_top5", "adhoc", False),
        ("query_c_same_neighbourhood", "adhoc", False),
        ("query_d_mortgage_coverage", "adhoc", True),
    )
    # two whole decks: 42 queries, so the tail (10 beyond) is p76
    min_samples = 2 * (len(QUERIES) + len(OPERATOR_QUERIES))

    def generate(self, root: str) -> dict:
        self.raw = os.path.join(root, "raw")
        self.append_dir = os.path.join(root, "append")
        self.tpch = os.path.join(root, "tpch")
        info = gen.write_listing_dir(
            self.seed, self.raw, self.N_LISTINGS, self.MONTHS, self.append_dir
        )
        info["tpch_rows"] = gen.write_tpch_dir(self.seed, self.tpch, self.N_ORDERS)
        info["tpch_bytes"] = gen.bytes_under(self.tpch)
        self.input_info = info
        return info

    def install_tracing(self) -> None:
        from airbnb_listings_data_pipelines_spark.functions import snowflake_sql
        from airbnb_listings_data_pipelines_spark.plans import (
            adhoc, datamart, pipeline, staging, warehouse,
        )
        from airbnb_listings_data_pipelines_spark.sources import csv, tpch

        t = self.tracer
        t.wrap(csv.read_positional_csv, "sources.read_positional_csv")
        for fn in ("build_staging_census", "build_staging_location", "build_staging_listing"):
            t.wrap(getattr(staging, fn), "plans.staging.build")
        t.wrap(warehouse.write_fact_partitioned, "plans.warehouse.write_fact_partitioned")
        t.wrap(pipeline.run_pipeline, "plans.pipeline.run_pipeline")
        t.wrap(pipeline.append_month, "plans.pipeline.append_month")
        for fn, mod, _dim in self.QUERIES:
            module = datamart if mod == "datamart" else adhoc
            t.wrap(getattr(module, fn), f"plans.{mod}.plan")
        t.wrap(tpch.load_table, "sources.tpch.load_table")
        t.wrap(snowflake_sql.translate, "functions.snowflake_sql.translate")

    def build(self) -> None:
        from airbnb_listings_data_pipelines_spark.queries.registry import load_all

        self._elt()
        self.reg = load_all()
        # reference results: every query once on the clients (the slower
        # warehouse queries first), beside them the DuckDB oracles on one thread
        names = [q[0] for q in self.QUERIES] + list(OPERATOR_QUERIES)
        with ThreadPoolExecutor(1) as duck, ThreadPoolExecutor(self.CLIENTS) as pool:
            oracles = duck.submit(self._oracle_results)
            results = {name: pool.submit(self._result, name) for name in names}
            got = {name: f.result() for name, f in results.items()}
            want = oracles.result()
        self.expected = {fn: digest(got[fn]) for fn, _mod, _dim in self.QUERIES}
        for name in OPERATOR_QUERIES:
            self.check(got[name] == want[name], f"{name} differs from its DuckDB oracle")
            self.expected[name] = digest(got[name])
        self.check(len(set(self.expected.values())) == len(self.expected), "reference results")

    def _elt(self) -> None:
        from pyspark.sql import functions as F

        from airbnb_listings_data_pipelines_spark.plans import pipeline

        self.wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(self.wh, ignore_errors=True)
        timings = {}

        def elt():
            t0 = time.perf_counter()
            pipeline.run_pipeline(self.spark, self.raw, persist_dir=self.wh, register_views=False)
            t1 = time.perf_counter()
            pipeline.append_month(
                self.spark, self.append_dir, self.wh, self.input_info["append_glob"]
            )
            timings.update(run=t1 - t0, append=time.perf_counter() - t1)

        op = self.run_op("elt", elt)
        self.ops.remove(op)  # set-up, not a timed op
        self.check(op.ok, "ELT raised")
        base, app = self.input_info["base"], self.input_info["append"]
        row = (
            self.spark.read.parquet(os.path.join(self.wh, "fact_listing"))
            .agg(F.count("*").alias("n"), F.sum("price").alias("p"))
            .collect()[0]
        )
        want_n = base["fact_rows"] + app["fact_rows"]
        want_cents = base["price_cents"] + app["price_cents"]
        self.check(
            row["n"] == want_n and int(row["p"] * 100) == want_cents,
            f"fact rows/price {row['n']}/{row['p']} != {want_n}/{want_cents / 100}",
        )
        raw_rows = base["raw_rows"] + app["raw_rows"]
        raw_bytes = base["bytes"] + app["bytes"]
        files = sum(len(fs) for _d, _s, fs in os.walk(self.wh))
        self.elt = {
            "elt_rows_per_s": raw_rows / (timings["run"] + timings["append"]),
            "append_month_s": timings["append"],
            "elt_run_pipeline_s": timings["run"],
            "raw_rows": raw_rows,
            "raw_bytes": raw_bytes,
            "fact_rows": want_n,
            "files_written": files,
            "bytes_written_per_input_byte": gen.bytes_under(self.wh) / raw_bytes,
        }
        if self.tracer is not None:
            self.tracer.count("plans.elt.files_written", files)
            self.tracer.count(
                "plans.elt.bytes_written_per_input_byte", self.elt["bytes_written_per_input_byte"]
            )

    def _oracle_results(self) -> dict[str, list[tuple]]:
        import duckdb

        from airbnb_listings_data_pipelines_spark.sources.tpch import TPCH_TABLES

        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")
            for t in TPCH_TABLES:
                path = os.path.join(self.tpch, f"{t}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for name in OPERATOR_QUERIES:
                cur = con.execute(self.reg[name].oracle)
                out[name] = canon_rows([d[0] for d in cur.description], cur.fetchall())
            return out
        finally:
            con.close()

    def _result(self, name: str) -> list[tuple]:
        """Build one query (inside its layer's plan span) and collect it
        (inside its execution span); returns the canonical rows."""
        from airbnb_listings_data_pipelines_spark.plans import adhoc, datamart, warehouse

        if name in OPERATOR_QUERIES:
            with self.span("queries.plan"):
                df = self.reg[name].fn(self.spark, self.tpch)
            layer = EXEC_LAYER.get(name, "queries.exec")
        else:
            fn, mod, needs_dim = next(q for q in self.QUERIES if q[0] == name)
            module = datamart if mod == "datamart" else adhoc
            fact = self.spark.read.parquet(os.path.join(self.wh, "fact_listing"))
            if needs_dim:
                dim = warehouse.build_dim_census(
                    self.spark.read.parquet(os.path.join(self.wh, "staging_census"))
                )
                df = getattr(module, fn)(fact, dim)
            else:
                df = getattr(module, fn)(fact)
            layer = f"plans.{mod}.exec"
        with self.span(layer):
            return canon_rows(df.columns, df.collect())

    def timed(self, seconds: float) -> None:
        # the query schedule is part of the workload, not of its inputs: one
        # order for every seed, so which queries overlap repeats run to run
        rng = np.random.default_rng(7)
        names = [q[0] for q in self.QUERIES] + list(OPERATOR_QUERIES)
        deck: list[str] = []
        issued = 0
        start = time.perf_counter()

        def next_query() -> str | None:
            nonlocal issued
            with self._lock:
                if not deck:
                    done = time.perf_counter() - start >= seconds and issued >= self.min_samples
                    if done:
                        return None
                    deck.extend(names[i] for i in rng.permutation(len(names)))
                issued += 1
                return deck.pop()

        def client() -> None:
            while (name := next_query()) is not None:
                self.run_op(
                    self.primary,
                    lambda n=name: digest(self._result(n)) == self.expected[n],
                    label=name,
                )

        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(self.CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()

    def details(self, elapsed: float) -> dict:
        m = self.primary_metrics(elapsed)
        ok = [o for o in self.ops if o.kind == self.primary and o.ok and not o.traced]
        wh = [o.seconds for o in ok if o.label not in OPERATOR_QUERIES]
        opq = [o.seconds for o in ok if o.label in OPERATOR_QUERIES]
        return {
            "query_mean_ms": m["op_mean_ms"],
            "query_p50_ms": m["op_p50_ms"],
            "query_tail_ms": m["op_tail_ms"],
            "query_tail_percentile": m["tail_percentile"],
            "query_samples": m["tail_samples"],
            "queries_per_s": m["ops_per_s"],
            "warehouse_query_p50_ms": median(wh) * 1000.0 if wh else None,
            "operator_query_p50_ms": median(opq) * 1000.0 if opq else None,
            **self.elt,
        }


# ------------------------------------------------------------- lakehouse


class LakehouseUpserts(Workload):
    """One ``operators.txlog`` table of listing ids, range-clustered over 16
    files (more files than cores). A cycle is five writes — three Zipf-keyed
    ``merge_into_txlog`` upserts of recent listings (mostly updates, some
    inserts), one sliver ``delete_where`` range and one maintenance step
    (``optimize`` of the recent quarter of the ids, where the upserts land,
    then ``vacuum``) — each followed by a snapshot-read aggregate that is
    checked against a Python model of the table. Set-up warms the write
    path and brings the log to one commit short of a checkpoint, so the
    timed phase (5+ cycles) crosses two 20-commit checkpoints."""

    name = "lakehouse_upserts"
    primary = "write"
    N_ROWS = 36_057  # one row per listing of a reference month (BASELINE.md)
    FILES = 16
    BATCH = 200  # assumed, as are DELETE_WIDTH and TxlogModel's hot range and Zipf exponent
    DELETE_WIDTH = 50
    CYCLE = ("upsert", "delete", "upsert", "upsert", "maintenance")
    # five cycles: 25 writes, enough for a tail above the median, and
    # 5 x (4 + optimize + vacuum) = 30 commits, so a phase starting one
    # commit short of a checkpoint crosses two of them
    min_samples = 5 * len(CYCLE)
    DRIVER_MEMORY = "1g"
    CHECKPOINT_EVERY = 20  # the table's log-checkpoint interval

    def generate(self, root: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.model = gen.TxlogModel(self.seed, self.N_ROWS)
        ids, vals = self.model.base_arrays()
        os.makedirs(root, exist_ok=True)
        self.base_path = os.path.join(root, "base.parquet")
        pq.write_table(pa.table({"id": ids, "value": vals}), self.base_path)
        gen.pin_mtime(self.base_path)
        self.input_info = {"rows": len(ids), "bytes": os.path.getsize(self.base_path)}
        return self.input_info

    def install_tracing(self) -> None:
        from airbnb_listings_data_pipelines_spark.operators import txlog

        t = self.tracer
        t.wrap(txlog.merge_into_txlog, "operators.txlog.merge_into_txlog")
        t.wrap(txlog.replay_log_full, "operators.txlog.replay_log")
        t.wrap_method(txlog.TxLogTable, "delete_where", "operators.txlog.delete_where")
        t.wrap_method(txlog.TxLogTable, "read", "operators.txlog.read")
        t.wrap_method(txlog.TxLogTable, "optimize", "operators.txlog.optimize")
        t.wrap_method(txlog.TxLogTable, "vacuum", "operators.txlog.vacuum")

    def build(self) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        from airbnb_listings_data_pipelines_spark.operators import txlog

        arbiter_self = self

        class CountingArbiter(txlog.PosixExclArbiter):
            """Counts lost commit races: each one is a retried commit."""

            def put_if_absent(self, target: str, payload: str) -> bool:
                won = super().put_if_absent(target, payload)
                if not won:
                    arbiter_self.commit_retries += 1
                return won

        self.commit_retries = 0
        self.schema = StructType([StructField("id", LongType()), StructField("value", LongType())])
        self.path = os.path.join(self.work, "table")
        shutil.rmtree(self.path, ignore_errors=True)
        df = (
            self.spark.read.parquet(self.base_path)
            .repartitionByRange(self.FILES, "id")
            .sortWithinPartitions("id")
        )
        self.table = txlog.TxLogTable.create(self.spark, self.path, df, arbiter=CountingArbiter())
        self.writes = {"files_rewritten": [], "bytes_per_changed_row": [], "live_files": []}
        self.maint: list[int] = []  # bytes of the files each optimize rewrote
        # untimed writes of each kind warm the write, read and maintenance
        # paths (the first merges pay JIT and codegen)
        for kind in ("upsert", "delete"):
            self._write(kind)
            self.check(self._read(), "warm-up read != model")
        self._maintain()
        # metadata-only commits bring the log to one short of a checkpoint
        v = self.table.version()
        while (v + 1) % self.CHECKPOINT_EVERY != 0:
            v = self.table.set_properties({"bench.setup": str(v)})
        self.start_version = self.table.version()
        self.ops.clear()

    def _write(self, kind: str) -> int:
        """Apply one write to the model and the table; returns rows changed."""
        from airbnb_listings_data_pipelines_spark.operators import txlog

        if kind == "maintenance":
            self._maintain()
            return 0
        if kind == "upsert":
            batch = self.model.upsert_batch(self.BATCH)
            src = self.spark.createDataFrame(batch, self.schema)
            txlog.merge_into_txlog(self.spark, self.table, src, ["id"])
            return len(batch)
        lo, hi, changed = self.model.delete_range(self.DELETE_WIDTH)
        self.table.delete_where(f"id BETWEEN {lo} AND {hi}", prune=("id", lo, hi))
        return changed

    def _read(self) -> bool:
        from pyspark.sql import functions as F

        want = self.model.expect()
        row = self.table.read().agg(F.count("*"), F.sum("id"), F.sum("value")).collect()[0]
        return tuple(int(x or 0) for x in row) == want

    def _maintain(self) -> None:
        # a whole-table optimize would leave one file; compacting the hot
        # range keeps the table spread over more files than cores
        lo = self.model.next_id - self.model.hot
        self.table.optimize(prune=("id", lo, self.model.next_id))
        self.table.vacuum(retain_versions=1)

    def _live_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.path, f)) for f in self.table.files())

    def timed(self, seconds: float) -> None:
        start = time.perf_counter()
        n_writes = 0
        while n_writes < self.min_samples or time.perf_counter() - start < seconds:
            for kind in self.CYCLE:
                n_writes += 1
                before = gen.bytes_under(self.path)
                live_before = {f: os.path.getsize(os.path.join(self.path, f)) for f in self.table.files()}
                changed = []
                op = self.run_op("write", lambda k=kind: changed.append(self._write(k)), label=kind)
                if not op.ok:
                    continue
                # a checkpoint commit folds its removes into the file list,
                # so rewritten files are counted from the live sets
                live_after = set(self.table.files())
                gone = live_before.keys() - live_after
                if kind == "maintenance":
                    self.maint.append(sum(live_before[f] for f in gone))
                else:
                    w = self.writes
                    w["files_rewritten"].append(len(gone))
                    w["bytes_per_changed_row"].append(
                        (gen.bytes_under(self.path) - before) / max(1, changed[0])
                    )
                    w["live_files"].append(len(live_after))
                r = self.run_op("read", self._read)
                self.check(r.ok, "snapshot read != model")
        self.end_version = self.table.version()
        self.storage = gen.bytes_under(self.path) / self._live_bytes()

    def details(self, elapsed: float) -> dict:
        m = self.primary_metrics(elapsed)
        maint = [o.seconds for o in self.ops if o.label == "maintenance" and o.ok]
        cps = self.end_version // self.CHECKPOINT_EVERY - self.start_version // self.CHECKPOINT_EVERY
        return {
            "write_mean_ms": m["op_mean_ms"],
            "write_p50_ms": m["op_p50_ms"],
            "write_tail_ms": m["op_tail_ms"],
            "write_tail_percentile": m["tail_percentile"],
            "write_samples": m["tail_samples"],
            "writes_per_s": m["ops_per_s"],
            "read_p50_ms": median(self.latencies("read")) * 1000.0,
            "maintenance_p50_ms": median(maint) * 1000.0 if maint else None,
            "storage_bytes_per_live_byte": self.storage,
            "checkpoints_crossed": cps,
            "commit_retries": self.commit_retries,
            "versions": [self.start_version, self.end_version],
        }

    def layer_counts(self) -> dict:
        w = self.writes
        return {
            "operators.txlog.live_files": float(np.mean(w["live_files"])),
            "operators.txlog.files_rewritten_per_write": float(np.mean(w["files_rewritten"])),
            "operators.txlog.bytes_written_per_changed_row": float(
                np.mean(w["bytes_per_changed_row"])
            ),
            "operators.txlog.optimize_bytes_rewritten": float(np.mean(self.maint))
            if self.maint
            else 0.0,
            "operators.txlog.commit_retries": float(self.commit_retries),
        }


WORKLOADS = {w.name: w for w in (WarehouseQueries, LakehouseUpserts)}
