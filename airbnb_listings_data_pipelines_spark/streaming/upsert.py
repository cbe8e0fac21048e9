"""Streaming upsert sink: CDC-style ``foreachBatch`` MERGE into a parquet
target — the production pattern for landing a change stream in a
warehouse table (public analog: Structured Streaming foreachBatch +
Delta/Iceberg MERGE; here backed by operators/merge.merge_into_parquet).

Why foreachBatch: MERGE is not an incremental streaming operator (it
needs the full target), but each micro-batch IS a bounded DataFrame, so
the loop is: dedup the batch to the latest row per key, then run one
batch MERGE per trigger. Exactly-once comes from the checkpoint (a
replayed batch re-merges the same rows — upserts are idempotent by key).

Scale shape: per-trigger cost is one merge of |batch| rows against the
touched partitions only (pass ``partition_col``), never a full-table
rewrite per trigger; compaction of the accreted partitions is
operators/maintenance.compact_parquet_dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.merge import merge_into_parquet


def latest_per_key(batch: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Collapse a micro-batch to its last change per key (highest
    ``order_col``, ties broken arbitrarily-but-deterministically by the
    remaining columns is unnecessary: CDC streams carry a monotonic
    ordinal). One window, no join."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return batch.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def upsert_stream(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
    available_now: bool = True,
):
    """Start a foreachBatch MERGE sink; returns the StreamingQuery.

    First batch bootstraps the target (plain write) when ``target_path``
    does not exist yet; subsequent batches MERGE (update-on-match,
    insert-on-miss).
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        b = latest_per_key(batch, keys, order_col)
        spark = batch.sparkSession
        if not os.path.exists(target_path):
            if partition_col:
                b.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
            else:
                b.write.mode("overwrite").parquet(target_path)
            return
        merge_into_parquet(
            spark,
            target_path,
            b,
            keys,
            when_matched="update",
            when_not_matched="insert",
            partition_col=partition_col,
        )

    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def append_stream_txlog(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    app_id: str,
    available_now: bool = True,
    compact_every: int | None = None,
    compact_target_files: int = 8,
):
    """Exactly-once streaming APPEND into a commit-log table.

    A replayed append is NOT naturally idempotent (unlike the keyed
    upsert above), so checkpoint-replay alone gives at-least-once. The
    txlog ``txn`` marker closes the gap — Delta's idempotent-writes
    design: each micro-batch commits with ``txn=(app_id, batch_id)``,
    and a batch whose id is already in the log is skipped inside the
    commit retry loop (no double-append even if two instances race). The
    Delta export mirrors the marker as a protocol ``txn`` action, so an
    external engine can take over the sink and resume from the same
    (appId, version). First batch creates the table.

    Per-trigger cost is O(batch): appends write new files only, never
    read or rewrite existing ones — at 100 TB the table size never
    enters the per-trigger cost.

    ``compact_every=N`` is auto-compaction (Delta's autoOptimize for
    the small-files problem every append sink creates): after N data
    commits since the last compaction, the sink runs
    ``optimize(target_files=compact_target_files)`` inline. Losing the
    optimize commit race is FINE and ignored — compaction is a logical
    no-op, and the next trigger retries; the append itself already
    committed, so exactly-once is unaffected. The check is one
    driver-side history scan (O(commits) small JSON)."""
    from ..operators.txlog import CommitConflict, TxLogTable

    def apply(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        _ensure_table(batch, table_path)
        t = TxLogTable(batch.sparkSession, table_path)
        t.append(batch, txn=(app_id, batch_id))
        if compact_every:
            since = 0
            for h in reversed(t.history()):
                # stop at any full-snapshot op; count DATA ops by NAME —
                # n_adds lies at checkpoint commits (their recorded adds
                # are the full live list, so even a metadata-only commit
                # landing on a checkpoint boundary reports adds)
                if h["op"] in (
                    "optimize", "create", "convert", "convert_delta", "clone",
                ):
                    break
                if h["op"] in ("append", "merge", "delete", "update"):
                    since += 1
            if since >= compact_every:
                try:
                    t.optimize(target_files=compact_target_files)
                except CommitConflict:
                    pass  # logical no-op lost a race; next trigger retries

    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ensure_table(
    batch: DataFrame, table_path: str, timeout_s: float = 120.0
) -> None:
    """Create the table as ZERO rows + schema if absent. The first data
    batch then lands through the txn-marked commit like every other —
    if create() itself carried the rows, a batch-0 replay between the
    create commit and the checkpoint write would double-append (the
    create records no txn). Two racing first batches: one create wins
    the O_EXCL makedirs; the loser must then WAIT for the winner's
    commit 0 to appear — create() makedirs the log dir, runs a
    multi-second Spark write, and only then commits, so "log dir
    exists" alone does not mean the table is appendable yet (an
    immediate append would die on FileNotFoundError and kill the
    streaming query). Polls with a timeout so a crashed winner (log dir
    but never a commit 0) surfaces as a clear error, not a hang."""
    import time

    from ..operators.txlog import TxLogTable, _commit_name

    log_dir = os.path.join(table_path, "_txlog")
    if not os.path.exists(log_dir):
        try:
            # schema-only create from a driver-local empty frame:
            # ``batch.limit(0)`` would still plan AND run the batch's
            # full lineage (for a CDF batch, the Python-source slice
            # read) just to produce zero rows — an empty createDataFrame
            # with the same schema commits the identical zero-row table
            # for one no-op task (guide §1.4)
            TxLogTable.create(
                batch.sparkSession,
                table_path,
                batch.sparkSession.createDataFrame([], batch.schema),
            )
            return
        except FileExistsError:
            pass  # lost the makedirs race — fall through and wait
    commit0 = os.path.join(log_dir, _commit_name(0))
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(commit0):
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"{log_dir} exists but commit 0 never appeared within "
                f"{timeout_s:.0f}s — a racing create() likely crashed "
                "between makedirs and its first commit; remove the "
                "_txlog dir to let the next batch re-create the table"
            )
        time.sleep(0.05)


def upsert_stream_txlog(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    app_id: str,
    available_now: bool = True,
):
    """Exactly-once streaming MERGE into a commit-log table: the txlog
    twin of :func:`upsert_stream`, with two upgrades — the MERGE commit
    is atomic and snapshot-isolated (no staged-swap unavailability
    window), and the ``txn=(app_id, batch_id)`` marker makes replays
    no-ops BY LOG STATE rather than relying on upsert idempotency (which
    silently breaks the moment someone adds a non-idempotent clause like
    a counter increment). Copy-on-write at file granularity: each
    trigger rewrites only files containing batch keys."""
    from ..operators.txlog import TxLogTable, merge_into_txlog

    def apply(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        # the merge reads its source once (discovery, join and retries
        # share one materialization), so the deduped batch needs no
        # persist here
        b = latest_per_key(batch, keys, order_col)
        spark = batch.sparkSession
        _ensure_table(b, table_path)
        t = TxLogTable(spark, table_path)
        merge_into_txlog(spark, t, b, keys, txn=(app_id, batch_id))

    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cdf_apply_stream_txlog(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint_dir: str,
    app_id: str,
    available_now: bool = True,
):
    """MEDALLION CDC apply: tail an upstream commit-log table's Change
    Data Feed (``readStream.format("txlog").option("readChangeFeed",
    "true")``) and replicate it into a downstream table with
    exactly-once semantics — the bronze->silver composition (public
    analog: Delta CDF + foreachBatch MERGE, the medallion pattern from
    the Delta docs).

    Per micro-batch:

    1. NET the feed per key: keep the row with the highest
       ``(_commit_version, _change_type)`` — 'insert' orders above
       'delete', so an update's delete+insert pair (and a copy-on-write
       rewrite's noise pair) nets to the post-image, and a bare delete
       nets to delete. This makes the RAW file-granularity feed safe to
       apply directly; no reliance on upstream net-ing.
    2. Apply the WHOLE netted batch as ONE multi-clause MERGE with
       ``txn=(app_id, batch_id)``: matched 'delete' rows delete,
       matched 'insert' rows update (``SET *`` — the meta columns are
       not target columns, so only data columns copy), not-matched
       'insert' rows insert, not-matched 'delete' rows fall out of the
       clause list exactly as ``when_not_matched='ignore'`` did. After
       netting the insert and delete key sets are disjoint, so the
       single commit is row-for-row identical to the former
       upserts-then-deletes pair — at HALF the per-trigger machinery
       (one touched-file discovery scan, one full-outer join, one file
       write, one commit instead of two each; guide §1.4 fewer
       actions). One txn id per batch also simplifies the crash story:
       a replay at ANY point re-runs one merge that no-ops by log
       state — exactly-once never depended on apply idempotency.

    Scale shape: per trigger, cost is O(batch) + the touched-file
    rewrite of the single merge; upstream table size enters only as the
    CDF slices of the polled commits (O(changed files) — see
    sources/txlog_source.py). Keys deleted and re-inserted across
    DIFFERENT batches are applied in batch order (offsets are commit
    versions), so the downstream state converges to the upstream
    snapshot at every batch boundary."""
    from ..operators.txlog import TxLogTable, merge_into_txlog

    meta = ["_change_type", "_commit_version"]

    def apply(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        from pyspark.storagelevel import StorageLevel

        spark = batch.sparkSession
        w = Window.partitionBy(*keys).orderBy(
            F.desc("_commit_version"), F.desc("_change_type")
        )
        # PERSIST the netted batch: its lineage is the CDF slice read
        # (Python data source) + a window, and it feeds two actions —
        # the count-by-change-type below, which both materializes it and
        # decides the bootstrap/skip branches, and the merge, which reads
        # a caller-cached source from that cache instead of materializing
        # its own copy (guide §5: cache exactly what is reused).
        net = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_by_type = {
                r["_change_type"]: r["n"]
                for r in net.groupBy("_change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if n_by_type.get("insert"):
                _ensure_table(
                    net.filter(F.col("_change_type") == "insert").drop(*meta),
                    table_path,
                )
            if not os.path.exists(table_path) or not (
                n_by_type.get("insert") or n_by_type.get("delete")
            ):
                return  # delete-only feed before the table exists, or empty
            t = TxLogTable(spark, table_path)
            merge_into_txlog(
                spark, t, net, keys,
                clauses={
                    "matched": [
                        {"cond": "s._change_type = 'delete'",
                         "action": "delete"},
                        {"cond": None, "action": "update", "set": None},
                    ],
                    "not_matched": [
                        {"cond": "s._change_type = 'insert'", "values": None},
                    ],
                },
                txn=(app_id, batch_id),
            )
        finally:
            net.unpersist()

    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
