"""``spark.read.format("txlog")`` / ``spark.readStream.format("txlog")``
— a PySpark 4 Python DataSource over the commit-log table, so ANY Spark
job can consume a txlog table through the engine's own source API
(register once, then plain ``.format("txlog").load(path)``). Public
analogs: Delta's Spark connector (batch + streaming source over a
transaction log) and the ``pyspark.sql.datasource`` API introduced in
Spark 4 (SPARK-44076 Python Data Source API).

Batch read: snapshot at the latest version or ``versionAsOf`` — one
InputPartition per live data file, so scan parallelism is file-level
exactly like the native reader, and each partition is read
Arrow-vectorized (pyarrow record batches handed straight to Spark — no
per-row Python). Files written before a schema evolution null-fill the
evolved columns; hive partition columns are reattached as constants
parsed from the directory name under the RECORDED partition types
(never inference — the string-"07"-to-int-7 trap).

Streaming read: the commit log IS the changelog, so offsets are commit
versions. ``initialOffset`` honors ``startingVersion`` (default 0 =
process the existing table then tail); ``latestOffset`` is the current
log head; ``partitions(start, end)`` plans one InputPartition per file
ADDED in ``(start, end]`` — the append-only contract of a streaming
table source (Delta's: readers see inserts; a commit that REMOVES
files — DML/OPTIMIZE — raises unless ``skipChangeCommits=true``, which
skips that commit entirely, exactly Delta's option). Exactly-once
follows from offset checkpointing + the log's immutability: a replayed
range plans the identical file set.

Change Data Feed: ``readChangeFeed=true`` on either API (Delta's
option) returns per-commit change rows tagged ``_change_type`` /
``_commit_version`` — batch over ``[startingVersion, endingVersion]``,
streaming as a tail where DML/OPTIMIZE commits are first-class change
rows instead of errors. The feed is RAW file granularity (rewrite
pairs included, like Delta CDF without CDC files); the net per-commit
feed is ``TxLogTable.read_changes``. Removed files must still exist —
the CDF horizon is the vacuum horizon, same as time travel.

The same source reads a FOREIGN Delta table (a directory whose log is
``_delta_log`` and no ``_txlog``) without adoption: the log fold plans
the same slice shapes from Delta's commits per the public PROTOCOL.md.

SELF-CONTAINMENT RULE: Spark runs this code in THREE kinds of python
process — the user's driver, task workers (batch and streaming reads),
and the streaming source's long-lived planner runner. Only the driver
is guaranteed to have this package importable; cloudpickle ships
classes BY REFERENCE unless their module is registered for by-value
pickling, and the streaming runner does not apply ``addPyFile`` paths.
So this module imports only modules that ``register()`` ships by value
— ``operators/logfold`` (the one commit-log fold, itself importing
nothing package-internal) and ``operators/roaring`` (Delta
deletion-vector decoding) — plus pyspark/pyarrow, which every Spark
python process has. ``register()`` registers those modules and this one
with Spark's bundled cloudpickle, making every process self-sufficient;
tests/test_logfold.py drives a vanilla session from outside the repo to
prove it.

Scale shape: offset planning is driver-side small-JSON (O(commits in
range)); data movement is O(files added in range) per micro-batch —
table size never enters a poll. At 100 TB a quiet table streams for
the cost of a directory listing per trigger.
"""

from __future__ import annotations

import json
import os
import sys
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..operators import logfold, roaring
from ..operators.logfold import (
    column_binding_at,
    commit_deltas_full,
    hive_partition_values,
    is_delta_log,
    latest_version,
    oldest_commit,
    partition_meta,
    schema_json_at,
    snapshot_at,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


def register(spark) -> None:
    """Register the ``txlog`` format on ``spark``. Ships this module and
    the two it imports from the package (``logfold``, ``roaring``) BY
    VALUE (cloudpickle), so streaming planner runners and task workers
    need no package install, and ships the package zip to batch workers
    through the session's one worker-package shipper."""
    from pyspark import cloudpickle

    from ..session import ensure_workers_can_import

    for mod in (logfold, roaring, sys.modules[__name__]):
        cloudpickle.register_pickle_by_value(mod)
    ensure_workers_can_import(spark)
    spark.dataSource.register(TxLogDataSource)


def _typed_pval(raw: str | None, dtype):
    """Typed python value of one hive partition-dir string. UNLIKE the
    pruning twin (operators/txlog._parse_partition_value, where an
    unparseable value means "conservatively keep the file"), here the
    value becomes ROW DATA — returning None for a value we cannot parse
    would silently emit wrong NULLs, so unsupported types and
    unparseable strings raise instead. True nulls
    (``__HIVE_DEFAULT_PARTITION__``) arrive as raw=None and stay None."""
    import datetime
    import decimal

    if raw is None:
        return None
    name = dtype.typeName()
    try:
        if name in ("byte", "short", "integer", "long"):
            return int(raw)
        if name in ("float", "double"):
            return float(raw)
        if name == "decimal":
            return decimal.Decimal(raw)
        if name == "date":
            return datetime.date.fromisoformat(raw)
        if name == "timestamp":
            return datetime.datetime.fromisoformat(raw)
        if name == "boolean":
            low = raw.lower()
            if low in ("true", "false"):
                return low == "true"
            raise ValueError(raw)
        if name == "string":
            return raw
    except (ValueError, decimal.InvalidOperation) as e:
        raise ValueError(
            f"txlog source: cannot parse partition value {raw!r} as "
            f"{name} — refusing to emit a wrong NULL"
        ) from e
    raise ValueError(
        f"txlog source: partition type {name!r} has no supported "
        "directory-name parse — refusing to emit a wrong NULL"
    )


# --------------------------------------------------------------- readers


class _FileSlice(InputPartition):
    """One data file + its pre-parsed hive partition values (name ->
    typed python value). ``change`` is None for snapshot reads, or
    ``(change_type, commit_version)`` for Change-Data-Feed slices —
    the reader then emits the two CDF metadata columns as constants.

    Deletion vectors: ``dv_skip`` is a ``(sidecar full path, file key)``
    pair — the sidecar rows whose ``file`` column equals the key (the
    file's RELATIVE path for ``pathkey == 'rel'`` descriptors, its
    basename for legacy sidecars) are dropped (snapshot reads and
    whole-file CDF slices honor the vector in force at their version);
    ``dv_take`` is a ``(first, second)`` pair of such pairs — the slice
    emits ONLY rows at indices present in ``first`` and absent from
    ``second`` (``second`` may be None): the row-exact delta of a DV
    change (grown = deletes, shrunk = restore re-inserts). The key is
    resolved at PLANNING time from the descriptor, so executors never
    parse paths.

    Pickled to executors — plain data only."""

    def __init__(
        self,
        full_path: str,
        pvals: dict,
        change: tuple | None = None,
        dv_skip: tuple | None = None,
        dv_take: tuple | None = None,
    ):
        self.full_path = full_path
        self.pvals = pvals
        self.change = change
        self.dv_skip = dv_skip
        self.dv_take = dv_take


def _opt(options: dict, name: str, default=None):
    """Spark delivers DataSource options with LOWERCASED keys (the JVM
    side is case-insensitive) — look up accordingly."""
    return options.get(name.lower(), options.get(name, default))


def _log_dir(options: dict) -> str:
    """The table's log directory: ``_txlog`` when present, else a FOREIGN
    ``_delta_log`` (round-10: medallion pipelines can stream straight
    from tables the engine doesn't own — no CONVERT/adoption needed)."""
    path = _opt(options, "path")
    if not path:
        raise ValueError("txlog source requires a path: .load('<table dir>')")
    tx = os.path.join(path, "_txlog")
    dl = os.path.join(path, "_delta_log")
    if not os.path.isdir(tx) and os.path.isdir(dl):
        return dl
    return tx


def _typed_pvals(raw: dict, pby: list[str], pschema, mapping: dict | None):
    """Typed partition values from one raw (string) map. Delta keys
    partitionValues by PHYSICAL name under columnMapping (the spec's
    rule); physical-first lookup serves both."""
    out = {}
    for fld in (pschema.fields if pschema is not None else []):
        if fld.name not in pby:
            continue
        phys = (mapping or {}).get(fld.name, fld.name)
        v = raw.get(phys, raw.get(fld.name))
        out[fld.name] = _typed_pval(v, fld.dataType)
    return out


def _plan_files(
    table_path: str,
    files: list[str],
    pby: list[str],
    pschema,
    dvs: dict | None = None,
    raw_pvals: dict | None = None,
    mapping: dict | None = None,
) -> list[_FileSlice]:
    """``raw_pvals`` (file -> raw string map) overrides hive-path
    parsing — Delta records partitionValues in the LOG and permits
    non-hive file paths."""
    slices = []
    for f in files:
        raw = raw_pvals[f] if raw_pvals is not None else hive_partition_values(f)
        pvals = _typed_pvals(raw, pby, pschema, mapping)
        desc = (dvs or {}).get(f)
        slices.append(
            _FileSlice(
                os.path.join(table_path, f),
                pvals,
                dv_skip=_dv_ref(table_path, f, desc),
            )
        )
    return slices


def _dv_ref(table_path: str, f: str, desc: dict | None) -> tuple | None:
    """(sidecar full path, file lookup key) for a txlog DV descriptor —
    the key is the file's relative path for ``pathkey == 'rel'``
    sidecars, its basename for legacy ones (pre-change DML guaranteed
    those globally unique). A foreign DELTA descriptor (it carries
    ``storageType``) becomes a tagged 3-tuple the executor decodes with
    operators/roaring."""
    if not desc:
        return None
    if "storageType" in desc:
        return ("__delta__", table_path, json.dumps(desc, sort_keys=True))
    key = f if desc.get("pathkey") == "rel" else os.path.basename(f)
    return (os.path.join(table_path, desc["sidecar"]), key)


def _cdf_on(options: dict) -> bool:
    return str(_opt(options, "readChangeFeed", "false")).lower() == "true"


def _plan_changes(
    table_path: str, log_dir: str, lo: int, hi: int, pby, pschema,
    mapping: dict | None = None,
) -> list[_FileSlice]:
    """Change-Data-Feed planning for commits ``[lo, hi]``: each commit's
    added files become insert slices, removed files delete slices — the
    RAW file-granularity feed (a copy-on-write rewrite's unchanged rows
    appear as matching delete+insert pairs, exactly Delta CDF without
    CDC files; consumers needing the net feed use
    TxLogTable.read_changes, which cancels them per commit). Deletion
    vectors are honored row-exactly: added files drop the vector they
    carry AT the commit, removed files the vector they carried BEFORE it
    (already-deleted rows never re-report), and a DV change on a file
    live across the commit plans index-delta slices — grown vector =
    deletes, shrunk (restore) = re-inserts."""

    slices: list[_FileSlice] = []
    for rec in commit_deltas_full(log_dir, lo, hi):
        v, op = rec["v"], rec["op"]
        rec_pvals = rec.get("pvals")  # Delta recs: partitionValues from the log

        def _pv(f: str) -> dict:
            raw = rec_pvals[f] if rec_pvals is not None else hive_partition_values(f)
            return _typed_pvals(raw, pby, pschema, mapping)

        if op == "optimize":
            continue  # data-unchanged rewrite: excluded from the feed
        if rec.get("cdc"):
            # the commit recorded its exact changes in change-data
            # sidecar(s) — O(changed rows) slices replace the touched
            # files' delete+insert rewrite noise; _change_type comes
            # from the sidecar itself (the "__cdc__" marker). txlog
            # commits carry one sidecar; Delta commits may carry one
            # AddCDCFile per partition.
            cdcs = rec["cdc"]
            if isinstance(cdcs, str):
                cdcs = [cdcs]
            for c in cdcs:
                if isinstance(c, dict):  # Delta AddCDCFile: pvals in the log
                    cp = c["path"]
                    cpv = _typed_pvals(
                        c.get("partitionValues") or {}, pby, pschema, mapping
                    )
                else:  # txlog sidecar: all columns live in the parquet
                    cp, cpv = c, {}
                slices.append(
                    _FileSlice(
                        os.path.join(table_path, cp),
                        cpv,
                        change=("__cdc__", v),
                    )
                )
            continue
        for f in rec["adds"]:
            slices.append(
                _FileSlice(
                    os.path.join(table_path, f),
                    _pv(f),
                    change=("insert", v),
                    dv_skip=_dv_ref(table_path, f, rec["dv_added"].get(f)),
                )
            )
        for f in rec["removes"]:
            slices.append(
                _FileSlice(
                    os.path.join(table_path, f),
                    _pv(f),
                    change=("delete", v),
                    dv_skip=_dv_ref(table_path, f, rec["dv_removed"].get(f)),
                )
            )
        for f, (old, new) in sorted(rec["dv_changed"].items()):
            full = os.path.join(table_path, f)
            oref = _dv_ref(table_path, f, old)
            nref = _dv_ref(table_path, f, new)
            if new is not None:
                # rows newly deleted at v: in new vector, not in old
                slices.append(
                    _FileSlice(
                        full, _pv(f), change=("delete", v),
                        dv_take=(nref, oref),
                    )
                )
            if old is not None:
                # rows resurrected at v (restore): in old, not in new
                slices.append(
                    _FileSlice(
                        full, _pv(f), change=("insert", v),
                        dv_take=(oref, nref),
                    )
                )
    return slices


def _dv_indices(ref: tuple):
    """Deleted row indices for one data file from one ``(sidecar path,
    file key)`` ref — a predicate-pushed read of the tiny
    (file, row_index) parquet, keyed exactly as the planner resolved
    the descriptor (relative path or legacy basename). A ``__delta__``
    ref decodes the RoaringBitmap descriptor instead (operators/roaring,
    shipped by value like this module)."""
    if ref[0] == "__delta__":
        import numpy as np

        return np.asarray(
            roaring.decode_descriptor(json.loads(ref[2]), ref[1]),
            dtype=np.int64,
        )
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        ref[0],
        filters=[("file", "==", ref[1])],
        columns=["row_index"],
    )
    return tbl["row_index"].to_numpy(zero_copy_only=False)


def _read_slice(
    slice_: _FileSlice,
    schema,
    mapping: dict | None = None,
    ids: dict | None = None,
) -> Iterator["pa.RecordBatch"]:
    """Arrow-vectorized read of one file, aligned to the declared table
    schema: missing columns (pre-evolution files) null-fill, partition
    columns materialize as constants from the parsed dir values, column
    mapping resolves each LOGICAL field to its PHYSICAL parquet column
    (rename/drop are metadata-only), ``ids`` (columnMapping mode=id)
    resolves data columns by PARQUET FIELD ID per file instead — the
    stored name may differ file to file, so ids win over names wherever
    given — and every column casts to the exact declared Arrow type so
    the batches Spark receives match the source schema bit-for-bit.
    Deletion vectors mask rows by in-file position with one vectorized
    ``np.isin`` per batch (``dv_skip`` drops the vector's rows;
    ``dv_take`` keeps ONLY an index delta)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    mapping = mapping or {}
    target = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    )
    skip = take = None
    if slice_.dv_take is not None:
        first, second = slice_.dv_take
        take = np.setdiff1d(
            _dv_indices(first),
            _dv_indices(second) if second else np.empty(0, "int64"),
        )
        if take.size == 0:
            return  # empty delta: never open the data file
    elif slice_.dv_skip is not None:
        skip = _dv_indices(slice_.dv_skip)
        if skip.size == 0:
            skip = None
    pf = pq.ParquetFile(slice_.full_path)
    fid_col: dict[int, str] = {}
    if ids:
        # field-id -> stored column name, from THIS file's arrow schema
        # (pyarrow surfaces parquet field ids as PARQUET:field_id field
        # metadata); an id absent from the file means the column
        # postdates the file — null-fill, exactly like a missing name
        for fld in pf.schema_arrow:
            raw = (fld.metadata or {}).get(b"PARQUET:field_id")
            if raw is not None:
                fid_col[int(raw)] = fld.name
    offset = 0
    for batch in pf.iter_batches():
        n = batch.num_rows
        if take is not None or skip is not None:
            idx = np.arange(offset, offset + n)
            offset += n
            mask = (
                np.isin(idx, take)
                if take is not None
                else ~np.isin(idx, skip)
            )
            if not mask.any():
                continue
            if not mask.all():
                batch = batch.filter(pa.array(mask))
            n = batch.num_rows
        arrays = []
        for f in schema.fields:
            at = to_arrow_type(f.dataType)
            if ids and f.name in ids:
                phys = fid_col.get(ids[f.name])  # None -> null-fill
            else:
                phys = mapping.get(f.name, f.name)
            if slice_.change is not None and f.name == "_change_type":
                if slice_.change[0] == "__cdc__":
                    # change-data slice: the sidecar stores the real
                    # per-row change type; never synthesize a constant.
                    # Sidecars tag updates update_pre/postimage (Delta
                    # CDF's export form) — the internal feed contract is
                    # insert/delete, so map back here (same rule as
                    # TxLogTable._read_cdc)
                    import pyarrow.compute as pc

                    col = batch.column(
                        batch.schema.get_field_index("_change_type")
                    )
                    col = pc.if_else(
                        pc.equal(col, "update_preimage"),
                        pa.scalar("delete", type=col.type),
                        pc.if_else(
                            pc.equal(col, "update_postimage"),
                            pa.scalar("insert", type=col.type),
                            col,
                        ),
                    )
                    arrays.append(
                        col if col.type == at else col.cast(at, safe=False)
                    )
                else:
                    arrays.append(pa.array([slice_.change[0]] * n, type=at))
            elif slice_.change is not None and f.name == "_commit_version":
                arrays.append(pa.array([slice_.change[1]] * n, type=at))
            elif f.name in slice_.pvals:
                arrays.append(pa.array([slice_.pvals[f.name]] * n, type=at))
            elif phys in batch.schema.names:
                col = batch.column(batch.schema.get_field_index(phys))
                arrays.append(
                    col if col.type == at else col.cast(at, safe=False)
                )
            else:
                arrays.append(pa.nulls(n, type=at))
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


class TxLogBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema):
        self.schema_ = schema
        self.path = _opt(options, "path")
        log_dir = _log_dir(options)
        as_of = _opt(options, "versionAsOf")
        pby, pschema = partition_meta(log_dir)
        if _cdf_on(options):
            # batch CDF (Delta: spark.read.option("readChangeFeed",
            # "true").option("startingVersion", N)): per-commit change
            # slices over [startingVersion, endingVersion]
            latest = latest_version(log_dir)
            lo = int(_opt(options, "startingVersion", 0))
            hi = int(_opt(options, "endingVersion", latest))
            if not 0 <= lo <= hi <= latest:
                raise ValueError(
                    f"invalid change range [{lo}, {hi}] for table at "
                    f"version {latest}"
                )
            self.mapping, self.ids = column_binding_at(log_dir, hi)
            self.slices = _plan_changes(
                self.path, log_dir, lo, hi, pby, pschema,
                mapping=self.mapping,
            )
        else:
            files, dvs, raw_pvals, self.mapping, self.ids = snapshot_at(
                log_dir, int(as_of) if as_of is not None else None
            )
            self.slices = _plan_files(
                self.path, files, pby, pschema, dvs=dvs,
                raw_pvals=raw_pvals, mapping=self.mapping,
            )

    def partitions(self):
        return self.slices

    def read(self, partition: _FileSlice):
        return _read_slice(partition, self.schema_, self.mapping, self.ids)


class TxLogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema):
        self.schema_ = schema
        self.path = _opt(options, "path")
        self.log_dir = _log_dir(options)
        self.starting = int(_opt(options, "startingVersion", 0))
        self.skip_change = (
            str(_opt(options, "skipChangeCommits", "false")).lower() == "true"
        )
        self.cdf = _cdf_on(options)
        mf = _opt(options, "maxFilesPerTrigger")
        mb = _opt(options, "maxBytesPerTrigger")
        self.max_files = int(mf) if mf is not None else None
        self.max_bytes = int(mb) if mb is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        # admission-control cursor: the highest version this reader has
        # already handed to the engine (offered via latestOffset, planned
        # via partitions, or committed). None until one of those runs.
        self._cursor: int | None = None
        # resolved once at query start, like the schema: a stream's
        # declared columns are fixed, so the logical->physical binding
        # is too (physical names never change after a file is written)
        self.mapping, self.ids = column_binding_at(self.log_dir)

    # offsets are commit versions: {"version": last PROCESSED version}
    def initialOffset(self) -> dict:
        start = self.starting
        if start == 0 and not is_delta_log(self.log_dir):
            # "process the existing table then tail": after cleanup_log
            # truncated the head, version 0 is gone — clamp to the oldest
            # retained commit, which cleanup's invariant guarantees is a
            # FULL-LIST checkpoint, so the first batch is exactly the
            # snapshot at that version (Delta's startingVersion clamps
            # the same way). An EXPLICIT startingVersion below the head
            # still fails loudly in the log fold — the caller asked for
            # versions that no longer exist. (Foreign Delta logs need no
            # clamp: logfold.delta_deltas_full bootstraps a synthetic
            # full-snapshot record from the parquet checkpoint when the
            # JSON head expired above the requested floor.)
            start = max(start, oldest_commit(self.log_dir)[0])
        self._cursor = start - 1
        return {"version": start - 1}

    def _counts_toward_cap(self, rec: dict) -> list[str]:
        """The files a commit would contribute to the NEXT microbatch
        (mirrors :meth:`partitions`, deletion vectors included): CDF
        mode reads adds + removes + one slice per DV-changed file;
        append-only mode skips optimize and skipped-change commits —
        and a commit with removes OR a DV change IS a change commit
        (a mode='dv' DML admits zero files when skipChangeCommits
        drops it, instead of charging the cap for files never
        planned)."""
        if self.cdf:
            return (
                list(rec["adds"])
                + list(rec["removes"])
                + sorted(rec["dv_changed"])
            )
        if (rec["removes"] or rec["dv_changed"]) and (
            rec["op"] == "optimize" or self.skip_change
        ):
            return []
        return list(rec["adds"])

    def latestOffset(self) -> dict:
        """Rate-limited offset advancement (Delta's ``maxFilesPerTrigger``
        / ``maxBytesPerTrigger``): advance at most as many commits as fit
        the caps, always >= 1 commit so the stream makes progress even
        when a single commit exceeds them. Offsets are commit versions,
        so admission granularity is a commit — same as Delta's.

        API caveat (documented, not fixable here): the Python DataSource
        API has no SupportsAdmissionControl — ``latestOffset()`` cannot
        see the checkpointed start offset. A fresh query seeds the cursor
        via ``initialOffset`` and a restart with a pending batch seeds it
        via ``partitions``, so every batch those plan is capped; a restart
        whose batches were all committed plans its FIRST batch uncapped
        (and ``trigger(availableNow=True)`` snapshots one latestOffset per
        run, so a drain-restart loop caps only each run's first batch)."""
        latest = latest_version(self.log_dir)
        if (
            (self.max_files is None and self.max_bytes is None)
            or self._cursor is None
            or latest <= self._cursor
        ):
            if self._cursor is None or latest > self._cursor:
                self._cursor = latest
            return {"version": latest}
        files = 0
        nbytes = 0
        end = self._cursor
        for rec in commit_deltas_full(self.log_dir, self._cursor + 1, latest):
            v = rec["v"]
            batch_files = self._counts_toward_cap(rec)
            n = len(batch_files)
            b = 0
            if self.max_bytes is not None:
                for f in batch_files:
                    try:
                        b += os.path.getsize(os.path.join(self.path, f))
                    except OSError:
                        pass  # vacuumed between list and stat: size 0
            over = (
                self.max_files is not None and files + n > self.max_files
            ) or (self.max_bytes is not None and nbytes + b > self.max_bytes)
            if over and end > self._cursor:
                break  # cap reached and >=1 commit already admitted
            files += n
            nbytes += b
            end = v
            if over:
                break  # single over-cap commit: admit it alone
        self._cursor = end
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        # seed the admission cursor on restart: a replayed pending batch
        # plans through here before any latestOffset call, and without
        # the seed the first latestOffset would advance to the log head
        # uncapped, ignoring maxFilesPerTrigger/maxBytesPerTrigger
        self._cursor = max(self._cursor if self._cursor is not None else -1, hi)
        if hi <= lo:
            return []
        pby, pschema = partition_meta(self.log_dir)
        if self.cdf:
            # streaming CDF: every commit in the range streams its file
            # delta as tagged change rows — DML/OPTIMIZE commits are
            # first-class, not errors
            return _plan_changes(
                self.path, self.log_dir, lo + 1, hi, pby, pschema,
                mapping=self.mapping,
            )
        files: list[str] = []
        dvs: dict = {}
        raw_pvals: dict = {}
        for rec in commit_deltas_full(self.log_dir, lo + 1, hi):
            v, adds, removes, op = rec["v"], rec["adds"], rec["removes"], rec["op"]
            if removes or rec["dv_changed"]:
                if op == "optimize":
                    # compaction is row-identical (Delta dataChange=false):
                    # skip silently — an auto-compacting upstream sink
                    # must not kill downstream tails
                    continue
                if self.skip_change:
                    continue  # Delta's skipChangeCommits: drop the commit
                raise ValueError(
                    f"txlog stream source: commit {v} removes files or "
                    "rows (DML/OPTIMIZE/deletion vectors) — streaming "
                    "reads are append-only; set skipChangeCommits=true "
                    "to skip change commits, or consume row-level "
                    "changes via TxLogTable.read_changes"
                )
            files.extend(adds)
            # a file added ALREADY carrying a deletion vector (the
            # clamped bootstrap snapshot after cleanup_log, or a restore
            # re-adding a DV'd file): its vectored rows were never part
            # of the snapshot — apply the vector at read, this is not a
            # change commit
            for f in adds:
                d = rec["dv_added"].get(f)
                if d is not None:
                    dvs[f] = d
                if rec.get("pvals") is not None:
                    raw_pvals[f] = rec["pvals"][f]
        return _plan_files(
            self.path, files, pby, pschema, dvs=dvs,
            raw_pvals=raw_pvals or None, mapping=self.mapping,
        )

    def read(self, partition: _FileSlice):
        return _read_slice(partition, self.schema_, self.mapping, self.ids)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; the log is immutable

    def stop(self) -> None:
        pass


class TxLogDataSource(DataSource):
    """Register with :func:`register` (preferred — handles worker
    shipping) or ``spark.dataSource.register(TxLogDataSource)``; then
    ``spark.read.format("txlog").load(path)`` (options: ``versionAsOf``)
    and ``spark.readStream.format("txlog").load(path)`` (options:
    ``startingVersion``, ``skipChangeCommits``)."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        from pyspark.sql.types import IntegerType, StringType, StructType

        if _cdf_on(self.options):
            as_of = _opt(self.options, "endingVersion")
        else:
            as_of = _opt(self.options, "versionAsOf")
        sj = schema_json_at(
            _log_dir(self.options),
            int(as_of) if as_of is not None else None,
        )
        if sj is None:
            raise ValueError(
                "txlog source requires a recorded schema (legacy log: "
                "run one write to record it first)"
            )
        schema = StructType.fromJson(json.loads(sj))
        if _cdf_on(self.options):
            schema = schema.add("_change_type", StringType()).add(
                "_commit_version", IntegerType()
            )
        return schema

    def reader(self, schema) -> TxLogBatchReader:
        return TxLogBatchReader(dict(self.options), schema)

    def streamReader(self, schema) -> TxLogStreamReader:
        return TxLogStreamReader(dict(self.options), schema)
