"""Minimal ACID commit log for parquet tables — the open-table-format
upgrade behind ``operators/merge``, built from the PUBLIC Delta Lake
design (Armbrust et al., "Delta Lake: High-Performance ACID Table Storage
over Cloud Object Stores", VLDB 2020): an ordered log of JSON commit
files, each listing data files added/removed; the table's state at
version v is the replay of commits 0..v.

What this gives over the staged-swap backend (and what it does not):

- **Atomic commits.** A merge is visible if and only if its commit file
  exists. Data files are written FIRST, the commit file last; a crash
  anywhere before the commit leaves orphan data files that no snapshot
  references (cleaned by :meth:`TxLogTable.vacuum`) and a table unchanged.
- **No unavailability window.** Readers resolve a snapshot from the log
  and read only files it lists; old files stay on disk until vacuumed, so
  a reader mid-query during a concurrent commit keeps a consistent view.
  (Contrast compact_parquet_dir's documented rename gap.)
- **Optimistic concurrency.** The commit file for version v+1 is created
  with create-exclusive semantics: exactly one of two racing writers
  wins; the loser sees :class:`CommitConflict` and re-runs against the
  new snapshot (merge is a deterministic function of target+source, so
  the retry is safe). This is last-committer-wins at whole-table
  granularity — coarser than Delta's per-file conflict analysis, stated
  plainly.
- **Scope.** The atomic publish is factored behind :class:`CommitArbiter`
  (the Delta paper's LogStore seam): :class:`PosixExclArbiter` (default)
  stages the complete payload then publishes with link(2) — create-if-
  absent atomic for existence AND content on local filesystems and HDFS;
  :class:`ConditionalPutArbiter` models the object-store primitive
  (S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=0``, Azure
  ``If-None-Match: *``) for S3-style stores, where conditional PUT is
  the arbiter and no external lock service is needed.

At 100 TB: the log holds file NAMES, not data — a commit is O(files
touched) JSON bytes; snapshot resolution is a driver-side read of the log
directory; every ``_CHECKPOINT_EVERY`` commits a checkpoint commit
carries the whole table state, and :meth:`TxLogTable._snapshot` folds
only from the newest one (:class:`logfold.Snapshot`).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import uuid
from urllib.parse import quote

from ..localframe import local_df
from .logfold import (
    Snapshot,
    _commit_entries,
    commit_deltas_full,
    empty_snapshot,
    hive_partition_values,
    latest_version,
    metadata_complete,
    oldest_commit,
    replay_log_full,  # re-exported: perfbench traces txlog.replay_log_full
    snapshot,
    walk,
)
from .merge import (
    change_feed,
    changed,
    merge_clauses,
    merge_clauses_with_cdc,
    prepare_clause_plan,
    simple_form_clauses,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _uri_safe(name: str) -> bool:
    """True when a file name reads the same in the percent-encoded URI a
    scan reports as ``_metadata.file_path``: unreserved characters only
    (every Spark-written name; an adopted layout may hold anything)."""
    return quote(name, safe=".-_") == name


def _scan_basename(uri, files: list[str]):
    """Basename of a scan's file-URI column, comparable with the raw
    basenames of ``files``. Decoded JVM-side only when one of them is not
    URI-safe; a literal '+' (left raw in the URI) is escaped first so URL
    decoding cannot turn it into a space."""
    b = F.element_at(F.split(uri, "/"), -1)
    if all(_uri_safe(f.rsplit("/", 1)[-1]) for f in files):
        return b
    return F.url_decode(F.regexp_replace(b, r"\+", "%2B"))


def _generated_of(schema_json: str | None) -> dict[str, str]:
    """Generated columns (name -> generation SQL expr) of a recorded
    schema: its ``delta.generationExpression`` field metadata."""
    if schema_json is None:
        return {}
    from pyspark.sql.types import StructType

    return {
        f.name: (f.metadata or {})["delta.generationExpression"]
        for f in StructType.fromJson(json.loads(schema_json)).fields
        if "delta.generationExpression" in (f.metadata or {})
    }


def _identity_of(schema_json: str | None) -> dict[str, dict]:
    """Identity columns (name -> {start, step, hw}) of a recorded schema:
    its ``delta.identity.*`` field metadata (``hw`` None before the first
    assignment)."""
    if schema_json is None:
        return {}
    from pyspark.sql.types import StructType

    out: dict[str, dict] = {}
    for f in StructType.fromJson(json.loads(schema_json)).fields:
        md = f.metadata or {}
        if "delta.identity.start" in md:
            out[f.name] = {
                "start": int(md["delta.identity.start"]),
                "step": int(md["delta.identity.step"]),
                "hw": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md
                    else None
                ),
            }
    return out


def _gen_recompute(gen: dict[str, str], assignments) -> dict[str, str]:
    """Generated columns an UPDATE must RECOMPUTE: those not assigned
    explicitly whose generation expression references an assigned
    column (word-boundary match — the same reference test the
    rename/drop guards use)."""
    assigned = set(assignments)
    return {
        g: e
        for g, e in gen.items()
        if g not in assigned
        and any(re.search(rf"\b{re.escape(c)}\b", e) for c in assigned)
    }


def _row_tracking_on(snap: Snapshot) -> bool:
    return snap.properties.get("delta.enableRowTracking") == "true"


def _generated_checks(gen: dict[str, str]) -> dict[str, str]:
    """Implicit write-time constraints for generated columns: the value a
    writer supplies must null-safe-equal the generation expression —
    exactly Delta's rule for explicit writes to GENERATED ALWAYS AS
    columns. Named ``__generated_<col>`` so a violation message points at
    the column."""
    return {f"__generated_{c}": f"`{c}` <=> ({e})" for c, e in gen.items()}


def _annotate_identity(schema_json: str, ident: dict[str, tuple[int, int]]) -> str:
    """Embed Delta's identity-column field metadata (``delta.identity.
    start`` / ``.step`` / ``.allowExplicitInsert``) into a schema JSON —
    GENERATED ALWAYS AS IDENTITY, so explicit inserts are disallowed."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(schema_json))
    missing = sorted(set(ident) - set(schema.fieldNames()))
    if missing:
        raise ValueError(f"identity column(s) {missing} absent from schema")
    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if f.name in ident:
            start, step = ident[f.name]
            md["delta.identity.start"] = int(start)
            md["delta.identity.step"] = int(step)
            md["delta.identity.allowExplicitInsert"] = False
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields).json()


def _identity_hw_update(schema_json: str, hws: dict[str, int]) -> str:
    """Record new identity high watermarks in a schema JSON (the
    ``delta.identity.highWaterMark`` field metadata Delta uses)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(schema_json))
    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if f.name in hws:
            md["delta.identity.highWaterMark"] = int(hws[f.name])
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields).json()


def _annotate_generated(schema_json: str, gen: dict[str, str]) -> str:
    """Embed ``delta.generationExpression`` field metadata (Delta's own
    representation of generated columns) into a schema JSON."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(schema_json))
    missing = sorted(set(gen) - set(schema.fieldNames()))
    if missing:
        raise ValueError(f"generated column(s) {missing} absent from schema")
    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if f.name in gen:
            md["delta.generationExpression"] = gen[f.name]
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields).json()


class CheckViolation(Exception):
    """A CHECK constraint rejected a write (or existing rows rejected a
    new constraint). The offending data files are removed before raising,
    so a failed write leaves the table exactly as it was."""


class CommitConflict(Exception):
    """Another writer committed the version this writer raced for."""


class CommitArbiter:
    """The ONE primitive the whole commit protocol rides on: atomically
    publish ``payload`` at ``target`` iff nothing exists there, returning
    whether THIS caller won. Everything else in the log design (optimistic
    retries, snapshot isolation, checkpointing) is built on top, so
    porting the table format to a new storage system means implementing
    exactly this seam — the Delta paper's LogStore abstraction
    (Armbrust et al., VLDB 2020 §3.2).

    ``fault_hook`` is a documented TEST SEAM (the same shape Delta's own
    LogStore fault-injection suites use): when set, implementations call
    it at their internal transition points — ``("staged"|"reserved",
    target)`` after the payload is durable-but-unpublished, and
    ``("published", target)`` after the commit is visible but before the
    caller is acked. A hook that raises simulates a writer crashing in
    that window; a hook that sleeps simulates a slow PUT. Production
    code never sets it."""

    fault_hook = None

    def _fault(self, stage: str, target: str) -> None:
        hook = self.fault_hook
        if hook is not None:
            hook(stage, target)

    def put_if_absent(self, target: str, payload: str) -> bool:
        raise NotImplementedError


class PosixExclArbiter(CommitArbiter):
    """Create-exclusive publish for POSIX/HDFS-like stores. The payload
    is STAGED COMPLETE in a hidden sibling temp file first and published
    with ``os.link(tmp, target)`` — link(2) fails EEXIST when the target
    exists, so the publish is atomic for BOTH existence and content. The
    previous O_EXCL-create-then-write form had a crash window between
    creating the name and writing the body: a writer dying there left a
    truncated commit json that every replayer would choke on. A crashed
    writer now leaves either nothing or (real process death only) an
    orphan ``.staging-*`` temp that no replay ever reads (replays list
    ``*.json``). The default backend."""

    def put_if_absent(self, target: str, payload: str) -> bool:
        d = os.path.dirname(target) or "."
        tmp = os.path.join(d, f".staging-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as fh:
                fh.write(payload)
            self._fault("staged", target)
            try:
                os.link(tmp, target)
            except FileExistsError:
                return False
            self._fault("published", target)
            return True
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass


class ConditionalPutArbiter(CommitArbiter):
    """Simulated object-store CONDITIONAL PUT: S3 ``If-None-Match: *``
    (GA since 2024 — no external lock table needed anymore), GCS
    ``ifGenerationMatch=0``, Azure Blob ``If-None-Match: *``. The store's
    metadata service serializes key creation and the winning PUT appears
    with its COMPLETE body; here a process-wide mutex + in-flight set
    stand in for the service and a temp-write + rename materializes the
    body, so readers never observe a partial object — the same
    read-after-write envelope a strongly-consistent object store gives.
    A key deleted later (tag removal) may be re-created, exactly as a
    real conditional PUT checks CURRENT existence, not history.

    The simulation arbitrates within one process (the in-flight set is
    class-level, shared across all handles/threads); cross-process
    correctness on a real object store comes from the service itself.
    """

    import threading as _threading

    _lock = _threading.Lock()
    _in_flight: set[str] = set()

    def put_if_absent(self, target: str, payload: str) -> bool:
        key = os.path.abspath(target)
        with self._lock:
            if key in self._in_flight or os.path.exists(key):
                return False
            self._in_flight.add(key)
        tmp = f"{key}.put-{uuid.uuid4().hex}"
        try:
            self._fault("reserved", key)
            with open(tmp, "w") as fh:
                fh.write(payload)
            os.replace(tmp, key)
            self._fault("published", key)
            return True
        finally:
            # a crashed (raising) PUT releases its reservation and sweeps
            # its temp body — the store analogue: a timed-out PUT never
            # materializes and the key becomes creatable again. Callers
            # told False while the PUT was in flight simply retry their
            # CommitConflict loop and win the now-free key.
            with self._lock:
                self._in_flight.discard(key)
            try:
                os.remove(tmp)
            except OSError:
                pass


def _footer_schema(path: str):
    """Spark StructType of one parquet file's footer — a metadata-only
    pyarrow read, no Spark job, no row groups touched.

    Spark-written files embed the EXACT original Spark schema in the
    footer key-value metadata (``org.apache.spark.sql.parquet.row.
    metadata``) — preferred, because it distinguishes TIMESTAMP (LTZ)
    from TIMESTAMP_NTZ, which the arrow-level schema cannot for INT96
    (Spark's default physical timestamp encoding carries no tz flag
    arrow can see). For foreign files without the embedded schema, fall
    back to the arrow schema with INT96 columns corrected to LTZ —
    treating INT96 as NTZ would shift every value by the session tz
    offset AND declare a schemaString needing the timestampNtz reader
    feature (minReaderVersion 3) in a log pinned to 1."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType, TimestampType

    pf = pq.ParquetFile(path)
    meta = pf.schema_arrow.metadata or {}
    embedded = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if embedded:
        try:
            return StructType.fromJson(json.loads(embedded.decode("utf-8")))
        except (ValueError, KeyError, TypeError):
            pass  # malformed embedding: fall through to arrow
    schema = from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True)
    int96 = {
        pf.schema.column(i).name
        for i in range(len(pf.schema.names))
        if pf.schema.column(i).physical_type == "INT96"
    }
    if int96:
        from pyspark.sql.types import StructField

        schema = StructType(
            [
                StructField(f.name, TimestampType(), f.nullable)
                if f.name in int96
                else f
                for f in schema.fields
            ]
        )
    return schema


_LOG_DIR = "_txlog"
_CHECKPOINT_EVERY = 20

# per-file statistics (numRecords / minValues / maxValues / nullCount) are
# recorded for at most this many leading top-level columns — Delta's
# dataSkippingNumIndexedCols default. Envelopes on a 1000-column table
# would bloat every commit for columns nobody ranges on; the cap keeps a
# commit's stats payload O(files x 32) at any schema width.
_STATS_MAX_COLS = 32

# string min/max longer than this are PREFIX-truncated in recorded stats
# (min truncates plainly — a prefix is <= the true min; max truncates and
# appends U+10FFFF so the bound stays >= every string sharing the prefix).
# Unbounded string stats would persist megabyte document bodies into the
# log; 64 chars keeps range pruning effective for keys and codes.
_STATS_STR_MAX = 64


def _stat_value(v):
    """A parquet footer min/max as a JSON-safe stats value, or None when
    the type has no defined serialization. Dates/timestamps serialize as
    ISO strings (timestamps UTC-normalized, offset dropped) and decimals
    as plain strings — :func:`_coerce_stat` re-types them against the
    recorded schema at prune time, so comparisons never mix kinds."""
    import datetime
    import decimal

    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None


def footer_stats_dict(
    full_path: str, max_cols: int = _STATS_MAX_COLS
) -> dict | None:
    """Per-file statistics from the parquet footer, the shape Delta's
    ``add.stats`` records (PROTOCOL.md "Per-file Statistics"):
    ``{"numRecords", "minValues", "maxValues", "nullCount"}``. Metadata-
    only — no row groups are read. A column's envelope is published ONLY
    if every row group contributed (a partial envelope would be NARROWER
    than the file's true range and make a reader data-skip a file that
    holds matching rows — silent wrong results); all-null row groups
    count as covered for min/max. Nested columns and the tail beyond
    ``max_cols`` top-level columns are omitted (partial stats are legal;
    missing columns are conservatively kept by every consumer)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(full_path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    mm_cover: dict[str, int] = {}
    null_cover: dict[str, int] = {}
    col_order: list[str] = []
    n_rg = md.num_row_groups
    for rg in range(n_rg):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested columns: flat-schema envelope only
                continue
            if rg == 0:
                col_order.append(name)
            if name not in col_order[:max_cols]:
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
                null_cover[name] = null_cover.get(name, 0) + 1
            if not st.has_min_max:
                # an ALL-NULL row group has no min/max and contributes
                # nothing to the non-null envelope — still covered
                if (
                    st.null_count is not None
                    and st.null_count == row_group.num_rows
                ):
                    mm_cover[name] = mm_cover.get(name, 0) + 1
                continue
            try:
                lo, hi = _stat_value(st.min), _stat_value(st.max)
            except NotImplementedError:
                # pyarrow cannot decode min/max for some physical types
                # (e.g. fixed-len-byte-array DECIMAL) — stats are an
                # OPTIONAL skipping aid, so record none for the column
                # rather than failing the commit
                continue
            if lo is None or hi is None:
                continue
            if isinstance(lo, str) and len(lo) > _STATS_STR_MAX:
                lo = lo[:_STATS_STR_MAX]
            if isinstance(hi, str) and len(hi) > _STATS_STR_MAX:
                hi = hi[:_STATS_STR_MAX] + chr(0x10FFFF)
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            mm_cover[name] = mm_cover.get(name, 0) + 1
    out = {
        "numRecords": md.num_rows,
        "minValues": {c: v for c, v in mins.items() if mm_cover.get(c) == n_rg},
        "maxValues": {c: v for c, v in maxs.items() if mm_cover.get(c) == n_rg},
        "nullCount": {
            c: v for c, v in nulls.items() if null_cover.get(c) == n_rg
        },
    }
    return out


def _stats_entry(stats: dict, f: str) -> dict:
    """``f``'s entry in a per-file stats map; ``{}`` when it is missing
    or not a dict (a malformed foreign entry says nothing)."""
    e = stats.get(f)
    return e if isinstance(e, dict) else {}


def _file_rows(root: str, f: str, *stats: dict) -> int:
    """Data file ``f``'s row count: the first recorded ``numRecords``
    among the ``stats`` maps, else its parquet footer's ``num_rows`` (one
    metadata-only open, for files committed before stats recording)."""
    for m in stats:
        n = _stats_entry(m, f).get("numRecords")
        if n is not None:
            return int(n)
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(root, f)).metadata.num_rows


def _coerce_stat(v, dtype):
    """A recorded stats value re-typed against the table schema for a
    driver-side range comparison: numerics/bools/strings pass through;
    ISO/decimal strings parse via the partition-value rules. None =
    unusable (the consumer conservatively keeps the file). With no
    known type only numbers are comparable (a string may be a decimal,
    whose text order is not its value order)."""
    if v is None:
        return None
    if dtype is None:
        return v if isinstance(v, (int, float)) else None
    name = dtype.typeName()
    if name in ("byte", "short", "integer", "long", "float", "double"):
        return v if isinstance(v, (int, float)) else None
    if name == "boolean":
        return v if isinstance(v, bool) else None
    if name == "string":
        return v if isinstance(v, str) else None
    if isinstance(v, str):
        import datetime

        parsed = _parse_partition_value(v, dtype)
        if isinstance(parsed, datetime.datetime) and parsed.tzinfo is not None:
            # foreign stats (adopted Delta tables) may carry offsets —
            # normalize so comparisons never mix aware and naive
            parsed = parsed.astimezone(datetime.timezone.utc).replace(
                tzinfo=None
            )
        return parsed
    return None


def overlapping_files(
    files, key: str, dtype, lo, hi, entry, partition: bool = False
) -> tuple[list[str], list[str]]:
    """Data skipping's one rule (Delta paper §4.4), shared by the txlog
    and Delta skippers: ``(kept, unknown)`` — the ``files`` that may hold
    rows with the column in ``[lo, hi]``, and those whose entry says
    nothing usable about it (keep them, or ask their footers). Every
    other file provably holds no such row.

    ``entry(f)`` is the file's partition-values map when the column is a
    partition column (``partition=True``), else its stats entry; ``key``
    names the column in it (the physical name under column mapping).
    ``dtype`` is the column's type, None when unknown. String bounds
    against a non-string column parse as that type (``'2024-03-01'``
    against a DATE compares as a date); a bound that does not parse
    raises ValueError. Values compare in the NaN-safe negated form
    ``not (min > hi or max < lo)``, and a TypeError between kinds keeps
    the file, so an unordered comparison never skips.

    - partition: a missing value keeps, a null one skips (a null never
      satisfies the range), an unparseable one keeps;
    - stats: an all-null column (``nullCount == numRecords``) skips; a
      missing, malformed or non-dict entry, or a missing or mistyped
      bound, is unknown."""
    from pyspark.sql.types import StringType

    def bound(b):
        if not isinstance(b, str) or dtype is None or isinstance(dtype, StringType):
            return b
        v = _parse_partition_value(b, dtype)
        if v is None:
            raise ValueError(f"prune bounds for {key!r} do not parse as {dtype}")
        return v

    lo, hi = bound(lo), bound(hi)

    def overlaps(mn, mx) -> bool:
        try:
            return not (mn > hi or mx < lo)
        except TypeError:
            return True

    kept: list[str] = []
    unknown: list[str] = []
    for f in files:
        e = entry(f)
        if not isinstance(e, dict):
            unknown.append(f)
        elif partition:
            if key not in e:
                kept.append(f)
            elif e[key] is not None:
                v = e[key] if dtype is None else _parse_partition_value(e[key], dtype)
                if v is None or overlaps(v, v):
                    kept.append(f)
        else:
            nulls, mins, maxs = (
                e.get(k) if isinstance(e.get(k), dict) else {}
                for k in ("nullCount", "minValues", "maxValues")
            )
            n = e.get("numRecords")
            if n is not None and nulls.get(key) == n:
                continue
            mn = _coerce_stat(mins.get(key), dtype)
            mx = _coerce_stat(maxs.get(key), dtype)
            if mn is None or mx is None:
                unknown.append(f)
            elif overlaps(mn, mx):
                kept.append(f)
    return kept, unknown


# commits that create a table: checkpoint-flagged, and they carry their
# whole state themselves (nothing precedes them)
_COMMIT0_OPS = ("create", "convert", "convert_delta")

# checkpoint commits inline their full live-file list as JSON below this
# many files; at/above it the list (and DV state) goes to a PARQUET
# sidecar under _txlog/ckpt/ — Delta stores checkpoints as parquet for
# exactly this reason: at ~10M live files a JSON parse is seconds where
# a vectorized parquet read is not. Instance-overridable
# (TxLogTable.ckpt_sidecar_min_files) so tests exercise the sidecar
# path on small tables.
_CKPT_SIDECAR_MIN_FILES = 50_000


def _commit_name(version: int) -> str:
    return f"{version:012d}.json"


def version_from_commit_times(
    raw: list[tuple[int, int]], timestamp_ms: int, where: str
) -> int:
    """The ONE monotonize-and-select core behind TIMESTAMP AS OF —
    shared by :meth:`TxLogTable.version_at_timestamp` and
    ``deltalog._version_at_timestamp`` so Delta's resolution rule cannot
    drift between the two logs: timestamps adjust to be monotonically
    increasing in version order (ts_v := max(raw_v, ts_{v-1} + 1 ms)),
    the newest version with ts <= wanted wins, and BOTH out-of-range
    sides raise loudly (Delta errors on a timestamp after the latest
    commit too — silently returning the head would tell a user probing
    the history window a wrong answer)."""
    best: int | None = None
    prev_ts: int | None = None
    latest_ts: int | None = None
    for v, ts in sorted(raw):
        if prev_ts is not None and ts <= prev_ts:
            ts = prev_ts + 1
        prev_ts = ts
        latest_ts = ts
        if ts <= int(timestamp_ms):
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no commit in {where} at or before timestamp "
            f"{timestamp_ms} ms"
        )
    if latest_ts is not None and int(timestamp_ms) > latest_ts:
        raise FileNotFoundError(
            f"timestamp {timestamp_ms} ms is after the latest commit of "
            f"{where} ({latest_ts} ms) — use VERSION AS OF (or no "
            "clause) for the current snapshot"
        )
    return best


# Row tracking (Delta's rowTracking writer feature): the PHYSICAL column
# rewrite paths materialize stable row ids into. Never part of the
# logical schema — explicit-schema reads ignore it; the row-id read path
# coalesces it over the metadata-derived (baseRowId + row index) form.
_ROW_ID_PHYS = "_rt_row_id"


def _physical_struct(schema, mapping: dict | None):
    """``schema`` with every field renamed logical -> physical (identity
    when unmapped) — the schema the parquet FILES actually carry."""
    from pyspark.sql.types import StructField, StructType

    if not mapping:
        return schema
    return StructType(
        [
            StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )


class TxLogTable:
    """A parquet table whose live file set is governed by a commit log."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        arbiter: CommitArbiter | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        # the newest snapshot this handle folded, with the (inode, mtime)
        # of its commit file — see _snapshot
        self._snap: tuple[Snapshot, tuple] | None = None
        # the put-if-absent backend every commit/tag publish goes through
        # (per-HANDLE: pass the same arbiter to every writer of a table;
        # mixing backends on one table forfeits the atomicity guarantee,
        # exactly as mixing LogStores does in Delta)
        self.arbiter = arbiter or PosixExclArbiter()
        # checkpoint live-list sidecar threshold — see _CKPT_SIDECAR_MIN_FILES
        self.ckpt_sidecar_min_files = _CKPT_SIDECAR_MIN_FILES

    # ------------------------------------------------------------- create

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        arbiter: CommitArbiter | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, tuple[int, int]] | None = None,
        column_order: list[str] | None = None,
    ) -> "TxLogTable":
        """Create a new table at ``path`` from ``df`` (version 0).

        ``partition_by`` makes this a PARTITIONED table (the reference's own
        fact-table shape — ``design.sql:413`` partitions ``fact_listing``
        monthly by snapshot date): data files live under hive-style
        ``col=value/`` directories, the log records relative paths, and
        :meth:`read_where` on a partition column prunes by DIRECTORY NAME —
        zero footer reads, zero data reads for untouched partitions, which
        is the 100 TB point of partitioning. Partition column NAMES and
        exact TYPES are recorded in commit 0 (and the FULL table schema in
        every commit); readers reattach the columns via one ``basePath``
        scan under the recorded schema, so partition-type inference never
        runs (it would corrupt e.g. a string column holding ``"07"`` into
        the integer 7).

        ``generated`` declares GENERATED COLUMNS (``{name: sql_expr}``,
        Delta's ``GENERATED ALWAYS AS`` — like Delta, declarable only at
        create): a column absent from ``df`` (and from later appends) is
        COMPUTED from its expression; when a writer supplies it
        explicitly, every write validates ``col <=> (expr)`` at the
        same chokepoint CHECK constraints use and refuses the commit on
        mismatch. The expressions ride in the recorded schema as
        ``delta.generationExpression`` field metadata — Delta's own
        representation — so they survive schema evolution, restore,
        checkpoints, export (external writers see the writer-v4
        feature), and CONVERT FROM DELTA adoption. The classic use is a
        generated PARTITION column (e.g. a date bucket of a timestamp):
        producers append raw rows, the bucket computes on write, and
        partition pruning works untouched."""
        t = cls(spark, path, arbiter=arbiter)
        pby = list(partition_by or [])
        ident = {
            c: (int(v[0]), int(v[1])) for c, v in (identity or {}).items()
        }
        for c, (_s, step) in ident.items():
            if step == 0:
                raise ValueError(f"identity column {c!r}: step must be != 0")
            if c in df.columns:
                raise ValueError(
                    f"identity column {c!r} is GENERATED ALWAYS: it cannot "
                    "be supplied at create — the engine assigns it"
                )
            if c in (generated or {}):
                raise ValueError(f"{c!r} cannot be both generated and identity")
            df = df.withColumn(c, F.lit(None).cast("long"))
        if ident:
            df = t._assign_identity(
                df, {c: {"start": s, "step": st, "hw": None} for c, (s, st) in ident.items()}
            )
        gen = dict(generated or {})
        gen_checks: dict[str, str] = {}
        if gen:
            bad = [
                c
                for c in gen
                if any(
                    re.search(rf"\b{re.escape(c)}\b", e)
                    for o, e in gen.items()
                    if o != c
                )
            ]
            if bad:
                raise ValueError(
                    f"generated column(s) {sorted(bad)} are referenced by "
                    "other generation expressions — generated columns may "
                    "only derive from non-generated columns"
                )
            for c, e in gen.items():
                if c not in df.columns:
                    df = df.withColumn(c, F.expr(e))
            gen_checks = _generated_checks(gen)
        if column_order is not None:
            # identity (and absent generated) columns are materialized via
            # withColumn, which APPENDS — a SQL front-end declaring
            # `(row_id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT)`
            # must still get schema (row_id, k), as Delta does: SELECT *
            # consumers and positional tooling see the declared order
            if set(column_order) != set(df.columns) or len(column_order) != len(
                df.columns
            ):
                raise ValueError(
                    f"column_order {column_order} does not cover the table "
                    f"columns {df.columns} exactly"
                )
            df = df.select(*column_order)
        missing = [c for c in pby if c not in df.columns]
        if missing:
            raise ValueError(f"partition_by columns absent from df: {missing}")
        os.makedirs(t.log_dir, exist_ok=False)
        files = t._write_data(
            df,
            empty_snapshot(pby, df.select(*pby).schema if pby else None),
            _checks=gen_checks or None,
        )
        schema_json = df.schema.json()
        stats0: dict[str, dict] = {}
        if gen:
            schema_json = _annotate_generated(schema_json, gen)
        if ident:
            schema_json = _annotate_identity(schema_json, ident)
            meta0 = {
                c: {"start": s, "step": st, "hw": None}
                for c, (s, st) in ident.items()
            }
            if files:
                hws, stats0 = t._identity_new_hw(files, meta0)
                schema_json = _identity_hw_update(schema_json, hws)
        t._try_commit(
            0,
            adds=files,
            removes=[],
            op="create",
            extra={
                "partition_by": pby,
                "partition_schema": df.select(*pby).schema.json() if pby else None,
                "schema": schema_json,
                # empty-snapshot floor: the properties/checks reverse
                # folds stop HERE instead of scanning the whole young
                # log on every commit (pre-first-checkpoint tables pay
                # those folds per commit — appendOnly/dv-routing/row-
                # tracking gates)
                "properties_reset": {},
                **({"stats": stats0} if stats0 else {}),
            },
        )
        return t

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
    ) -> "TxLogTable":
        """Adopt an existing plain-parquet directory: version 0 references
        the current files in place (no rewrite, like Delta's CONVERT).
        For a hive-partitioned directory pass ``partition_by`` — the
        partition column TYPES are taken from one partition-discovery read
        of the existing layout (Spark's inference), recorded in commit 0,
        and exact from then on; files are adopted recursively."""
        t = cls(spark, path)
        pby = list(partition_by or [])
        if pby:
            probe = spark.read.parquet(t.path)
            missing = [c for c in pby if c not in probe.columns]
            if missing:
                raise ValueError(
                    f"partition_by columns not discovered in {t.path}: {missing}"
                )
            pschema = probe.select(*pby).schema
        os.makedirs(t.log_dir, exist_ok=False)
        files = []
        # NOT sorted(os.walk(...)): sorted() would materialize the whole
        # walk before the dirs[:] pruning runs, silently descending into
        # _delta_log/_staging/hidden dirs and adopting e.g. checkpoint
        # parquets as data files; determinism comes from sorting `files`
        for root, dirs, fs in os.walk(t.path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel_dir = os.path.relpath(root, t.path)
            if not pby and rel_dir != ".":
                continue  # unpartitioned adoption stays top-level only
            for f in fs:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    rel = f if rel_dir == "." else os.path.join(rel_dir, f)
                    files.append(rel.replace(os.sep, "/"))
        files.sort()
        if pby:
            schema_json = probe.schema.json()
        elif files:
            schema_json = _footer_schema(os.path.join(t.path, files[0])).json()
        else:
            schema_json = None
        t._try_commit(
            0,
            adds=files,
            removes=[],
            op="convert",
            extra={
                "partition_by": pby,
                "partition_schema": pschema.json() if pby else None,
                "schema": schema_json,
            },
        )
        return t

    @classmethod
    def convert_from_iceberg(
        cls, spark: SparkSession, path: str
    ) -> "TxLogTable":
        """``CONVERT FROM ICEBERG``: adopt a foreign Apache Iceberg v2
        table in place — see
        :func:`operators.iceberg.convert_from_iceberg` (this is the
        API-symmetry alias next to :meth:`convert_from_delta`)."""
        from .iceberg import convert_from_iceberg

        return convert_from_iceberg(spark, path)

    @classmethod
    def convert_from_delta(cls, spark: SparkSession, path: str) -> "TxLogTable":
        """``CONVERT FROM DELTA``: adopt a foreign Delta table IN PLACE —
        replay its ``_delta_log`` (the independent reader's replay core,
        so checkpoint bootstrap / tombstones / protocol guards all
        apply), then write txlog commit 0 referencing the SAME data
        files: zero bytes moved at any table size, and the two logs
        coexist in the directory. Completes the bidirectional interop
        story (txlog -> Delta was ``to_delta_log``). Carried over:
        exact schema (Delta's schemaString IS the Spark StructType
        JSON), partition spec, CHECK constraints
        (``delta.constraints.*`` -> a commit-0 ``checks_reset``),
        DELETION VECTORS (add.deletionVector RoaringBitmap blobs decoded
        and re-encoded as a commit-0 txlog sidecar — merge-on-read
        deletes survive adoption row-exactly), and
        streaming transaction markers (one no-op ``txn`` commit per
        appId, so an exactly-once sink migrated from the Delta table
        resumes at the right batch — :meth:`last_txn_version` finds
        them).

        Column-mapped tables (``delta.columnMapping.mode=name``) are
        adopted faithfully: each field's ``physicalName`` metadata
        becomes the txlog ``column_mapping`` payload on commit 0, so
        reads alias physical parquet columns back to logical names and
        later re-adds mint fresh physical names exactly as on a
        natively-renamed table. Refused loudly: mode=id tables
        (parquet-field-id resolution not implemented) and partitioned
        tables whose file paths are not hive-style (this reader
        reattaches partition values from ``col=value`` dirs; a foreign
        writer that relies on ``partitionValues`` alone cannot be
        adopted losslessly). After conversion the txlog is
        authoritative — :meth:`to_delta_log` refuses (its version
        numbering would misalign with the pre-existing foreign log)."""
        from .deltalog import _logical_schema
        from .logfold import (
            _physical_names,
            _replay_delta_log,
            _require_supported_mapping,
        )

        t = cls(spark, path)
        if os.path.exists(t.log_dir):
            raise FileExistsError(f"{t.log_dir} already exists")
        st = _replay_delta_log(os.path.join(path, "_delta_log"))
        meta = st.metadata or {}
        cfg = meta.get("configuration") or {}
        mode = _require_supported_mapping(meta)
        if mode == "id":
            raise NotImplementedError(
                "convert_from_delta refused: columnMapping mode=id "
                "resolves columns by parquet FIELD ID per file, which the "
                "txlog reader's name-keyed mapping cannot represent — "
                "read the table without adoption (read_delta_snapshot / "
                "the txlog DataSource stream both honor mode=id)"
            )
        schema = _logical_schema(meta)
        mapping = _physical_names(meta) if mode == "name" else None
        pby = list(meta.get("partitionColumns") or [])
        if mapping is not None:
            bad_p = [c for c in pby if mapping.get(c, c) != c]
            if bad_p:
                raise NotImplementedError(
                    "convert_from_delta refused: partition column(s) "
                    f"{bad_p} are column-mapped to different physical "
                    "names — hive directory names embed the physical "
                    "name, which this adoption path cannot re-alias"
                )
        files = sorted(st.live)
        gone = [f for f in files if not os.path.exists(os.path.join(path, f))]
        if gone:
            raise FileNotFoundError(
                f"cannot convert: {len(gone)} live Delta files missing on "
                f"disk (first: {gone[0]})"
            )
        # deletionVectors adoption: live adds carrying a descriptor have
        # their RoaringBitmap blobs decoded (all storage types) and
        # re-encoded as ONE txlog sidecar parquet keyed by RELATIVE
        # path, registered as commit-0 ``dvs`` state — merge-on-read
        # semantics carry over exactly, including nested layouts with
        # colliding basenames (read-side scans split per collision
        # group).
        dv_adds = {
            f: a["deletionVector"]
            for f, a in st.live.items()
            if a.get("deletionVector")
        }
        dvs0: dict[str, dict] | None = None
        if dv_adds:
            from .roaring import decode_descriptor

            import pyarrow as pa
            import pyarrow.parquet as pq

            fcol: list[str] = []
            rcol: list[int] = []
            dvs0 = {}
            for f in sorted(dv_adds):
                idx = decode_descriptor(dv_adds[f], path)
                fcol.extend([f] * len(idx))
                rcol.extend(idx)
                dvs0[f] = {"cardinality": len(idx), "pathkey": "rel"}
            os.makedirs(os.path.join(path, "_dv"), exist_ok=True)
            sidecar = f"_dv/dv-{uuid.uuid4().hex}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "file": pa.array(fcol, type=pa.string()),
                        "row_index": pa.array(rcol, type=pa.int64()),
                    }
                ),
                os.path.join(path, sidecar),
            )
            for f in dvs0:
                dvs0[f]["sidecar"] = sidecar
        if pby:
            bad = [
                f
                for f in files
                if any(c not in hive_partition_values(f) for c in pby)
            ]
            if bad:
                raise ValueError(
                    "convert_from_delta refused: partitioned table has "
                    f"non-hive file paths (first: {bad[0]}) — partition "
                    "values cannot be reattached from directory names"
                )
        checks = {
            k[len("delta.constraints."):]: v
            for k, v in cfg.items()
            if k.startswith("delta.constraints.")
        }
        from pyspark.sql.types import StructType

        pschema = (
            StructType([schema[c] for c in pby]) if pby else None
        )
        os.makedirs(t.log_dir, exist_ok=False)
        # foreign per-file statistics adopt as-is (Delta's add.stats is
        # the same envelope this log records; overlapping_files reads
        # any bounds in it NaN-safely); files the foreign writer left
        # statless, or with stats that are not a JSON object, get
        # footer-derived entries stamped by the commit
        stats0: dict[str, dict] = {}
        for f, a in st.live.items():
            s = a.get("stats")
            try:
                d = json.loads(s) if isinstance(s, str) else s
            except ValueError:
                continue
            if not isinstance(d, dict):
                continue
            ent = {
                k: d[k]
                for k in ("numRecords", "minValues", "maxValues", "nullCount")
                if k in d
            }
            if ent:
                stats0[f] = ent
        extra0 = {
            "partition_by": pby,
            "partition_schema": pschema.json() if pby else None,
            "schema": schema.json(),
            "checks_reset": checks,
            "converted_from_delta": st.version,
            # the adoption commit is CHECKPOINT-marked (metadata-complete
            # full state, nothing below it in the txlog) — checkpoint
            # folds read dvs_state/stats_state, so the full adopted
            # state goes there; the per-commit forms stay alongside for
            # history()/byte probes, inert in the fold
            "stats_state": stats0,
            **({"stats": stats0} if stats0 else {}),
            "dvs_state": dvs0 or {},
            # foreign configuration adopts as table properties —
            # constraints map to first-class checks above and the
            # column mapping to first-class log payload, so those keys
            # are excluded; behavioral flags (delta.appendOnly,
            # delta.enableDeletionVectors) and custom keys carry over
            "properties_reset": {
                k: v
                for k, v in cfg.items()
                if not k.startswith(
                    ("delta.constraints.", "delta.columnMapping.")
                )
            },
        }
        if dvs0:
            extra0["dvs"] = dvs0
        if mapping is not None:
            # adopt mode=name wholesale (identity entries included): the
            # mapping being PRESENT is what makes later add_column mint
            # fresh physical names, matching the source table's re-add
            # semantics
            extra0["column_mapping"] = mapping
        # commit at the FOREIGN LATEST VERSION, not 0: the adopted table
        # keeps ONE continuous version space — versions < st.version are
        # the pre-adoption Delta history, still served by read_changes /
        # table_changes() straight from the coexisting _delta_log
        # (deltalog.read_delta_changes); versions > st.version are txlog
        # commits. Nothing below the adoption commit exists in the
        # txlog, so it doubles as the bootstrap checkpoint.
        t._try_commit(
            st.version,
            adds=files,
            removes=[],
            op="convert_delta",
            extra=extra0,
        )
        # txn carry-over: one no-op commit per appId so exactly-once
        # sinks resume idempotently after migrating to the txlog sink
        for app_id in sorted(st.txns):
            t.commit(
                adds=[], removes=[], base_version=t.version(),
                op="txn_carryover",
                txn=(app_id, int(st.txns[app_id]["version"])),
            )
        return t

    # -------------------------------------------------------- partitioning

    def _snapshot(self, as_of: int | None = None) -> Snapshot:
        """The table's :class:`logfold.Snapshot` at ``as_of`` (default:
        latest) — every accessor below is a view over it, and each public
        operation takes one per attempt and passes it down. One listing
        of the log per call. The newest snapshot folded is cached per
        handle, keyed by its commit file's identity (a table re-created
        at the same path misses): when the head has moved only the newer
        commits are loaded, and a read at the cached version loads none.
        Other versions fold from their newest checkpoint."""
        entries = _commit_entries(self.log_dir)
        base = None
        if self._snap is not None:
            cached, stamp = self._snap
            if self._stamp(cached.version) == stamp:
                base = cached
        if base is not None and as_of is not None and int(as_of) < base.version:
            base = None
        snap = snapshot(self.log_dir, as_of, base=base, entries=entries)
        if entries and snap.version == entries[-1][0]:
            self._snap = (snap, self._stamp(snap.version))
        return snap

    def _stamp(self, version: int) -> tuple | None:
        try:
            st = os.stat(os.path.join(self.log_dir, _commit_name(version)))
        except OSError:
            return None
        return st.st_ino, st.st_mtime_ns

    def _base_snapshot(self) -> Snapshot:
        """The latest snapshot, or the empty pre-commit-0 state while the
        table's creating commit is being written."""
        try:
            return self._snapshot()
        except FileNotFoundError:
            return empty_snapshot()

    def partition_meta(self) -> tuple[list[str], "object"]:
        """(partition column names, their StructType) — ``([], None)`` for
        unpartitioned tables; recorded on the oldest retained commit."""
        return self._snapshot().partition()

    def _read_files(
        self,
        files: list[str],
        snap: Snapshot | None = None,
        dvs: dict[str, dict] | None = None,
    ) -> DataFrame:
        """ONE parquet scan over an explicit live-file list under the
        RECORDED schema and column mapping of ``snap`` (default: latest)
        — exact Spark types always (no partition-type inference, no INT96
        timestamp ambiguity, no footer sampling), files predating a schema
        evolution null-filled, and no session-conf mutation so concurrent
        readers on a shared SparkSession are unaffected. Partitioned
        tables add the ``basePath`` option (Spark's documented mechanism
        for partition discovery over explicit file lists); Spark appends
        partition columns last, so the recorded column order is restored
        with a select. Legacy logs without recorded schemas fall back to
        one footer's schema (exact for Spark-written files via the
        embedded row metadata) plus the commit-0 partition types."""
        from pyspark.sql.types import StructType

        paths = [os.path.join(self.path, f) for f in files]
        snap = snap or self._snapshot()
        pby, pschema = snap.partition()
        schema_json, mapping = snap.schema, snap.mapping
        dv_df = self._dv_frame(dvs, files) if dvs else None
        if schema_json is not None:
            schema = StructType.fromJson(json.loads(schema_json))
        elif pby:
            schema = _footer_schema(paths[0])
            for fld in pschema.fields:
                if fld.name not in schema.fieldNames():
                    schema = schema.add(fld)
            mapping = None  # legacy log: never column-mapped
        else:
            if dv_df is None:
                return self.spark.read.parquet(*paths)
            schema = _footer_schema(paths[0])
            mapping = None
        physical = _physical_struct(schema, mapping)
        # physical -> logical rename restores the user-facing names and
        # the recorded column order (partition cols come back last from
        # Spark's discovery; renames of partition cols are refused, so
        # their logical==physical always)
        cols = [
            F.col(p.name).alias(l.name)
            for p, l in zip(physical.fields, schema.fields)
        ]

        def _scan(subset: list[str]) -> DataFrame:
            reader = self.spark.read.schema(physical)
            if pby:
                reader = reader.option("basePath", self.path)
            return reader.parquet(*[os.path.join(self.path, f) for f in subset])

        if dv_df is None:
            return _scan(files).select(*cols)
        # merge-on-read: anti-join out deletion-vector rows on (scan
        # group, file basename, in-file row index) — all JVM-side
        # metadata columns; basenames are unique WITHIN a scan group
        # (one group for every Spark-written layout), so the key
        # identifies the file without parsing the URI-encoded dirs
        groups = self._basename_groups(files)
        parts = [
            _scan(fs).select(
                *cols,
                F.lit(g).alias("__dvg"),
                _scan_basename(F.col("_metadata.file_path"), fs).alias(
                    "__dvf"
                ),
                F.col("_metadata.row_index").alias("__dvi"),
            )
            for g, fs in enumerate(groups)
        ]
        scan = parts[0]
        for p in parts[1:]:
            scan = scan.unionByName(p)
        return self._anti_join_dv(scan, self._dv_keyed(dv_df, groups)).drop(
            "__dvg", "__dvf", "__dvi"
        )

    def _empty(self, snap: Snapshot | None = None) -> DataFrame:
        """Zero-row snapshot with the table schema (incl. partition cols)."""
        snap = snap or self._snapshot()
        if snap.schema is not None:
            from pyspark.sql.types import StructType

            return local_df(self.spark, 
                [], StructType.fromJson(json.loads(snap.schema))
            )
        pby, pschema = snap.partition()
        df = self.spark.read.parquet(self.path)
        if pby:
            from pyspark.sql import functions as F

            for fld in pschema.fields:
                df = df.withColumn(fld.name, F.col(fld.name).cast(fld.dataType))
        return df.limit(0)

    # -------------------------------------------------------------- state

    def _replay(self, as_of: int | None = None) -> tuple[int, list[str]]:
        """(version, live files) at ``as_of`` (default: latest)."""
        s = self._snapshot(as_of)
        return s.version, s.files

    def _replay_full(
        self, as_of: int | None = None
    ) -> tuple[int, list[str], dict[str, dict]]:
        """(version, live files, deletion-vector state) at ``as_of``."""
        s = self._snapshot(as_of)
        return s.version, s.files, dict(s.dvs)

    def version(self) -> int:
        """The newest committed version: one listing, no commit opened."""
        return latest_version(self.log_dir)

    def files(self) -> list[str]:
        return self._snapshot().files

    def dvs(self, as_of: int | None = None) -> dict[str, dict]:
        """Deletion-vector state (file -> descriptor) at ``as_of``
        (default: latest). Empty for tables that never ran merge-on-read
        DML — the common case, zero overhead on every read path."""
        return dict(self._snapshot(as_of).dvs)

    def _sidecar_rows(
        self, sidecar: str, rel_files: list[str], pathkey: str | None
    ) -> DataFrame:
        """The (file = RELATIVE path, row_index) rows of one sidecar for
        exactly ``rel_files``. Sidecars written since the relative-path
        keying (descriptor ``pathkey == 'rel'``) store the relative path
        directly; legacy sidecars store basenames, which the pre-change
        DML guaranteed globally unique, so a tiny broadcast-joined
        basename -> relative-path mapping recovers the exact keys."""
        df = self.spark.read.parquet(os.path.join(self.path, sidecar))
        if pathkey == "rel":
            return df.filter(F.col("file").isin(rel_files)).select(
                "file", "row_index"
            )
        mapping = local_df(self.spark, 
            [(os.path.basename(f), f) for f in rel_files],
            "file string, __rel string",
        )
        return df.join(F.broadcast(mapping), "file").select(
            F.col("__rel").alias("file"), "row_index"
        )

    def _dv_frame(
        self, dvs: dict[str, dict], files: list[str]
    ) -> DataFrame | None:
        """The deleted (file = RELATIVE path, row_index) rows covering the
        subset of ``files`` that carry a DV under ``dvs`` — None when
        none do (the zero-overhead fast path every non-DV table takes).
        Sidecars are parquet; one sidecar may pack DVs for many files
        (a DML commit writes ONE sidecar), and a file's descriptor names
        the exact sidecar holding its CURRENT vector, so rows are taken
        only from (sidecar, file) pairs the state actually binds —
        a stale sidecar still live for another file can never leak rows.
        Legacy basename-keyed sidecar rows normalize to relative paths
        here, so every consumer sees ONE keying. Broadcast below a row
        threshold (descriptors carry cardinality, so the decision costs
        no job)."""
        hit = {f: dvs[f] for f in files if f in dvs}
        if not hit:
            return None
        by_sidecar: dict[tuple[str, str | None], list[str]] = {}
        for f, desc in hit.items():
            by_sidecar.setdefault(
                (desc["sidecar"], desc.get("pathkey")), []
            ).append(f)
        parts = [
            self._sidecar_rows(sc, fs, pk)
            for (sc, pk), fs in sorted(
                by_sidecar.items(), key=lambda kv: str(kv[0])
            )
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        total = sum(int(d.get("cardinality") or 0) for d in hit.values())
        return F.broadcast(out) if total <= 500_000 else out

    @staticmethod
    def _basename_groups(files: list[str]) -> list[list[str]]:
        """Partition ``files`` into the fewest scan groups such that
        basenames are unique WITHIN each group. Spark-written layouts
        (uuid part files) always yield ONE group — the common case costs
        nothing; only foreign-adopted layouts with colliding basenames
        (e.g. CONVERT FROM DELTA of a nested dir tree full of
        ``data.parquet``) fan out to one scan per collision depth."""
        seen: dict[str, int] = {}
        groups: list[list[str]] = []
        for f in files:
            b = f.rsplit("/", 1)[-1]
            g = seen.get(b, 0)
            seen[b] = g + 1
            if len(groups) <= g:
                groups.append([])
            groups[g].append(f)
        return groups

    def _dv_keyed(
        self, dv_df: DataFrame, groups: list[list[str]]
    ) -> DataFrame:
        """Rewrite a relative-path-keyed DV frame to the (scan group id,
        basename, row_index) shape the anti/semi join below matches
        against. Within one scan group basenames are unique, so (group,
        basename) identifies the file exactly — and the scan side can
        compute its key from ``_metadata.file_path`` without parsing the
        URI-encoded directory components (only the basename is
        extracted JVM-side, decoded by :func:`_scan_basename` when an
        adopted name is not URI-safe).
        Single group: a pure projection. Multiple groups: one tiny
        broadcast-joined (relative path -> group) mapping."""
        if len(groups) == 1:
            return dv_df.select(
                F.lit(0).alias("__g"),
                F.element_at(F.split(F.col("file"), "/"), -1).alias("__b"),
                "row_index",
            )
        rows = [
            (f, g, f.rsplit("/", 1)[-1])
            for g, fs in enumerate(groups)
            for f in fs
        ]
        mapping = local_df(self.spark, 
            rows, "file string, __g int, __b string"
        )
        return dv_df.join(F.broadcast(mapping), "file").select(
            "__g", "__b", "row_index"
        )

    @staticmethod
    def _anti_join_dv(scan: DataFrame, dv_keyed: DataFrame) -> DataFrame:
        """Drop scan rows whose (scan group, file basename, row index)
        appears in the keyed DV frame — one JVM-side anti join
        (broadcast when the DV is small), never a Python filter. The
        scan must carry ``__dvg``/``__dvf``/``__dvi``."""
        return scan.join(
            dv_keyed,
            (scan["__dvg"] == dv_keyed["__g"])
            & (scan["__dvf"] == dv_keyed["__b"])
            & (scan["__dvi"] == dv_keyed["row_index"]),
            "left_anti",
        )

    def read(self) -> DataFrame:
        """Snapshot read: exactly the files the latest commit resolves to,
        minus deletion-vector rows."""
        return self._rows(self._snapshot())

    def _rows(self, snap: Snapshot) -> DataFrame:
        """The rows of ``snap``: its live files minus their DV rows."""
        if not snap.live:
            return self._empty(snap)
        return self._read_files(snap.files, snap, dvs=snap.dvs)

    def read_version(self, version: int) -> DataFrame:
        """Time travel (Delta paper §4.3, ``VERSION AS OF``): read the table
        exactly as it was after commit ``version``. Works because commits
        only ever ADD files — a version's data files stay on disk until
        :meth:`vacuum` drops versions older than its retention window, so
        the time-travel horizon IS the vacuum retention. Deletion-vector
        state is per-version too: a read before a DV delete shows the
        rows, after it doesn't.

        On a table adopted via :meth:`convert_from_delta` (one
        continuous version space, adoption commit at the foreign latest
        version), versions BELOW the adoption commit time-travel the
        pre-adoption Delta history straight from the coexisting
        ``_delta_log`` — the same dispatch :meth:`read_changes` uses."""
        try:
            snap = self._snapshot(as_of=version)
        except FileNotFoundError:
            if oldest_commit(self.log_dir)[1].get("op") != "convert_delta":
                raise
            from .deltalog import read_delta_snapshot

            return read_delta_snapshot(self.spark, self.path, version=version)
        return self._rows(snap)

    def version_at_timestamp(self, timestamp_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution: the newest version whose
        commit time <= ``timestamp_ms`` — commit-file mtimes adjusted to
        be MONOTONICALLY increasing in version order (ts_v :=
        max(raw_v, ts_{v-1} + 1 ms)), Delta's own rule (its fallback
        when commitInfo is absent is exactly the file modification
        time). The resolvable window is the retained log, same envelope
        as Delta; copying a table resets mtimes, so pin important
        snapshots with :meth:`tag` rather than wall clocks. The
        monotonize-and-select core is :func:`version_from_commit_times`,
        SHARED with ``deltalog._version_at_timestamp`` — one place owns
        the resolution rule (incl. the loud after-latest refusal)."""
        raw: list[tuple[int, int]] = []
        for f in sorted(
            n for n in os.listdir(self.log_dir) if n.endswith(".json")
        ):
            v = int(f.split(".")[0])
            raw.append(
                (v, int(os.path.getmtime(os.path.join(self.log_dir, f)) * 1000))
            )
        return version_from_commit_times(raw, timestamp_ms, self.log_dir)

    def history(self) -> list[dict]:
        """One record per retained commit: ``op``, and the TRUE file
        delta of the commit — one :func:`logfold.walk` over the retained
        range, so a checkpoint commit (whose recorded adds are the whole
        live list) reports what it changed, not the table. The oldest
        retained commit after ``cleanup_log`` has no predecessor: it
        reports its live list as adds. ``n_dvs`` counts the vectors it
        set."""
        return [
            {
                "version": v,
                "op": c.get("op"),
                "n_adds": len(after.live - before.live),
                "n_removes": len(before.live - after.live),
                "n_dvs": len(c.get("dvs") or {}),
            }
            for v, c, before, after in walk(self.log_dir)
        ]

    # ------------------------------------------------------------- commit

    def _write_data(
        self,
        df: DataFrame,
        snap: Snapshot | None = None,
        _validate: bool = True,
        _checks: dict[str, str] | None = None,
        _mapping: dict | None = None,
    ) -> list[str]:
        """Write ``df`` as new parquet files under the table dir; returns
        their names (relative paths — for partitioned tables these include
        the hive-style ``col=value/`` directories, which is also where the
        Delta export reads ``partitionValues`` from). Files are invisible
        until a commit references them.

        CHECK constraints are enforced HERE — the single chokepoint every
        data-adding path goes through — by ONE aggregate scan over the
        NEWLY WRITTEN files only (predicates pushed to their footers;
        the table itself is never re-read, so enforcement stays O(batch)
        at any table size). On violation the new files are removed and
        :class:`CheckViolation` raised — nothing was committed, so the
        table is untouched. ``_validate=False`` is for row-preserving
        rewrites (optimize, delete's keep-side) whose rows already passed.
        ``snap`` (default: latest) supplies the partition spec, mapping,
        CHECK set and generated columns; ``_checks``/``_mapping``
        override the last two."""
        snap = snap or self._snapshot()
        pby = snap.partition()[0]
        mapping = _mapping if _mapping is not None else snap.mapping
        if mapping:
            # column-mapped table: files carry PHYSICAL names (renames
            # stay metadata-only; a re-added dropped name writes under a
            # fresh physical name so old data cannot resurrect).
            # Partition columns are never mapped (renames refused).
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
        tmp = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        if pby:
            # partitionBy writes hive-style dirs and OMITS the partition
            # columns from the data files — the same physical layout the
            # Delta protocol prescribes; readers reattach via basePath
            df.write.partitionBy(*pby).parquet(tmp)
        else:
            df.write.parquet(tmp)
        import pyarrow.parquet as pq

        names = []
        for root, _dirs, fs in sorted(os.walk(tmp)):
            rel_dir = os.path.relpath(root, tmp)
            for f in sorted(fs):
                if not f.endswith(".parquet") or f.startswith(("_", ".")):
                    continue
                if pq.ParquetFile(os.path.join(root, f)).metadata.num_rows == 0:
                    # empty shuffle partitions write zero-row parts;
                    # registering them leaves files no DML can ever
                    # touch (and every scan must still open)
                    continue
                new = f"part-{uuid.uuid4().hex}.parquet"
                rel = new if rel_dir == "." else os.path.join(rel_dir, new)
                os.makedirs(os.path.dirname(os.path.join(self.path, rel)) or self.path, exist_ok=True)
                os.rename(os.path.join(root, f), os.path.join(self.path, rel))
                names.append(rel.replace(os.sep, "/"))
        import shutil

        shutil.rmtree(tmp)
        if _validate:
            checks = snap.checks if _checks is None else _checks
            # generated columns enforce at the same chokepoint: whatever
            # value a write carries must null-safe-equal the generation
            # expression (Delta's explicit-write rule) — DML/merge paths
            # therefore cannot silently desynchronize a generated column
            # from its sources
            gen = _generated_of(snap.schema)
            if gen:
                checks = {**_generated_checks(gen), **checks}
        else:
            checks = {}
        if checks and names:
            self._enforce_checks(names, checks, snap, mapping=mapping)
        return names

    def _enforce_checks(
        self,
        names: list[str],
        checks: dict[str, str],
        snap: Snapshot,
        mapping: dict | None = None,
    ) -> None:
        """Enforce ``checks`` over the staged files ``names`` with ONE
        aggregate scan (new files only — the table is never re-read). On
        violation the staged files are removed and CheckViolation raised.
        Called by :meth:`_write_data` at write time, and again by
        :meth:`append`'s retry loop when a concurrent add_check landed
        after the files were written — otherwise rows validated against
        the old constraint set could commit over a newer constraint."""
        if not (checks and names):
            return
        paths = [os.path.join(self.path, n) for n in names]
        # footer schema of the just-written files (they share one) +
        # recorded partition fields via basePath — NEVER inference
        schema = _footer_schema(paths[0])
        pby, pschema = snap.partition()
        if pby:
            for fld in pschema.fields:
                if fld.name not in schema.fieldNames():
                    schema = schema.add(fld)
        reader = self.spark.read.schema(schema)
        if pby:
            reader = reader.option("basePath", self.path)
        scan = reader.parquet(*paths)
        mapping = mapping if mapping is not None else snap.mapping
        if mapping:
            # files carry physical names; check exprs reference LOGICAL
            # names — rename back in ONE atomic select (sequential
            # withColumnRenamed breaks on swap-cycle mappings: an
            # intermediate rename collides with a still-unrenamed
            # physical column of the same name)
            inv = {ph: lg for lg, ph in mapping.items()}
            scan = scan.select(
                *[F.col(c).alias(inv.get(c, c)) for c in scan.columns]
            )
        # one scan, all constraints: min(passes) per check — 0 = violated
        aggs = [
            F.min(F.coalesce(F.expr(e), F.lit(True)).cast("int")).alias(n)
            for n, e in checks.items()
        ]
        row = scan.agg(*aggs).collect()[0]
        failed = [n for n in checks if row[n] == 0]
        if failed:
            for n in names:
                os.remove(os.path.join(self.path, n))
            raise CheckViolation(
                "write rejected by CHECK "
                + ", ".join(f"{n}: {checks[n]}" for n in failed)
            )

    # ------------------------------------------------------- data skipping

    def file_stats(
        self, columns: list[str] | None = None, files: list[str] | None = None
    ) -> dict[str, dict]:
        """Per-file ``{column: (min, max)}`` envelopes, a view over the
        snapshot's recorded stats (:meth:`stats_at`, values as recorded:
        dates as ISO strings); a file with no entry reads its footer
        (:func:`footer_stats_dict`). ``files`` defaults to the latest
        snapshot's live list; ``columns`` to every bounded column."""
        snap = self._snapshot()
        out: dict[str, dict] = {}
        for f in snap.files if files is None else files:
            e = _stats_entry(snap.stats, f) or footer_stats_dict(
                os.path.join(self.path, f)
            ) or {}
            mins, maxs = e.get("minValues") or {}, e.get("maxValues") or {}
            out[f] = {
                c: (mins[c], maxs[c])
                for c in mins
                if c in maxs and (columns is None or c in columns)
            }
        return out

    def stats_at(self, as_of: int | None = None) -> dict[str, dict]:
        """Per-file recorded statistics at ``as_of`` (default: latest):
        ``{rel_path: {"numRecords", "minValues", "maxValues",
        "nullCount"}}`` — the snapshot's stats fold: checkpoints carry
        the full state, removes drop entries, ``stats_reset`` (restore)
        replaces it and each commit's own ``stats`` merge last. Data files
        are immutable, so a file's entry is the same in every snapshot
        that holds it. Files committed before stats recording existed are
        absent; consumers fall back to footers for those (an optimization
        degraded, never an answer changed)."""
        return dict(self._snapshot(as_of).stats)

    def row_count(self, as_of: int | None = None) -> int:
        """Exact COUNT(*) of the snapshot at ``as_of`` from METADATA
        ALONE: sum of the live files' recorded ``numRecords`` minus the
        deletion-vector cardinalities — zero data rows read, O(live
        files) driver-side work at any table size (Delta answers
        ``SELECT COUNT(*)`` from add.stats the same way). Files missing
        a recorded count (committed before stats recording) fall back to
        one parquet footer open each — still metadata-only. Exactness
        holds because every data-adding path records the physical row
        count of its immutable files and merge-on-read deletes are
        exactly the DV cardinalities."""
        snap = self._snapshot(as_of)
        total = sum(_file_rows(self.path, f, snap.stats) for f in snap.live)
        total -= sum(int(d.get("cardinality", 0)) for d in snap.dvs.values())
        return total

    def read_where(self, column: str, lo, hi) -> DataFrame:
        """Snapshot read with FILE-LEVEL skipping: only files whose
        recorded (min, max) envelope for ``column`` overlaps [lo, hi] are
        handed to the scan; the residual row filter is applied on top
        (skipping is an optimization, never a semantics change). Files
        lacking stats for the column are conservatively kept.

        On a PARTITION column the skip needs no stats at all: the value
        is parsed from the file's ``col=value`` directory name and compared
        driver-side — untouched partitions are never listed, opened, or
        read, the partition-pruning contract a 100 TB fact table relies on.
        Null partitions (``__HIVE_DEFAULT_PARTITION__``) are skipped: a
        null never satisfies the range residual."""
        from pyspark.sql import functions as F

        snap = self._snapshot()
        kept = self._prune_files(snap.files, column, lo, hi, snap=snap)
        if not kept:
            return self._empty(snap)
        df = self._read_files(kept, snap, dvs=snap.dvs)
        return df.filter((F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi)))

    def _prune_files(
        self, files: list[str], column: str, lo, hi, snap: Snapshot | None = None
    ) -> list[str]:
        """The file subset of ``files`` that may hold rows with ``column``
        in [lo, hi], by :func:`overlapping_files`: directory names for
        partition columns, the snapshot's recorded stats otherwise — zero
        I/O, the difference between "plan time opens every footer over
        the network" and "plan time opens nothing" on a 100 TB table.
        Only a file with no entry, or no usable bounds for the column,
        falls back to its footer (:func:`footer_stats_dict`). Shared by
        :meth:`read_where` and the DML prune hints; takes the file list
        explicitly so DML retry loops prune the replay-consistent
        snapshot they will commit against. ``snap`` (default: latest)
        supplies the spec, schema, mapping and stats."""
        snap = snap or self._snapshot()
        pby, pschema = snap.partition()
        if column in pby:
            return overlapping_files(
                files, column, pschema[column].dataType, lo, hi,
                hive_partition_values, partition=True,
            )[0]
        dt = None
        if snap.schema is not None:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(snap.schema))
            if column in schema.fieldNames():
                dt = schema[column].dataType
        # stats carry PHYSICAL column names on a column-mapped table
        phys = (snap.mapping or {}).get(column, column)
        kept, unknown = overlapping_files(
            files, phys, dt, lo, hi, lambda f: _stats_entry(snap.stats, f)
        )
        if unknown:
            footer, unknown = overlapping_files(
                unknown, phys, dt, lo, hi,
                lambda f: footer_stats_dict(os.path.join(self.path, f)),
            )
            keep = {*kept, *footer, *unknown}
            kept = [f for f in files if f in keep]
        return kept

    # ----------------------------------------------------- row-level DML

    def _rel_path(self, uri: str) -> str:
        """Relative data-file path from a ``_metadata.file_path`` URI.
        Hadoop emits the single-slash ``file:/...`` form; urlparse handles
        both it and ``file:///...``. Unquoted exactly once: the URI
        percent-encodes the on-disk name, which for hive partition dirs
        already contains the writer's own %XX escapes as literal chars."""
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(uri).path) if ":" in uri.split("/", 1)[0] else uri
        return os.path.relpath(p, os.path.abspath(self.path)).replace(os.sep, "/")

    def _scan_with_filepath(
        self,
        files: list[str],
        snap: Snapshot,
        dvs: dict[str, dict] | None = None,
        extra_fields: list | None = None,
    ) -> DataFrame:
        """:meth:`_read_files` plus Spark's hidden ``_metadata.file_path``
        column (aliased ``__file``) and in-file row position (``__ridx``)
        — the hooks DML uses to discover which files/rows are affected.
        Selected directly on the scan output, where metadata columns are
        resolvable. With ``dvs``, already-deleted rows are anti-joined
        out so DML can never re-match them. ``extra_fields`` appends
        PHYSICAL-ONLY fields to the read schema (e.g. the materialized
        row-id column) — never column-mapped; files lacking them read
        NULL (explicit-schema parquet semantics)."""
        from pyspark.sql.types import StructType

        paths = [os.path.join(self.path, f) for f in files]
        pby, pschema = snap.partition()
        schema_json, mapping = snap.schema, snap.mapping
        if schema_json is not None:
            schema = StructType.fromJson(json.loads(schema_json))
        else:
            # Legacy log with no recorded schema (pre-schema convert()):
            # same footer fallback as _read_files — exact for
            # Spark-written files — plus the commit-0 partition types.
            schema = _footer_schema(paths[0])
            for fld in pschema.fields:
                if fld.name not in schema.fieldNames():
                    schema = schema.add(fld)
            mapping = None  # legacy log: never column-mapped
        physical = _physical_struct(schema, mapping)
        if extra_fields:
            schema = StructType(list(schema.fields) + list(extra_fields))
            physical = StructType(list(physical.fields) + list(extra_fields))

        def _scan(subset: list[str]) -> DataFrame:
            reader = self.spark.read.schema(physical)
            if pby:
                reader = reader.option("basePath", self.path)
            return reader.parquet(
                *[os.path.join(self.path, f) for f in subset]
            ).select(
                *[
                    F.col(p.name).alias(l.name)
                    for p, l in zip(physical.fields, schema.fields)
                ],
                F.col("_metadata.file_path").alias("__file"),
                F.col("_metadata.row_index").alias("__ridx"),
            )

        dv_df = self._dv_frame(dvs, files) if dvs else None
        if dv_df is None:
            return _scan(files)
        groups = self._basename_groups(files)
        parts = [
            _scan(fs)
            .withColumn("__dvg", F.lit(g))
            .withColumn("__dvf", _scan_basename(F.col("__file"), fs))
            .withColumn("__dvi", F.col("__ridx"))
            for g, fs in enumerate(groups)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._anti_join_dv(out, self._dv_keyed(dv_df, groups)).drop(
            "__dvg", "__dvf", "__dvi"
        )

    def _rows_at_indices(
        self,
        files: list[str],
        idx_df: DataFrame,
        snap: Snapshot,
    ) -> DataFrame:
        """The rows of ``files`` whose (RELATIVE path, in-file row index)
        appears in ``idx_df`` (columns ``file``, ``row_index``) — the
        row-exact read a deletion-vector change feed needs: one scan of
        only the affected files (per basename-collision group), one
        broadcast semi-join on metadata columns, no Python in the row
        path."""
        from pyspark.sql.types import StructType

        pby, _pschema = snap.partition()
        schema = StructType.fromJson(json.loads(snap.schema))
        physical = _physical_struct(schema, snap.mapping)
        groups = self._basename_groups(files)

        def _scan(subset: list[str], g: int) -> DataFrame:
            reader = self.spark.read.schema(physical)
            if pby:
                reader = reader.option("basePath", self.path)
            return reader.parquet(
                *[os.path.join(self.path, f) for f in subset]
            ).select(
                *[
                    F.col(p.name).alias(l.name)
                    for p, l in zip(physical.fields, schema.fields)
                ],
                F.lit(g).alias("__dvg"),
                _scan_basename(F.col("_metadata.file_path"), subset).alias(
                    "__dvf"
                ),
                F.col("_metadata.row_index").alias("__dvi"),
            )

        parts = [_scan(fs, g) for g, fs in enumerate(groups)]
        scan = parts[0]
        for p in parts[1:]:
            scan = scan.unionByName(p)
        keyed = F.broadcast(self._dv_keyed(idx_df, groups))
        return scan.join(
            keyed,
            (scan["__dvg"] == keyed["__g"])
            & (scan["__dvf"] == keyed["__b"])
            & (scan["__dvi"] == keyed["row_index"]),
            "left_semi",
        ).drop("__dvg", "__dvf", "__dvi")

    def _touched_files(
        self, candidates: list[str], cond, snap: Snapshot
    ) -> list[str]:
        """Files among ``candidates`` holding >=1 row where ``cond`` is
        TRUE — Delta's MERGE/DELETE "find touched files" job: ONE scan
        projecting only the file-path metadata column, with the predicate
        pushed to the parquet reader (row-group stats skip non-matching
        groups without decoding). The collect is bounded at O(touched
        files) driver-side strings — the same cost class as the commit
        itself, which must list those files."""
        if not candidates:
            return []
        hits = (
            self._scan_with_filepath(candidates, snap, dvs=snap.dvs)
            .filter(cond)
            .select("__file")
            .distinct()
            .collect()
        )
        return sorted(self._rel_path(r["__file"]) for r in hits)

    def delete_where(
        self,
        condition,
        prune: tuple[str, object, object] | None = None,
        max_retries: int = 3,
        mode: str = "cow",
        cdc: bool = False,
    ) -> int:
        """``DELETE FROM t WHERE condition`` as one atomic commit — an
        UPDATE with no SET clause: the storage mode's one DML body
        (:meth:`_dml_cow` / :meth:`_dml_dv`, shared with
        :meth:`update_where`) runs it. Rows where the condition is NULL
        are kept (SQL DELETE semantics: only TRUE deletes).

        ``condition`` is a Column or SQL string. ``prune`` is an optional
        ``(column, lo, hi)`` hint bounding BOTH the touched-file discovery
        scan and the rewrite to files overlapping the range (directory
        names for partition columns — a partition-scoped delete never
        lists other partitions; footer stats otherwise). The hint is an
        optimization only: rows outside it simply aren't deleted, so the
        caller must pass a range the condition implies. On
        CommitConflict the delete recomputes against the winner's
        snapshot and retries (deterministic function of snapshot +
        condition).

        ``mode='cow'`` (default) is copy-on-write: only files that
        CONTAIN matching rows are rewritten (without those rows); every
        other file is carried over untouched in the log — at 100 TB a
        delete hitting 0.1% of rows rewrites 0.1%-ish of files, not the
        table.

        ``mode='dv'`` is MERGE-ON-READ (Delta's deletion vectors): no
        data file is rewritten — the matching rows' positions are
        recorded in a tiny parquet sidecar and anti-joined out at read
        time, so a sliver delete costs O(deleted rows) bytes instead of
        O(touched files). A file whose every live row matches is removed
        outright (no all-rows-deleted DV). The copy-on-write default
        remains the compaction story: any later COW DML or OPTIMIZE that
        rewrites a DV'd file folds the vector away.

        ``cdc=True`` additionally writes the deleted rows into a
        change-data sidecar (Delta's CDF ``_change_data`` design): feed
        consumers then stream O(deleted rows) for this commit instead of
        the touched files' full delete+insert rewrite noise. Refused
        with mode='dv' — a DV commit's feed is already row-exact."""
        _check_dml_mode(mode, cdc, "DML")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if mode == "dv":
            return self._dml_dv(cond, None, {}, prune, max_retries, "delete")
        return self._dml_cow(cond, None, {}, prune, max_retries, "delete", cdc)

    def update_where(
        self,
        condition,
        assignments: dict,
        prune: tuple[str, object, object] | None = None,
        max_retries: int = 3,
        mode: str = "cow",
        cdc: bool = False,
    ) -> int:
        """``UPDATE t SET ... WHERE condition`` as one atomic commit — the
        same storage-mode bodies, discovery, rewrite and retry contract
        as :meth:`delete_where`. ``assignments`` maps column name ->
        Column/SQL-string; right-hand sides see the PRE-update row (SQL
        UPDATE semantics — all assignments evaluate against old values,
        so ``{"a": "b", "b": "a"}`` swaps). A row takes all of its
        assignments or none: the condition is evaluated once per row.
        Assigned values are cast to the column's existing type, so the
        table schema never drifts. Updating a partition column is
        allowed: the rewrite's partitionBy write moves rows to their new
        directories and the commit retires the old files — exactly how a
        copy-on-write lakehouse handles partition-key updates.

        ``mode='dv'`` is MERGE-ON-READ: the positions of matched rows
        whose assignments CHANGE them go into a deletion-vector sidecar
        and ONLY those rows are written as new files — bytes written
        scale with changed rows, not touched files; a no-op assignment
        touches nothing. The new rows run the normal CHECK gate.

        ``cdc=True`` writes the exact pre/post images of the changed rows
        into a change-data sidecar. The match flag and the
        post-assignment values are evaluated once into a persisted frame
        that feeds both the rewrite and the sidecar, so nondeterministic
        conditions/assignments (``rand()``, a view over shifting data)
        and generated-column recomputes can never desynchronize the feed
        from the committed rows. Same feed builder as
        ``merge_into_txlog(cdc=True)`` (:func:`merge.change_feed`)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        from pyspark.sql.types import StructType

        snap = self._snapshot()
        if snap.schema is not None:
            target = StructType.fromJson(json.loads(snap.schema))
        else:
            # Legacy log with no recorded schema: the snapshot's schema
            # (footer fallback inside _read_files) is the target types.
            target = self._read_files(snap.files, snap).schema
        fields = {f.name: f.dataType for f in target.fields}
        unknown = sorted(set(assignments) - set(fields))
        if unknown:
            raise ValueError(f"update_where assigns absent columns: {unknown}")
        ident_assigned = sorted(set(assignments) & set(_identity_of(snap.schema)))
        if ident_assigned:
            raise ValueError(
                f"identity column(s) {ident_assigned} are GENERATED ALWAYS "
                "— UPDATE cannot assign them"
            )
        sets = {
            c: (F.expr(v) if isinstance(v, str) else v).cast(fields[c])
            for c, v in assignments.items()
        }
        # Delta's generated-column UPDATE rule: assigning a SOURCE column
        # recomputes the generated columns that derive from it (unless
        # the statement assigns them explicitly, in which case the
        # _write_data chokepoint validates the supplied values)
        recompute = {
            g: F.expr(e).cast(fields[g])
            for g, e in _gen_recompute(_generated_of(snap.schema), assignments).items()
        }
        _check_dml_mode(mode, cdc, "DML")
        if mode == "dv":
            return self._dml_dv(
                cond, sets, recompute, prune, max_retries, "update"
            )
        return self._dml_cow(
            cond, sets, recompute, prune, max_retries, "update", cdc
        )

    def _dml_cow(
        self,
        cond,
        sets: dict | None,
        recompute: dict,
        prune: tuple[str, object, object] | None,
        max_retries: int,
        op: str,
        cdc: bool,
    ) -> int:
        """The copy-on-write body of :meth:`delete_where` (``sets=None``)
        and :meth:`update_where`. Per attempt: ONE touched-file discovery
        scan over the (pruned) candidates (:meth:`_touched_files`), then
        one rewrite of only those files — a DELETE writes the rows it
        does not match, an UPDATE writes every row with its assignments
        applied where it matched (:func:`_dml_flat`: the condition is
        evaluated once, and every assignment reads that one flag). A
        DELETE without ``cdc`` needs no flag: its one filter is the one
        evaluation. With ``cdc`` the flagged frame is held for the
        attempt, so the rewrite and the change sidecar
        (:func:`merge.change_feed`) read the same rows.

        Row tracking: every rewritten row keeps its stable id BY VALUE —
        :meth:`_rt_cow_read` attaches the concrete id as an ordinary
        column, no assignment ever touches it, and the rewrite writes it
        back (the change feed carries only the logical columns)."""
        hit = F.coalesce(cond, F.lit(False))
        for _attempt in range(max_retries + 1):
            snap = self._snapshot()
            base_files = snap.files
            cands = (
                self._prune_files(base_files, *prune, snap=snap)
                if prune
                else base_files
            )
            touched = self._touched_files(cands, cond, snap=snap)
            adds: list[str] = []
            cdc_rel: str | None = None
            if touched:
                df = (
                    self._rt_cow_read(touched, snap)
                    if _row_tracking_on(snap)
                    else self._read_files(touched, snap, dvs=snap.dvs)
                )
                if sets is None and not cdc:
                    # kept rows are unchanged — already satisfy every CHECK
                    adds = self._write_data(df.filter(~hit), snap, _validate=False)
                else:
                    flat = _dml_flat(df, hit, sets or {}, recompute)
                    hits, delete = F.col("__hit"), sets is None
                    with _materialized(flat if cdc else None):
                        adds = self._write_data(
                            (flat.filter(~hits) if delete else flat).select(
                                *df.columns
                            ),
                            snap,
                            _validate=not delete,
                        )
                        if cdc:
                            cols = [c for c in df.columns if c != _ROW_ID_PHYS]
                            cdc_rel = self._write_cdc(
                                change_feed(
                                    flat,
                                    cols,
                                    deleted=hits if delete else None,
                                    updated=None if delete else hits,
                                ),
                                snap,
                            )
            v = self._commit_attempt(
                snap, adds=adds, removes=touched, op=op, schema=snap.schema,
                cdc=cdc_rel,
            )
            if v is not None:
                return v
        raise CommitConflict(f"{op} gave up after {max_retries} retries")

    def _write_one(self, df: DataFrame, subdir: str, prefix: str) -> str:
        """Write ``df`` as ONE parquet file
        ``<subdir>/<prefix>-<uuid>.parquet`` under the table dir and
        return its table-relative path — the shared writer of the
        deletion-vector and change-data sidecars (staged, renamed into
        place, stage removed)."""
        import shutil

        os.makedirs(os.path.join(self.path, subdir), exist_ok=True)
        tmp = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        df.coalesce(1).write.parquet(tmp)
        rel = f"{subdir}/{prefix}-{uuid.uuid4().hex}.parquet"
        for f in sorted(os.listdir(tmp)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.rename(os.path.join(tmp, f), os.path.join(self.path, rel))
                break
        shutil.rmtree(tmp)
        return rel

    def _write_sidecar(self, df: DataFrame) -> str:
        """Write one deletion-vector sidecar (columns ``file`` = data-file
        RELATIVE path — descriptors mark ``pathkey: rel``; pre-change
        sidecars keyed basenames and still read via the legacy branch of
        :meth:`_sidecar_rows` — ``row_index`` = in-file row position)
        under ``_dv/`` and
        return its table-relative path. One file: a DV is O(deleted rows)
        — by the time it is big enough for one file to matter, COW/OPTIMIZE
        is the right tool (the documented compaction story)."""
        return self._write_one(
            df.select(
                F.col("file").cast("string"), F.col("row_index").cast("long")
            ),
            "_dv",
            "dv",
        )

    def _write_cdc(self, df: DataFrame, snap: Snapshot) -> str:
        """Write one change-data sidecar (this commit's EXACT row-level
        changes: table columns + ``_change_type``) under ``_cdc/`` and
        return its table-relative path — the public Delta CDF
        ``_change_data`` design: feed readers stream O(changed rows)
        bytes for the commit instead of re-reading and re-diffing the
        rewritten files. Data columns write under their PHYSICAL names
        when the table is column-mapped (stable across later renames,
        same rule as data files); ``_change_type`` is never mapped. One
        file per commit: cdc bytes are O(changed rows), and a change set
        big enough for one file to matter means the commit itself
        rewrote that much data — same cost class, 2x the write."""
        mapping = snap.mapping
        if mapping:
            df = df.select(
                *[
                    F.col(c).alias(mapping.get(c, c))
                    for c in df.columns
                    if c != "_change_type"
                ],
                "_change_type",
            )
        return self._write_one(df, "_cdc", "cdc")

    def _read_cdc(self, rel: str, snap: Snapshot, v: int) -> DataFrame:
        """Read one change-data sidecar back under the FEED's schema
        (``read_changes`` reads every commit under ``to_version``'s
        recorded schema): columns added after the sidecar was written
        null-fill, later-dropped physical columns are ignored, and the
        physical -> logical rename follows the feed-time mapping.

        Sidecars tag updates with Delta CDF's ``update_preimage`` /
        ``update_postimage`` (so the verbatim ``_change_data`` export
        carries native update semantics); the INTERNAL feed contract is
        insert/delete row-identical with the netted file-delta path, so
        those map back here."""
        from pyspark.sql.types import StringType, StructField, StructType

        ct = (
            F.when(
                F.col("_change_type") == "update_preimage", F.lit("delete")
            )
            .when(
                F.col("_change_type") == "update_postimage", F.lit("insert")
            )
            .otherwise(F.col("_change_type"))
            .alias("_change_type")
        )
        full = os.path.join(self.path, rel)
        schema_json, mapping = snap.schema, snap.mapping
        if schema_json is None:
            df = self.spark.read.parquet(full)
            return df.select(
                *[c for c in df.columns if c != "_change_type"], ct
            ).withColumn("_commit_version", F.lit(v).cast("int"))
        sch = StructType.fromJson(json.loads(schema_json))
        phys = _physical_struct(sch, mapping)
        read_schema = StructType(
            list(phys.fields) + [StructField("_change_type", StringType())]
        )
        return (
            self.spark.read.schema(read_schema)
            .parquet(full)
            .select(
                *[
                    F.col(pf.name).alias(lf.name)
                    for pf, lf in zip(phys.fields, sch.fields)
                ],
                ct,
            )
            .withColumn("_commit_version", F.lit(v).cast("int"))
        )

    def _dml_dv(
        self,
        cond,
        sets: dict | None,
        recompute: dict,
        prune: tuple[str, object, object] | None,
        max_retries: int,
        op: str,
    ) -> int:
        """The merge-on-read body of :meth:`delete_where` (``sets=None``)
        and :meth:`update_where`: record row POSITIONS in a
        deletion-vector sidecar instead of rewriting the touched files —
        the public Delta deletion-vector design. Per attempt: ONE
        positional scan of the (pruned, DV-applied) candidates, the
        condition evaluated once per row (:func:`_dml_flat`). Rows leave
        the table when a DELETE matches them, or an UPDATE matches AND
        changes them (:func:`merge.changed` — a no-op assignment touches
        nothing, the DV MERGE's rule). Those rows are held for the
        attempt: an UPDATE writes their post-images as new files (normal
        CHECK gate), then :meth:`_vector_commit` — the one vector step
        the DV MERGE shares — records their positions. A statement that
        moves no row commits a faithful no-op (no file, no sidecar).
        Bytes written scale with changed rows — the sliver-DML cost model
        COW cannot give (SCALING.md)."""
        from pyspark.sql.types import LongType, StructField

        hit = F.coalesce(cond, F.lit(False))
        for _attempt in range(max_retries + 1):
            snap = self._snapshot()
            dvs = snap.dvs
            rt_on = sets is not None and _row_tracking_on(snap)
            rt = [_ROW_ID_PHYS] if rt_on else []
            base_files = snap.files
            cands = (
                self._prune_files(base_files, *prune, snap=snap)
                if prune
                else base_files
            )
            scan = self._scan_with_filepath(
                cands,
                snap,
                dvs=dvs,
                extra_fields=(
                    [StructField(_ROW_ID_PHYS, LongType(), True)]
                    if rt_on
                    else None
                ),
            )
            if rt_on:
                # row tracking: the UPDATE's post-images carry their OLD
                # ids (materialized value, else the file's base + index)
                scan = self._rt_attach(scan, cands, snap.row_bases, _ROW_ID_PHYS)
            cols = [
                c for c in scan.columns if c not in ("__file", "__ridx", *rt)
            ]
            flat = _dml_flat(scan, hit, sets or {}, recompute)
            leaving = (
                F.col("__hit")
                if sets is None
                else F.col("__hit")
                & changed(
                    F.col("__pre"), F.struct(*cols), scan.select(*cols).schema
                )
            )
            kept = ["__file", "__ridx"] + ([] if sets is None else cols + rt)
            # HELD: the new files, the per-file counts and the sidecar
            # positions all read one evaluation, so a nondeterministic
            # condition cannot record a cardinality that disagrees with
            # the masked positions (and wrongly retire a live file)
            with _materialized(flat.filter(leaving).select(*kept)) as moved:
                adds = (
                    []
                    if sets is None
                    else self._write_data(moved.select(*cols, *rt), snap)
                )
                removes, dv_updates = self._vector_commit(
                    moved.select("__file", "__ridx"), snap
                )
            v = self._commit_attempt(
                snap, adds=adds, removes=removes, op=op, schema=snap.schema,
                dvs=dv_updates or None,
            )
            if v is not None:
                return v
        raise CommitConflict(f"{op} (dv) gave up after {max_retries} retries")

    def _vector_commit(
        self,
        positions: DataFrame,
        snap: Snapshot,
        files: list[str] | None = None,
    ) -> tuple[list[str], dict[str, dict]]:
        """The deletion-vector half of one DV commit, shared by
        :meth:`_dml_dv` and the DV MERGE: ``positions`` (the scan's
        ``__file`` URI and ``__ridx``, distinct) leave ``snap``'s table.
        Returns ``(removes, dv_updates)`` for :meth:`_commit_dml`.

        1. Resolve each position's file to its RELATIVE path. Fast path
           (no Spark job): the caller passes the driver-known touched
           ``files`` and their basenames are unique and URI-safe — the
           scan's percent-encoded URI then ends in the raw basename
           (Spark-written layouts; a raw basename holding a space or '%'
           would match no position and silently keep its rows live).
           Otherwise one groupBy/collect of
           per-file counts, O(touched files) rows, decoded driver-side
           (:meth:`_rel_path`).
        2. Write ONE sidecar: the new positions plus the touched files'
           PRIOR vectors (a file's DV is always the full union, so a
           reader needs exactly one sidecar per file).
        3. Per file, the post-commit cardinality (new positions are
           disjoint from the prior vector: the scan was DV-applied) —
           the collected counts, or on the fast path one driver-side
           pyarrow read of the sidecar just written; a file holding only
           its priors keeps its old descriptor.
        4. A file whose vector covers every row (its recorded row
           count) is retired outright (no all-rows-deleted DV); a
           sidecar nothing references is removed. No position
           leaving: no sidecar at all."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        dvs = snap.dvs
        rel_of: dict[str, str] | None = None
        if files is not None:
            rel_of = {}
            for f in files:
                b = f.rsplit("/", 1)[-1]
                if b in rel_of or not _uri_safe(b):
                    rel_of = None  # foreign layout: collect the counts
                    break
                rel_of[b] = f
        counts: dict[str, int] | None = None
        if rel_of is not None:
            key = F.element_at(F.split(F.col("__file"), "/"), -1)
            prior_files = files
        else:
            rows = positions.groupBy("__file").count().collect()
            rel_of = {r["__file"]: self._rel_path(r["__file"]) for r in rows}
            counts = {rel_of[r["__file"]]: r["count"] for r in rows}
            key, prior_files = F.col("__file"), sorted(counts)
        if not prior_files:
            return [], {}

        def prior(rel: str) -> int:
            return int((dvs.get(rel) or {}).get("cardinality") or 0)

        rel_df = local_df(
            self.spark, list(rel_of.items()), "__k string, file string"
        )
        new_pos = (
            positions.select(
                key.alias("__k"), F.col("__ridx").alias("row_index")
            )
            .join(F.broadcast(rel_df), "__k")
            .select("file", "row_index")
        )
        old_pos = self._dv_frame(dvs, prior_files)
        sidecar = self._write_sidecar(
            new_pos if old_pos is None else new_pos.unionByName(old_pos)
        )
        full = os.path.join(self.path, sidecar)
        card: dict[str, int] = {}
        if counts is not None:
            card = {rel: n + prior(rel) for rel, n in counts.items()}
        elif os.path.exists(full):
            vc = pc.value_counts(
                pq.read_table(full, columns=["file"]).column("file")
            )
            card = {
                rel: n
                for rel, n in zip(
                    vc.field("values").to_pylist(),
                    vc.field("counts").to_pylist(),
                )
                if n > prior(rel)
            }
        removes: list[str] = []
        dv_updates: dict[str, dict] = {}
        for rel in sorted(card):
            if card[rel] >= _file_rows(self.path, rel, snap.stats):
                removes.append(rel)
            else:
                dv_updates[rel] = {
                    "sidecar": sidecar,
                    "cardinality": card[rel],
                    "pathkey": "rel",
                }
        if not dv_updates and os.path.exists(full):
            os.remove(full)
        return removes, dv_updates

    def _commit_attempt(self, snap: Snapshot, **kw) -> int | None:
        """Commit one DML attempt, computed on ``snap``, through
        :meth:`_commit_dml` (every row-level route: COW and DV
        DELETE/UPDATE, COW and DV MERGE). A lost race removes what the
        attempt wrote — the files its commit would have added: data
        files, the DV sidecar its descriptors reference, the cdc file —
        and answers None, so the caller's loop recomputes on the
        winner's snapshot."""
        try:
            return self._commit_dml(snap, **kw)
        except CommitConflict:
            sidecars = {d["sidecar"] for d in (kw.get("dvs") or {}).values()}
            for rel in [*kw["adds"], *sidecars, kw.get("cdc")]:
                if rel is not None:
                    os.remove(os.path.join(self.path, rel))
            return None

    def _touched_by_keys(
        self,
        files: list[str],
        source: DataFrame,
        keys: list[str],
        snap: Snapshot,
    ) -> list[str]:
        """Files among ``files`` holding >=1 row whose key appears in
        ``source`` — MERGE's touched-file discovery (the Delta MERGE
        design's first job): one scan projecting keys + file path,
        LEFT SEMI joined to the source's distinct keys. AQE broadcasts
        the key set when small (the daily-batch case); a genuinely huge
        source degrades to one shuffle semi-join, still O(|target| +
        |source|). NULL source keys never match (SQL equality) — they
        surface as inserts downstream, touching no file.

        ``source`` must be the SAME materialized rows the merge join
        reads (:func:`merge_into_txlog` passes its read-once copy): the
        discovery is only correct for the keys it saw — a key the join
        sees in a file discovery missed would merge as a duplicate
        insert — and re-running the source's lineage here is the
        dominant cost of a small upsert."""
        if not files:
            return []
        scan = self._scan_with_filepath(files, snap, dvs=snap.dvs)
        hits = (
            scan.select("__file", *keys)
            .join(source.select(*keys).distinct(), keys, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        return sorted(self._rel_path(r["__file"]) for r in hits)

    def diff_versions(self, v_old: int, v_new: int) -> DataFrame:
        """Row-level change feed between two snapshots: UNION of rows added
        (in v_new, not v_old; change_type='insert') and removed (in v_old,
        not v_new; 'delete') — an update appears as its delete+insert pair,
        exactly Delta CDF's representation for full-rewrite writers.
        Computed as two EXCEPT ALLs over the snapshots; exact and
        multiset-correct. At scale the file lists bound the work: files
        common to both versions cancel and need never be read — this
        implementation reads only each side's non-shared files."""
        from pyspark.sql import functions as F

        old, new = self._snapshot(as_of=v_old), self._snapshot(as_of=v_new)
        files_old, dvs_old = old.files, old.dvs
        files_new, dvs_new = new.files, new.dvs
        # both sides read under v_new's schema: files predating an
        # evolution null-fill the added columns, so the change feed has
        # ONE schema and an update still cancels into its delete+insert
        # a file live in BOTH versions whose deletion vector changed
        # holds row-level differences — read it on both sides (under
        # each side's DV state); files with identical DVs still cancel
        # without being read
        dv_changed = sorted(
            f
            for f in set(files_old) & set(files_new)
            if dvs_old.get(f) != dvs_new.get(f)
        )
        only_old = sorted(set(files_old) - set(files_new)) + dv_changed
        only_new = sorted(set(files_new) - set(files_old)) + dv_changed

        def _read(files: list[str], dvs: dict) -> DataFrame | None:
            if not files:
                return None
            return self._read_files(files, new, dvs=dvs)

        old_df, new_df = _read(only_old, dvs_old), _read(only_new, dvs_new)
        if old_df is None and new_df is None:
            return self._empty(new).withColumn("change_type", F.lit(""))
        base = old_df if old_df is not None else new_df
        empty = base.limit(0)
        old_df = old_df if old_df is not None else empty
        new_df = new_df if new_df is not None else empty
        added = new_df.exceptAll(old_df).withColumn("change_type", F.lit("insert"))
        removed = old_df.exceptAll(new_df).withColumn("change_type", F.lit("delete"))
        return added.unionByName(removed)

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        net: bool = True,
    ) -> DataFrame:
        """Per-commit Change Data Feed (Delta's ``table_changes``): every
        row-level change in commits ``[from_version, to_version]``, each
        tagged ``_change_type`` ('insert'/'delete') and
        ``_commit_version``. Unlike :meth:`diff_versions` (endpoint
        diff — a row inserted then deleted inside the range cancels),
        this preserves INTERMEDIATE history, which is what an
        incremental consumer tailing the log needs: process commits
        [last_seen+1, latest], checkpoint latest, repeat — each poll
        costs O(files changed in that range), never O(table).

        Per commit, changes derive from the log's file delta (live set
        at v minus live at v-1 — computed checkpoint-aware in ONE pass
        over the commit jsons, so checkpoint commits whose recorded adds
        are the full live list still yield their true delta): rows of
        added files are inserts, rows of removed files deletes. A
        copy-on-write writer rewrites whole touched files, so rewrite
        noise (unchanged rows) appears as identical delete+insert pairs;
        ``net=True`` cancels those per commit with one EXCEPT ALL each
        way over that commit's changed files only — an UPDATE then
        surfaces as exactly its old-row delete + new-row insert, Delta
        CDF's representation. ``net=False`` returns the raw
        file-granularity feed (cheaper: no shuffle at all).

        All files read under ``to_version``'s recorded schema (earlier
        files null-fill evolved columns) so the feed has one schema.
        Data-unchanged commits (add_check, restore that alters nothing,
        vacuum audits) contribute no rows."""
        head = self._snapshot()
        latest = head.version
        to_version = latest if to_version is None else int(to_version)
        from_version = int(from_version)
        if not 0 <= from_version <= to_version <= latest:
            raise ValueError(
                f"invalid change range [{from_version}, {to_version}] "
                f"for table at version {latest}"
            )
        # a range ending below the oldest txlog commit (pre-adoption
        # Delta history) has no txlog snapshot: the Delta feed's schema
        if to_version == latest:
            snap = head
        else:
            snap = self._snapshot(to_version) if to_version >= head.oldest else None
        schema = snap.schema if snap is not None else None
        parts: list[DataFrame] = []
        # CONVERT FROM DELTA keeps ONE continuous version space: the
        # adoption commit sits at the foreign latest version, and every
        # version at/below it is PRE-ADOPTION history — served straight
        # from the coexisting _delta_log (deltalog.read_delta_changes),
        # aligned to the feed schema so post-adoption column evolution
        # null-fills. The adoption commit itself is included there (its
        # txlog file-delta would be the full snapshot, which is NOT what
        # delta version N changed).
        oldest = head.oldest
        if from_version <= oldest and oldest > 0:
            if head.origin.get("op") == "convert_delta":
                from .deltalog import read_delta_changes

                dl = read_delta_changes(
                    self.spark, self.path, from_version,
                    min(to_version, oldest), net=net,
                )
                if schema is not None:
                    from pyspark.sql.types import StructType

                    want = StructType.fromJson(json.loads(schema))
                    dl = dl.select(
                        *[
                            F.col(fl.name).cast(fl.dataType).alias(fl.name)
                            if fl.name in dl.columns
                            else F.lit(None).cast(fl.dataType).alias(fl.name)
                            for fl in want.fields
                        ],
                        "_change_type",
                        "_commit_version",
                    )
                parts.append(dl)
                from_version = oldest + 1
            else:
                # the TRUE delta of version v needs live(v - 1): after
                # cleanup_log a range starting AT the horizon is as
                # unreconstructible as one below it — refuse instead of
                # reporting the horizon checkpoint's full file list as
                # one giant insert (the fold serves that snapshot-as-
                # first-record only to the streaming bootstrap)
                raise FileNotFoundError(
                    f"change feed from version {from_version} needs state "
                    f"below the retained log head (oldest commit: {oldest})"
                    " — those commits were deleted by cleanup_log; the CDF "
                    "horizon is the log-retention horizon"
                )
        if from_version > to_version:
            per_commit = []
        else:
            # one checkpoint-aware pass: per-version live sets -> deltas
            per_commit = commit_deltas_full(
                self.log_dir, from_version, to_version
            )
        for rec in per_commit:
            v, adds, removes, op = rec["v"], rec["adds"], rec["removes"], rec["op"]
            if rec.get("cdc"):
                # the commit recorded its EXACT changes in a change-data
                # sidecar: stream O(changed rows) and skip the file-delta
                # diff AND the rewrite-noise netting entirely
                parts.append(self._read_cdc(rec["cdc"], snap, v))
                continue
            if op == "optimize":
                # data-unchanged rewrite (Delta's dataChange=false): the
                # feed excludes it — net=True would only cancel it at
                # the cost of reading the whole rewritten snapshot twice
                continue
            # added files read under the DV they carry AT v (a restore
            # can re-add a DV'd file); removed files under the DV they
            # carried BEFORE v — otherwise rows already deleted by an
            # earlier vector would be re-reported as fresh deletes
            ins = (
                self._read_files(adds, snap, dvs=rec["dv_added"])
                if adds
                else None
            )
            dels = (
                self._read_files(removes, snap, dvs=rec["dv_removed"])
                if removes
                else None
            )
            if net and ins is not None and dels is not None:
                ins, dels = ins.exceptAll(dels), dels.exceptAll(ins)
            for df, ct in ((ins, "insert"), (dels, "delete")):
                if df is not None:
                    parts.append(
                        df.withColumn("_change_type", F.lit(ct)).withColumn(
                            "_commit_version", F.lit(v).cast("int")
                        )
                    )
            # deletion-vector deltas on files live across the commit:
            # grown vector = row-exact deletes (merge-on-read DML),
            # shrunk/cleared = row-exact re-inserts (restore). Groups
            # share sidecar pairs, so the work is one tiny sidecar
            # except-all + one pushed-down semi-join per group.
            groups: dict[tuple, list[str]] = {}
            for f, (old, new) in rec["dv_changed"].items():
                # a sidecar is written by ONE commit, so its keying is a
                # function of the sidecar — carrying pathkey in the
                # group key keeps both sides normalized to rel paths
                # even across the basename->relative keying change
                key = (
                    (old["sidecar"], old.get("pathkey")) if old else None,
                    (new["sidecar"], new.get("pathkey")) if new else None,
                )
                groups.setdefault(key, []).append(f)
            for (okey, nkey), fs in sorted(groups.items(), key=str):

                def _side(sk: tuple | None) -> DataFrame | None:
                    if sk is None:
                        return None
                    return self._sidecar_rows(sk[0], fs, sk[1])

                new_rows, old_rows = _side(nkey), _side(okey)
                if new_rows is None:
                    del_idx, ins_idx = None, old_rows
                elif old_rows is None:
                    del_idx, ins_idx = new_rows, None
                else:
                    del_idx = new_rows.exceptAll(old_rows)
                    ins_idx = old_rows.exceptAll(new_rows)
                for idx_df, ct in ((del_idx, "delete"), (ins_idx, "insert")):
                    if idx_df is None:
                        continue
                    parts.append(
                        self._rows_at_indices(sorted(fs), idx_df, snap)
                        .withColumn("_change_type", F.lit(ct))
                        .withColumn("_commit_version", F.lit(v).cast("int"))
                    )
        if not parts:
            # empty feed under to_version's schema (NOT the current
            # one): an incremental consumer unions successive polls by
            # name, so the schema must not depend on whether a given
            # range happened to be empty
            if schema is not None:
                from pyspark.sql.types import StructType

                base = local_df(self.spark, 
                    [], StructType.fromJson(json.loads(schema))
                )
            else:
                base = self._empty(snap)  # legacy log: no recorded schema
            return base.withColumn("_change_type", F.lit("")).withColumn(
                "_commit_version", F.lit(0).cast("int")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _try_commit(
        self,
        version: int,
        adds: list[str],
        removes: list[str],
        op: str,
        extra: dict | None = None,
        snap: Snapshot | None = None,
    ) -> None:
        """Atomically create commit ``version``; raise CommitConflict if a
        racing writer got there first (O_EXCL create is the arbiter).
        ``extra`` carries the op's own payload; ``snap`` is the snapshot
        at ``version - 1`` the op computed on (default: the latest)."""
        if snap is None or snap.version != version - 1:
            snap = self._base_snapshot()
        is_ckpt = op in _COMMIT0_OPS + ("cleanup_log",) or (
            version % _CHECKPOINT_EVERY == 0 and version > 0
        )
        extra = dict(extra or {})
        # per-file statistics stamped at the commit that ADDS the file
        # (Delta's add.stats): numRecords powers metadata-only COUNT(*),
        # min/max envelopes power zero-I/O file skipping, and the Delta
        # export publishes them as add.stats. The
        # footers were just written (or adopted) by this very op, so the
        # reads are warm metadata-only opens, O(this commit's adds).
        # Restore re-adds OLD files — their entries arrive via
        # ``stats_reset``; explicit ``stats`` (clone carry-over,
        # convert_from_delta's foreign adoption) are trusted as given.
        if adds and extra.get("stats_reset") is None:
            st_map = dict(extra.get("stats") or {})
            for f in adds:
                if f in st_map:
                    continue
                d = footer_stats_dict(os.path.join(self.path, f))
                if d is not None:
                    st_map[f] = d
            if st_map:
                extra["stats"] = st_map
        # ---- row tracking (Delta rowTracking): baseRowId assignment ----
        # every ADDED file gets base = hw+1 and the watermark advances by
        # its row count (numRecords from the stats just stamped — zero
        # extra reads); the ENABLEMENT commit itself backfills every live
        # file (one metadata-only commit turns tracking on for an
        # existing table). Race-safe by construction: assignment happens
        # per commit ATTEMPT under the current fold, and a losing O_EXCL
        # race re-runs it against the winner's state — nothing stale can
        # land (unlike identity VALUES, bases live only in the log).
        # Restore passes row_base_reset (the target version's bases, hw
        # clamped monotone); files it re-adds from a pre-enablement era
        # get fresh bases here.
        rt_switch = (extra.get("properties") or {}).get("delta.enableRowTracking")
        if rt_switch is not None:
            rt_on = str(rt_switch) == "true"
        elif extra.get("properties_reset") is not None:
            rt_on = extra["properties_reset"].get("delta.enableRowTracking") == "true"
        else:
            rt_on = _row_tracking_on(snap)
        if rt_on:
            hw = snap.row_hw
            reset = extra.get("row_base_reset")
            known = dict(reset) if reset is not None else snap.row_bases
            if reset is not None:
                hw = max(hw, int(extra.get("row_hw", hw)))
            todo = [f for f in adds if f not in known]
            if str(rt_switch) == "true":
                # enablement backfill: every live file lacking a base
                todo += sorted(snap.live - set(removes) - set(adds) - set(known))
            rb: dict[str, int] = {}
            for f in todo:
                rb[f] = hw + 1
                hw += _file_rows(
                    self.path, f, extra.get("stats") or {}, snap.stats
                )
            if reset is not None:
                if rb:
                    extra["row_base_reset"] = {**reset, **rb}
                extra["row_hw"] = hw
            elif rb:
                extra["row_base"] = rb
                extra["row_hw"] = hw
        if is_ckpt and op not in _COMMIT0_OPS:
            # METADATA-COMPLETE checkpoint: the snapshot AFTER this
            # commit, serialized — full file list, DV and stats state,
            # schema, mapping, CHECK set, properties, partition spec,
            # txn high-waters, row-tracking state, clustering — so every
            # fold can bootstrap here alone (the precondition for
            # cleanup_log truncating below it). The per-commit deltas
            # stay alongside (history()/DESCRIBE HISTORY report a DV DML
            # or a set_properties landing on a checkpoint from them);
            # the resets are folded into the state.
            post = snap.apply(
                self.log_dir,
                version,
                {"op": op, "adds": adds, "removes": removes, **extra},
            )
            extra.pop("dvs_reset", None)
            extra.pop("stats_reset", None)
            full = post.checkpoint_fields()
            adds, removes = full.pop("adds"), full.pop("removes")
            extra.update(full)
        ckpt_sidecar: str | None = None
        if (
            is_ckpt
            and op not in _COMMIT0_OPS
            and len(adds) >= self.ckpt_sidecar_min_files
        ):
            # huge live-file count: the full list + DV state go to a
            # parquet sidecar (vectorized to read) instead of inline
            # JSON; every fold routes through _checkpoint_state
            ckpt_sidecar = self._write_ckpt_sidecar(
                version,
                adds,
                extra.get("dvs_state") or {},
                extra.get("stats_state") or {},
            )
            extra["adds_sidecar"] = ckpt_sidecar
            extra["n_adds"] = len(adds)
            extra["dvs_state"] = {}
            extra["stats_state"] = {}
            adds = []
        payload = json.dumps(
            {"op": op, "adds": adds, "removes": removes, "checkpoint": is_ckpt, **extra}
        )
        target = os.path.join(self.log_dir, _commit_name(version))
        if not self.arbiter.put_if_absent(target, payload):
            if ckpt_sidecar is not None:
                # losing writer's sidecar is an orphan — remove it
                try:
                    os.remove(os.path.join(self.log_dir, ckpt_sidecar))
                except OSError:
                    pass
            raise CommitConflict(f"version {version} already committed")

    def _write_ckpt_sidecar(
        self, version: int, adds: list[str], dvs: dict, stats: dict | None = None
    ) -> str:
        """Write a checkpoint's live-file list + DV state as one parquet
        file under ``_txlog/ckpt/``; returns the log-relative path.
        Driver-side pyarrow write (no Spark job) — the list is already
        in driver memory either way."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(self.log_dir, "ckpt"), exist_ok=True)
        rel = f"ckpt/{version:012d}-{uuid.uuid4().hex}.parquet"
        files = sorted(adds)
        tbl = pa.table(
            {
                "file": pa.array(files, pa.string()),
                "dv_sidecar": pa.array(
                    [(dvs.get(f) or {}).get("sidecar") for f in files],
                    pa.string(),
                ),
                "dv_cardinality": pa.array(
                    [(dvs.get(f) or {}).get("cardinality") for f in files],
                    pa.int64(),
                ),
                "dv_pathkey": pa.array(
                    [(dvs.get(f) or {}).get("pathkey") for f in files],
                    pa.string(),
                ),
                # per-file stats as one JSON string per row — the same
                # envelope Delta's parquet checkpoints carry in their
                # add.stats column
                "stats_json": pa.array(
                    [
                        json.dumps(stats[f]) if f in (stats or {}) else None
                        for f in files
                    ],
                    pa.string(),
                ),
            }
        )
        tmp = os.path.join(self.log_dir, f".ckpt-stage-{uuid.uuid4().hex}")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(self.log_dir, rel))
        return rel

    def commit(
        self,
        adds: list[str],
        removes: list[str],
        base_version: int,
        op: str,
        schema: str | None = None,
        txn: tuple[str, int] | None = None,
        column_mapping: dict | None = None,
        dvs: dict[str, dict] | None = None,
        cdc: str | None = None,
        stats: dict[str, dict] | None = None,
    ) -> int:
        """Commit against ``base_version``; CommitConflict if stale.
        ``schema`` records the post-commit table schema (StructType JSON)
        so per-version reads and the Delta export never guess types.
        ``txn`` is an ``(app_id, version)`` streaming-transaction marker
        (the Delta protocol's ``txn`` action): a foreachBatch sink passes
        its (query id, batch id) so a crash-replayed micro-batch can be
        recognized and skipped — see :meth:`last_txn_version`. The Delta
        export mirrors it as a ``txn`` action for external engines.
        ``dvs`` records per-file deletion-vector descriptors this commit
        sets (merge-on-read DML) — each REPLACES that file's prior DV.
        ``cdc`` names a change-data sidecar (``_cdc/...parquet``) holding
        this commit's EXACT row-level changes (the public Delta CDF
        ``_change_data`` design) — feed readers use it instead of
        diffing the commit's file delta. ``stats`` carries pre-computed
        per-add stats entries (optimize's clustering tag rides here).
        One snapshot serves the gate below and the commit payload — a
        cache hit when the caller's attempt just took it."""
        snap = self._base_snapshot()
        # Delta's delta.appendOnly contract, enforced at the protocol
        # chokepoint exactly as Delta does: a DML/MERGE commit that
        # retires files or grows deletion vectors is refused; appends,
        # insert-only merges, no-op DML, OPTIMIZE (row-preserving) and
        # metadata commits stay legal.
        if (
            (removes or dvs)
            and op in ("delete", "update", "merge")
            and snap.properties.get("delta.appendOnly") == "true"
        ):
            raise ValueError(
                f"{op} refused: it would remove or modify rows and the "
                "table carries delta.appendOnly=true — unset it first "
                "(ALTER TABLE ... UNSET TBLPROPERTIES ('delta.appendOnly'))"
            )
        extra: dict = {}
        if schema is not None:
            extra["schema"] = schema
        if txn is not None:
            extra["txn"] = {"appId": str(txn[0]), "version": int(txn[1])}
        if column_mapping is not None:
            extra["column_mapping"] = column_mapping
        if dvs is not None:
            extra["dvs"] = dvs
        if cdc is not None:
            extra["cdc"] = cdc
        if stats is not None:
            # _try_commit trusts supplied entries and footer-fills only
            # the missing files
            extra["stats"] = stats
        self._try_commit(
            base_version + 1, adds, removes, op, extra=extra or None, snap=snap
        )
        return base_version + 1

    def last_txn_version(self, app_id: str) -> int | None:
        """The highest streaming-transaction ``version`` committed for
        ``app_id``, or None — Delta's idempotent-writes contract: a sink
        must skip any batch whose id is <= this. Checkpoints carry the
        high-waters, so the answer survives :meth:`cleanup_log`."""
        try:
            return self._snapshot().txns.get(str(app_id))
        except FileNotFoundError:
            return None

    def append(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        max_retries: int = 3,
    ) -> int:
        """Atomic append commit: write ``df``'s rows as new files and add
        them to the log (no existing file is read or rewritten — the
        cheapest write path, O(batch) regardless of table size). Columns
        are aligned and cast to the table's recorded schema so appends
        can never drift it. With ``txn=(app_id, version)`` the append is
        IDEMPOTENT per (app_id, version): if that transaction is already
        in the log the call is a no-op — the exactly-once guarantee a
        streaming sink needs, because a replayed append is NOT naturally
        idempotent (unlike a keyed upsert). The idempotency re-check runs
        inside the retry loop, so two racing instances of the same batch
        cannot both land."""
        snap = self._snapshot()
        schema_json = snap.schema
        if schema_json is not None:
            from pyspark.sql.types import StructType

            target = StructType.fromJson(json.loads(schema_json))
            # Delta's append enforcement: EXTRA columns are rejected
            # loudly (silently dropping them loses data); MISSING columns
            # null-fill (so producers keep working across an add_column
            # evolution); everything casts to the recorded type.
            extra = sorted(set(df.columns) - set(target.fieldNames()))
            if extra:
                raise ValueError(f"append has columns absent from table: {extra}")
            # a generated column absent from the batch COMPUTES from its
            # expression (over the already-aligned, cast columns — so the
            # stored value always re-validates against the stored
            # sources); supplied values pass through and the _write_data
            # chokepoint validates them against the expression
            gen = _generated_of(schema_json)
            ident = _identity_of(schema_json)
            supplied = sorted(set(ident) & set(df.columns))
            if supplied:
                raise ValueError(
                    f"identity column(s) {supplied} are GENERATED ALWAYS "
                    "(allowExplicitInsert=false): the engine assigns them "
                    "— drop them from the batch"
                )
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target.fields
                    if f.name in df.columns
                    or (f.name not in gen and f.name not in ident)
                ]
            )
            for f in target.fields:
                if f.name not in df.columns and f.name in gen:
                    df = df.withColumn(
                        f.name, F.expr(gen[f.name]).cast(f.dataType)
                    )
            if ident:
                df_noid = df  # pre-assignment frame, kept for re-basing
                df = self._assign_identity(df, ident)
            df = df.select(*[f.name for f in target.fields])
        else:
            ident = {}
        adds: list[str] | None = None
        validated: dict[str, str] | None = None
        ident_hws: dict[str, int] | None = None
        ident_stats: dict[str, dict] | None = None
        for _attempt in range(max_retries + 1):
            # ORDER MATTERS: capture base_version BEFORE the txn check.
            # The check then covers every commit at/below base_version,
            # and any commit that lands after it forces CommitConflict on
            # ours — which re-runs the check. Checking before capturing
            # (or capturing at commit time) leaves a window where a
            # racing instance of the SAME batch commits between our check
            # and our commit at the next version: no collision, double
            # append. One snapshot serves both lookups.
            if _attempt:
                snap = self._snapshot()
            base_version = snap.version
            last = snap.txns.get(str(txn[0])) if txn is not None else None
            if txn is not None and last is not None and txn[1] <= last:
                # replayed batch: already committed (possibly by a
                # racing instance mid-retry) — drop our files, no-op
                for f in adds or []:
                    os.remove(os.path.join(self.path, f))
                return base_version
            if adds is not None and ident:
                # identity re-base: if a racing append advanced a high
                # watermark after our values were assigned, committing
                # them would duplicate ids — drop the staged files and
                # reassign beyond the NEW watermark
                cur_ident = _identity_of(snap.schema)
                if any(
                    cur_ident.get(c, m)["hw"] != m["hw"]
                    for c, m in ident.items()
                ):
                    for f in adds:
                        os.remove(os.path.join(self.path, f))
                    adds = None
                    ident = cur_ident
                    df = self._assign_identity(df_noid, ident).select(
                        *df.columns
                    )
            if adds is None:
                validated = snap.checks
                adds = self._write_data(df, snap, _checks=validated)
                if ident:
                    ident_hws, ident_stats = self._identity_new_hw(adds, ident)
            else:
                # files already staged from a lost race: if an add_check
                # landed since they were validated, re-validate against
                # the NEW constraints only — otherwise rows checked under
                # the old set would commit over a live constraint the
                # add_check's own existing-row scan could not see (our
                # staged files were invisible to it)
                current = snap.checks
                if current != validated:
                    fresh = {
                        n: e
                        for n, e in current.items()
                        if validated is None or validated.get(n) != e
                    }
                    self._enforce_checks(adds, fresh, snap)
                    validated = current
            try:
                # record the schema CURRENT at this attempt, not the one
                # the rows were aligned to: if an add_column landed while
                # we retried, recording the pre-evolution schema here
                # would silently roll the evolution back (our old-shape
                # files are still legal — they null-fill the new column)
                commit_schema = snap.schema
                if ident_hws and commit_schema is not None:
                    commit_schema = _identity_hw_update(
                        commit_schema, ident_hws
                    )
                return self.commit(
                    adds=adds, removes=[], base_version=base_version,
                    op="append", schema=commit_schema, txn=txn,
                    **({"stats": ident_stats} if ident_stats else {}),
                )
            except CommitConflict:
                continue
        for f in adds or []:
            os.remove(os.path.join(self.path, f))
        raise CommitConflict(f"append gave up after {max_retries} retries")

    # ----------------------------------------------------------- optimize

    def optimize(
        self,
        target_files: int = 1,
        zorder_by: list[str] | None = None,
        prune: tuple[str, object, object] | None = None,
        full: bool = False,
    ) -> int:
        """Small-file compaction as ONE atomic commit (Delta's OPTIMIZE):
        rewrite the live snapshot into ``target_files`` files, commit the
        swap, return the new version. Logically a no-op — readers before,
        during, and after see identical rows — which is why it needs no
        retry loop: on CommitConflict the caller simply re-runs against
        the new snapshot. Data files are written before the commit, so a
        crash leaves only vacuumable orphans (same guarantee as merge).
        Contrast maintenance.compact_parquet_dir, whose directory swap
        has a documented unavailability window — under a commit log the
        swap IS the commit.

        ``prune=(column, lo, hi)`` SCOPES the compaction to files
        overlapping the range — Delta's ``OPTIMIZE ... WHERE`` (partition
        predicates resolve by DIRECTORY NAME, zero I/O; other columns by
        recorded stats envelopes). At 100 TB nobody compacts the whole table: the
        operational shape is "optimize yesterday's partition", which
        reads and rewrites that partition only — cost O(selected files),
        table size never enters. Selecting zero files returns the current
        version without committing. Deletion vectors on selected files
        fold away (the rewrite reads DV-applied rows and retires the
        vectored files — the documented DV compaction story); vectors on
        UNSELECTED files are untouched and stay live.

        ``zorder_by`` is Delta's ``OPTIMIZE ... ZORDER BY``: the rewrite
        range-partitions and sorts along a Morton curve over the given
        columns (maintenance.zvalue — pure built-ins, whole-stage
        codegen), so the rewritten files' footer min/max envelopes — and
        the per-file stats the Delta export publishes — are tight on
        EVERY z-ordered column and :meth:`read_where` /
        ``read_delta_where`` prune on any of them, which a single-column
        sort cannot give. Columns are auto-quantized to the bit grid
        from one min/max scalar collect (numeric/date/timestamp only —
        strings have no locality-preserving quantization and are
        refused). For partitioned tables the range partitioning leads
        with the partition columns so partition dirs stay contiguous.

        On a CLUSTERED table (:meth:`cluster_by`) a bare ``optimize()``
        is INCREMENTAL — Delta's liquid-clustering maintenance shape:
        files a prior clustering pass already wrote (their log stats
        entry carries ``clusteredBy`` = the current column list) are
        left alone, and only files added SINCE — ingest batches, DML
        rewrites — are read and rewritten into their own Morton-ordered
        ZCube. Re-clustering after each ingest batch then costs the
        BATCH's bytes, not the table's (the 100 TB operational
        requirement; SCALING.md records the 10x probe). Changing the
        clustering columns invalidates every tag, so the next optimize
        re-clusters the whole snapshot. ``full=True`` forces the
        whole-snapshot rewrite (Delta's ``OPTIMIZE ... FULL``) — the
        periodic global pass that merges accumulated ZCubes; explicit
        ``zorder_by`` always rewrites its whole selection too."""
        from pyspark.sql import functions as F

        state = self._snapshot()
        if full:
            # Delta's OPTIMIZE ... FULL contract: it IS the clustered
            # table's global maintenance pass — meaningless without
            # clustering, contradictory with an explicit ZORDER BY
            # (review finding, round 12: the SQL layer refused these
            # but the Python surface silently ignored the flag)
            if zorder_by is not None:
                raise ValueError(
                    "full=True applies to the bare clustered maintenance "
                    "pass — it cannot combine with zorder_by"
                )
            if not state.clustering:
                raise ValueError(
                    "OPTIMIZE FULL requires a clustered table "
                    "(cluster_by first)"
                )
        base_version, base_files, dvs = state.version, state.files, state.dvs
        if prune is not None:
            files = self._prune_files(base_files, *prune, snap=state)
            if not files:
                return base_version  # nothing overlaps: no-op, no commit
        else:
            files = base_files
        cl_cols = list(state.clustering)
        cl_tag: list[str] | None = None
        if zorder_by is None and cl_cols:
            # clustered table (cluster_by): OPTIMIZE re-clusters along
            # the recorded columns without restating them — Delta's
            # liquid-clustering operational shape
            zorder_by = list(cl_cols)
            cl_tag = list(cl_cols)
            if not full:
                # INCREMENTAL (liquid) maintenance: only files no prior
                # pass clustered along the CURRENT columns are rewritten
                # — cost tracks bytes added since the last pass, never
                # the table. The tag rides the per-file stats fold
                # (checkpoint/restore/clone lifecycle for free; the
                # Delta export publishes only the protocol's stats keys,
                # so the engine-internal key never leaks to external
                # readers).
                files = [
                    f
                    for f in files
                    if (state.stats.get(f) or {}).get("clusteredBy") != cl_cols
                ]
                if not files:
                    return base_version  # fully clustered: no-op
        elif cl_cols and zorder_by is not None and list(zorder_by) == list(
            cl_cols
        ):
            # explicit ZORDER BY along the clustering columns still
            # counts as a clustering pass for later incremental runs
            cl_tag = list(cl_cols)
        rt_on = files and _row_tracking_on(state)
        if rt_on:
            # row tracking: the rewrite MATERIALIZES every row's stable
            # id into the _rt_row_id physical column (_rt_cow_read) —
            # positions change across a compaction, so the
            # metadata-derived form alone cannot survive it. The column
            # is physical-only: the recorded schema is unchanged and
            # plain reads never see it.
            rows = self._rt_cow_read(files, state)
        else:
            rows = (
                self._read_files(files, state, dvs=dvs)
                if files
                else self._empty(state)
            )
        if zorder_by:
            from .maintenance import zvalue

            pby, _ = state.partition()
            absent = [c for c in zorder_by if c not in rows.columns]
            if absent:
                raise ValueError(f"zorder_by columns absent from table: {absent}")
            bad = [c for c in zorder_by if c in pby]
            if bad:
                raise ValueError(
                    f"zorder_by columns {bad} are partition columns — "
                    "partitioning already clusters them"
                )
            bits = min(16, 62 // max(len(zorder_by), 1))
            grid = (1 << bits) - 1
            dtypes = dict(rows.dtypes)

            def _to_long(c: str):
                t = dtypes[c]
                if t == "date":
                    return F.datediff(F.col(c), F.lit("1970-01-01"))
                if t.startswith("timestamp"):
                    return F.unix_timestamp(F.col(c))
                if t in ("tinyint", "smallint", "int", "bigint", "float", "double") or t.startswith("decimal"):
                    return F.col(c).cast("double")
                if t == "string":
                    # prefix quantization (Delta z-orders strings the
                    # same way): first 6 UTF-8 bytes, LEFT-justified
                    # (hex rpad) so shorter strings order before their
                    # extensions, as a 48-bit integer — exactly
                    # representable in the double grid math below. A
                    # clustering heuristic only — footer min/max stay
                    # exact string envelopes, so read_where pruning is
                    # unaffected.
                    return F.conv(
                        F.rpad(
                            F.hex(
                                F.substring(F.encode(F.col(c), "UTF-8"), 1, 6)
                            ),
                            12,
                            "0",
                        ),
                        16,
                        10,
                    ).cast("double")
                raise ValueError(f"zorder_by on {c}: {t} has no locality-preserving quantization")

            longs = {c: _to_long(c) for c in zorder_by}
            # one bounded scalar collect: per-column min/max for grid scaling
            aggs = []
            for c in zorder_by:
                aggs += [F.min(longs[c]).alias(f"__lo_{c}"), F.max(longs[c]).alias(f"__hi_{c}")]
            row = rows.agg(*aggs).collect()[0]
            quantized = []
            for c in zorder_by:
                lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
                if lo is None or hi is None or float(hi) == float(lo):
                    quantized.append(F.lit(0).cast("long"))
                else:
                    quantized.append(
                        F.floor(
                            (longs[c].cast("double") - F.lit(float(lo)))
                            * F.lit(float(grid))
                            / F.lit(float(hi) - float(lo))
                        ).cast("long")
                    )
            z = zvalue(quantized, bits=bits)
            keys = [F.col(c) for c in pby] + [F.col("__z")]
            rows = (
                rows.withColumn("__z", z)
                .repartitionByRange(target_files, *keys)
                .sortWithinPartitions(*keys)
                .drop("__z")
            )
        else:
            rows = rows.coalesce(target_files)
        # logical no-op: rows unchanged, every CHECK already holds
        adds = self._write_data(rows, state, _validate=False)
        stats = None
        if cl_tag is not None and adds:
            # stamp the clustering tag alongside the normal footer stats
            # (supplied entries are trusted as-given by _try_commit)
            stats = {}
            for f in adds:
                d = footer_stats_dict(os.path.join(self.path, f)) or {}
                d["clusteredBy"] = list(cl_tag)
                stats[f] = d
        try:
            # a compaction is ROW-PRESERVING, so rebasing over blind
            # appends is correct under ANY isolation level (Delta's own
            # conflict rule: OPTIMIZE conflicts only on overlapping file
            # removal) — _rebase_always skips the property gate; a busy
            # ingest stream no longer forces the whole rewrite to rerun
            return self._commit_dml(
                state,
                _rebase_always=True,
                adds=adds, removes=files,
                op="optimize", schema=state.schema or rows.schema.json(),
                stats=stats,
            )
        except CommitConflict:
            for f in adds:
                os.remove(os.path.join(self.path, f))
            raise

    # ------------------------------------------------------- delta interop

    def restore(self, version: int, max_retries: int = 3) -> int:
        """Delta's ``RESTORE TABLE ... TO VERSION AS OF``: make the live
        snapshot equal ``version``'s file set (and recorded schema) with
        ONE metadata commit — adds = that version's files missing from
        live, removes = live files not in it. No data is copied or
        rewritten, so restore is O(changed files) driver-side JSON at any
        table size, and the restore itself is a normal commit: history is
        preserved, time travel still shows the pre-restore states, and a
        bad restore is undone by another restore. Requires the target
        version's files to still exist (within the vacuum horizon) —
        raises FileNotFoundError naming the missing files otherwise.
        Like Delta's RESTORE, table METADATA is restored too: the
        recorded schema AND the CHECK-constraint set revert to the
        target version's (the restore commit carries a ``checks_reset``
        action that :meth:`checks` and the Delta export fold in) —
        otherwise restoring past an add_column would leave a live check
        referencing a column the schema no longer has, and every
        subsequent validated write would die on an unresolved column."""
        version = int(version)
        if not 0 <= version <= self.version():
            raise ValueError(f"version {version} does not exist")
        tgt = self._snapshot(as_of=version)
        want, want_dvs = tgt.files, tgt.dvs
        # DV sidecars the target version reads through must exist too
        want_with_sidecars = sorted(
            set(want) | {d["sidecar"] for d in want_dvs.values()}
        )
        for _attempt in range(max_retries + 1):
            # existence check per attempt, after capturing the base: a
            # vacuum running between a one-shot check and the commit
            # could delete target files and leave the restored snapshot
            # referencing them. A vacuum racing INSIDE this narrower
            # window remains possible (vacuum takes no lock) — the
            # operational guard is tagging snapshots you must restore to
            # (tags pin files against vacuum regardless of retention).
            gone = [
                f
                for f in want_with_sidecars
                if not os.path.exists(os.path.join(self.path, f))
            ]
            if gone:
                raise FileNotFoundError(
                    f"cannot restore to version {version}: {len(gone)} of "
                    f"its files were vacuumed (first: {gone[0]})"
                )
            cur = self._snapshot()
            adds = sorted(tgt.live - cur.live)
            removes = sorted(cur.live - tgt.live)
            # deletion-vector state reverts wholesale with the file set
            # ({} = explicit no-DVs) — rows a later DV deleted resurrect;
            # per-file stats revert the same way (re-added old files get
            # their original envelopes back without a footer re-read)
            extra: dict = {
                "checks_reset": dict(tgt.checks),
                "dvs_reset": dict(want_dvs),
                "stats_reset": dict(tgt.stats),
                # table properties revert with the rest of the metadata
                # (Delta RESTORE restores table configuration too)
                "properties_reset": dict(tgt.properties),
                "clustering": list(tgt.clustering),
            }
            # row-tracking bases revert with the file set — a re-added
            # file's rows get their ORIGINAL ids back — but the watermark
            # stays monotone across the restore (Delta's rule: ids
            # assigned after the target version are never reused)
            if tgt.row_hw >= 0 or cur.row_hw >= 0:
                extra["row_base_reset"] = {
                    f: tgt.row_bases[f] for f in want if f in tgt.row_bases
                }
                extra["row_hw"] = max(tgt.row_hw, cur.row_hw)
            if tgt.schema is not None:
                extra["schema"] = tgt.schema
            # the column mapping reverts with the schema ({} = explicit
            # identity, for a restore to a pre-mapping version); only
            # recorded when it actually differs, so never-mapped tables
            # stay out of mapping mode
            if cur.mapping != tgt.mapping:
                extra["column_mapping"] = tgt.mapping or {}
            try:
                self._try_commit(
                    cur.version + 1, adds=adds, removes=removes,
                    op="restore", extra=extra, snap=cur,
                )
                return cur.version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"restore gave up after {max_retries} retries")

    def clone(self, dest_path: str) -> "TxLogTable":
        """``CREATE TABLE ... CLONE`` (Delta's zero-copy clone): a new
        independent table at ``dest_path`` whose version 0 is this
        table's live snapshot — NO data is copied. Files are HARDLINKED
        (the local-FS realization of a shallow clone's by-reference
        files; an object-store implementation would record absolute URIs
        in the log instead). Independence is safe because data files are
        immutable by construction: every writer path here is
        copy-on-write (new files only) and vacuum's delete merely
        unlinks one table's directory entry — so DML, OPTIMIZE, or
        vacuum on either table leaves the other byte-identical, which is
        exactly the clone-for-experiments contract (test a risky
        migration on the clone, keep serving from the source).

        Full table METADATA carries over: recorded schema, partition
        spec, and the active CHECK-constraint set (via a commit-0
        ``checks_reset``). History does NOT carry over — the clone
        starts at version 0 with no tags, Delta's clone semantics.
        Driver-side cost is O(live files) link syscalls, zero bytes
        moved at any table size."""
        import shutil

        dest = TxLogTable(self.spark, dest_path)
        # all metadata from ONE snapshot: a writer committing meanwhile
        # cannot produce a torn clone (v files under v+1 schema/checks)
        state = self._snapshot()
        version, files, clone_dvs = state.version, state.files, dict(state.dvs)
        pby, pschema = state.partition()
        os.makedirs(dest.log_dir, exist_ok=False)  # loudly refuse overwrite
        # deletion-vector sidecars travel with the data files (paths in
        # descriptors are table-relative, so they stay valid)
        sidecars = sorted({d["sidecar"] for d in clone_dvs.values()})
        for f in files + sidecars:
            src = os.path.join(self.path, f)
            dst = os.path.join(dest.path, f)
            os.makedirs(os.path.dirname(dst) or dest.path, exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback
        # stats carry over by reference (files are the same bytes) —
        # commit 0 re-records them without re-reading any footer
        clone_stats = {f: s for f, s in state.stats.items() if f in state.live}
        # row-tracking state carries over BY VALUE: the files are the
        # same bytes, so their materialized _rt_row_id columns hold the
        # SOURCE's ids — re-assigning fresh bases at commit 0 would mix
        # two id spaces (materialized ids win via coalesce and could
        # collide with freshly-derived ones). Carrying bases + watermark
        # keeps every id identical to the source and fences the clone's
        # future appends beyond them.
        clone_rt = (
            {
                "row_base_reset": {
                    f: state.row_bases[f] for f in files if f in state.row_bases
                },
                "row_hw": state.row_hw,
            }
            if state.row_hw >= 0
            else {}
        )
        dest._try_commit(
            0,
            adds=files,
            removes=[],
            op="clone",
            extra={
                **({"stats": clone_stats} if clone_stats else {}),
                **clone_rt,
                "partition_by": pby,
                "partition_schema": pschema.json() if pby else None,
                "schema": state.schema,
                "checks_reset": dict(state.checks),
                "properties_reset": dict(state.properties),
                **({"dvs": clone_dvs} if clone_dvs else {}),
                # a column-mapped source's files carry physical names —
                # the clone must read them under the same mapping
                **(
                    {"column_mapping": state.mapping}
                    if state.mapping is not None
                    else {}
                ),
                "cloned_from": {"path": self.path, "version": version},
            },
        )
        return dest

    # ---------------------------------------------------- refs (tags)

    _REF_NAME = r"[A-Za-z0-9][A-Za-z0-9._-]*"

    def tag(self, name: str, version: int | None = None) -> int:
        """Create an IMMUTABLE named tag at ``version`` (default: latest)
        — Iceberg's tag ref: a human-readable time-travel anchor that
        also PINS the version's files against :meth:`vacuum` regardless
        of the retain_versions window (the actual operational point:
        "keep the snapshot we trained v1 on" must survive routine
        retention). O_EXCL create — re-tagging an existing name fails
        loudly; delete + re-create is an explicit two-step."""
        import re as _re

        if not _re.fullmatch(self._REF_NAME, name):
            raise ValueError(f"invalid tag name: {name!r}")
        v = self.version() if version is None else int(version)
        if not 0 <= v <= self.version():
            raise ValueError(f"version {v} does not exist")
        refs = os.path.join(self.log_dir, "refs")
        os.makedirs(refs, exist_ok=True)
        ref = os.path.join(refs, f"{name}.json")
        if not self.arbiter.put_if_absent(ref, json.dumps({"version": v})):
            raise FileExistsError(f"tag {name!r} already exists")
        return v

    def tags(self) -> dict[str, int]:
        refs = os.path.join(self.log_dir, "refs")
        if not os.path.isdir(refs):
            return {}
        out = {}
        for f in sorted(os.listdir(refs)):
            if f.endswith(".json"):
                with open(os.path.join(refs, f)) as fh:
                    out[f[:-5]] = json.load(fh)["version"]
        return out

    def read_tag(self, name: str) -> DataFrame:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}; have {sorted(tags)}")
        return self.read_version(tags[name])

    def drop_tag(self, name: str) -> None:
        # same name guard as tag(): without it a traversal name like
        # "../000000000005" resolves outside refs/ and deletes a COMMIT
        # file — a hole in the version sequence that replay cannot detect
        import re as _re

        if not _re.fullmatch(self._REF_NAME, name):
            raise ValueError(f"invalid tag name: {name!r}")
        try:
            os.remove(os.path.join(self.log_dir, "refs", f"{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r}; have {sorted(self.tags())}")

    # ---------------------------------------------- CHECK constraints

    def checks(self, as_of: int | None = None) -> dict[str, str]:
        """Active CHECK constraints (name -> SQL expr) at ``as_of``
        (default: latest) — add_check/drop_check commits folded in
        version order, bootstrapped by any ``checks_reset`` snapshot
        (restore commits and metadata-complete checkpoints carry one, so
        the fold survives log cleanup)."""
        return dict(self._snapshot(as_of).checks)

    def identity_meta(self, as_of: int | None = None) -> dict[str, dict]:
        """Identity columns (name -> {start, step, hw}) at ``as_of``,
        from the recorded schema's ``delta.identity.*`` field metadata.
        ``hw`` is the high watermark (None before the first assignment);
        like generation expressions, the schema fold carries identity
        state through evolution, restore, checkpoints, and adoption."""
        return _identity_of(self._snapshot(as_of).schema)

    @staticmethod
    def _assign_identity(df: DataFrame, meta: dict[str, dict]) -> DataFrame:
        """Assign identity values to ``df``: ``base + step * mid`` where
        ``mid`` is ``monotonically_increasing_id()`` — every value is a
        step-multiple offset from start and strictly beyond the high
        watermark (Delta's GENERATED ALWAYS AS IDENTITY contract: unique
        and monotonic in commit order, GAPS ALLOWED — which is what makes
        assignment embarrassingly parallel: no global row numbering, no
        coordination beyond the per-commit watermark)."""
        for c, m in meta.items():
            base = (
                m["start"] if m["hw"] is None else m["hw"] + m["step"]
            )
            df = df.withColumn(
                c,
                (
                    F.lit(base)
                    + F.lit(m["step"]) * F.monotonically_increasing_id()
                ).cast("long"),
            )
        return df

    def _identity_new_hw(
        self, adds: list[str], meta: dict[str, dict]
    ) -> tuple[dict[str, int], dict[str, dict]]:
        """New high watermarks after writing ``adds``: the furthest
        assigned value per identity column, read from the new files'
        parquet FOOTER STATS (no data scan — the stats are already
        computed by the write). Also returns those stats entries, for
        the commit to record instead of opening each footer again."""
        hws: dict[str, int] = {}
        stats: dict[str, dict] = {}
        for f in adds:
            d = stats[f] = footer_stats_dict(os.path.join(self.path, f))
            for c, m in meta.items():
                key = "maxValues" if m["step"] > 0 else "minValues"
                v = (d.get(key) or {}).get(c)
                if v is None:
                    raise ValueError(
                        f"identity column {c!r}: no footer min/max in "
                        f"{f} — cannot advance the high watermark"
                    )
                cur = hws.get(c)
                far = max if m["step"] > 0 else min
                hws[c] = int(v) if cur is None else far(cur, int(v))
        return hws, stats

    # ------------------------------------------------------- row tracking

    def row_tracking_enabled(self, as_of: int | None = None) -> bool:
        return _row_tracking_on(self._snapshot(as_of))

    def row_tracking_meta(
        self, as_of: int | None = None
    ) -> tuple[dict[str, int], int]:
        """Row-tracking state at ``as_of``: ``({rel_path: baseRowId},
        high_watermark)`` — Delta's rowTracking representation. A file's
        base row id is assigned by the commit that ADDS it (or by the
        property commit's backfill); a fresh row's id is ``base +
        in-file row index`` — METADATA-derived, zero data writes. The
        fold: checkpoints carry ``row_base_state``, ``row_base_reset``
        (restore) replaces the bases, ``row_base`` deltas add to them;
        the watermark is monotone (max recorded ``row_hw``) — it never
        regresses, even across restore, Delta's own rule."""
        s = self._snapshot(as_of)
        return dict(s.row_bases), s.row_hw

    def _rt_cow_read(self, files: list[str], snap: Snapshot) -> DataFrame:
        """Touched-file read for a COPY-ON-WRITE rewrite on a
        row-tracking table: every row comes back carrying its CONCRETE
        stable id as an ordinary column (``_rt_row_id`` — materialized
        value if the file has one, else its file's base + in-file row
        index). The rewrite then simply WRITES that column: surviving
        rows keep their old ids BY VALUE in the new files (positions
        change across a rewrite, so the metadata-derived form alone
        cannot survive one — the public Delta rowTracking COW design),
        while freshly-inserted rows carry NULL and derive ids from the
        new file's commit-assigned base + index at read. One broadcast
        (basename -> base) map, O(touched files) — no shuffle, no global
        numbering."""
        from pyspark.sql.types import LongType, StructField

        scan = self._scan_with_filepath(
            files,
            snap,
            dvs=snap.dvs,
            extra_fields=[StructField(_ROW_ID_PHYS, LongType(), True)],
        )
        data_cols = [
            c
            for c in scan.columns
            if c not in ("__file", "__ridx", _ROW_ID_PHYS)
        ]
        return self._rt_attach(scan, files, snap.row_bases, _ROW_ID_PHYS).select(
            *data_cols, _ROW_ID_PHYS
        )

    def _rt_attach(
        self,
        scan: DataFrame,
        files: list[str],
        bases: dict[str, int],
        alias: str,
    ) -> DataFrame:
        """``scan`` (a :meth:`_scan_with_filepath` frame, optionally
        carrying the materialized ``_rt_row_id`` field) plus a concrete
        row-id column ``alias`` = ``coalesce(materialized, base + row
        index)`` via ONE broadcast (basename -> base) map — O(live
        files) rows, the same metadata-plane size as the file list
        itself. Spark-written layouts have unique basenames; colliding
        foreign-adopted layouts refuse (v1 scope)."""
        names: dict[str, int] = {}
        for f in files:
            b = f.rsplit("/", 1)[-1]
            if b in names:
                raise ValueError(
                    "row tracking: colliding data-file basenames "
                    f"({b!r}) are unsupported — rewrite the layout "
                    "(OPTIMIZE) first"
                )
            if f not in bases:
                raise ValueError(
                    f"row tracking state missing for file {f!r} — the "
                    "log records no baseRowId for it"
                )
            names[b] = int(bases[f])
        bmap = F.broadcast(
            local_df(self.spark, 
                list(names.items()), "__rtf string, __rtbase long"
            )
        )
        mat = (
            F.col(_ROW_ID_PHYS)
            if _ROW_ID_PHYS in scan.columns
            else F.lit(None).cast("long")
        )
        return (
            scan.withColumn(
                "__rtf", F.element_at(F.split(F.col("__file"), "/"), -1)
            )
            .join(bmap, "__rtf", "left")
            .withColumn(
                alias, F.coalesce(mat, F.col("__rtbase") + F.col("__ridx"))
            )
            .drop("__rtf", "__rtbase")
        )

    def read_with_row_ids(self, as_of: int | None = None) -> DataFrame:
        """Table read plus ``_row_id`` — Delta rowTracking's STABLE row
        identity: a row keeps its id across merge-on-read UPDATE/MERGE
        (post-images carry it in the materialized column), OPTIMIZE
        (the rewrite materializes ids), and RESTORE (bases revert with
        the file set; the watermark stays monotone). Fresh rows derive
        ids from their file's baseRowId + in-file row index — no global
        numbering, no shuffle, same parallel-assignment shape as
        identity columns."""
        from pyspark.sql.types import LongType, StructField, StructType

        snap = self._snapshot(as_of)
        if not _row_tracking_on(snap):
            raise ValueError(
                "row tracking is not enabled — ALTER TABLE SET "
                "TBLPROPERTIES ('delta.enableRowTracking'='true') first "
                "(the property commit backfills existing files)"
            )
        files = snap.files
        data_cols = [
            f.name
            for f in StructType.fromJson(json.loads(snap.schema)).fields
        ]
        if not files:
            return self._empty(snap).withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        scan = self._scan_with_filepath(
            files,
            snap,
            dvs=snap.dvs,
            extra_fields=[StructField(_ROW_ID_PHYS, LongType(), True)],
        )
        return self._rt_attach(scan, files, snap.row_bases, "_row_id").select(
            *data_cols, "_row_id"
        )

    def generated_exprs(self, as_of: int | None = None) -> dict[str, str]:
        """Generated columns (name -> generation SQL expr) at ``as_of``,
        read from the recorded schema's ``delta.generationExpression``
        field metadata — the schema fold already survives evolution,
        restore, checkpoints, and adoption, so generation needs no fold
        of its own. {} for tables without generated columns."""
        return _generated_of(self._snapshot(as_of).schema)

    def add_check(self, name: str, expr: str, max_retries: int = 3) -> int:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)`` (Delta's
        constraint surface): recorded in the log as its own commit and
        enforced on every subsequent data-adding write (one pushed-down
        scan of the NEW files only — never the table; see
        :meth:`_write_data`). Existing rows are validated first, so a
        constraint can never be born already-violated. SQL CHECK
        semantics: NULL passes, only FALSE violates."""
        import re as _re

        if not _re.fullmatch(self._REF_NAME, name):
            raise ValueError(f"invalid constraint name: {name!r}")
        for _attempt in range(max_retries + 1):
            # validate INSIDE the retry loop, after capturing the base
            # version: the scan then covers every commit <= base, and a
            # write landing after base forces CommitConflict on ours —
            # which re-validates. Validating once up front leaves a
            # window where a concurrent append commits rows the scan
            # never saw and the constraint is born already-violated.
            snap = self._snapshot()
            base_version = snap.version
            bad = (
                self._rows(snap)
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise CheckViolation(
                    f"existing rows violate CHECK {name}: {expr}"
                )
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[], op="add_check",
                    extra={"check": {"name": name, "expr": expr}},
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"add_check gave up after {max_retries} retries")

    def add_column(self, name: str, dtype, max_retries: int = 3) -> int:
        """``ALTER TABLE ADD COLUMN`` as a METADATA-ONLY commit: the
        widened schema is recorded on the commit and every existing file
        null-fills the new column at read time (the same mechanism that
        serves pre-evolution files after ``merge_into_txlog(...,
        evolve_schema=True)``) — zero data rewritten, O(1) regardless of
        table size, exactly Delta's ADD COLUMNS. Time travel is exact:
        reads at earlier versions use that version's recorded schema, so
        the column simply doesn't exist before this commit. ``dtype`` is
        a Spark DataType or DDL string ("decimal(12,2)")."""
        from pyspark.sql.types import StructType, _parse_datatype_string

        if isinstance(dtype, str):
            dtype = _parse_datatype_string(dtype)
        for _attempt in range(max_retries + 1):
            # payload recomputed per attempt — see rename_column
            snap = self._snapshot()
            base_version, schema_json = snap.version, snap.schema
            if schema_json is None:
                raise ValueError(
                    "add_column requires a recorded schema (legacy log: "
                    "run one write to record it first)"
                )
            schema = StructType.fromJson(json.loads(schema_json))
            if name in schema.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            extra: dict = {"schema": schema.add(name, dtype, nullable=True).json()}
            mapping = snap.mapping
            if mapping:
                # column-mapping mode (a rename/drop happened): the new
                # column writes under a FRESH physical name — if it
                # reuses a previously-dropped logical name, the dropped
                # files' old physical column must NOT resurrect (Delta's
                # re-add rule)
                mapping = dict(mapping)
                mapping[name] = f"col_{uuid.uuid4().hex[:12]}"
                extra["column_mapping"] = mapping
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[], op="add_column",
                    extra=extra,
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"add_column gave up after {max_retries} retries")

    def cluster_by(self, cols: list[str], max_retries: int = 3) -> int:
        """``ALTER TABLE ... CLUSTER BY (c1, c2)`` — Delta's CLUSTERED
        TABLE surface (the ``clustering`` writer feature + the
        ``delta.clustering`` domain): ONE metadata commit records the
        clustering columns; :meth:`optimize` then defaults its Z-order
        to them, so ``OPTIMIZE t`` re-clusters without restating the
        columns — the operational shape of Delta's liquid clustering
        (this engine's physical realization is the Morton-curve rewrite
        optimize already has; Delta's incremental ZCube maintenance is
        an optimization of WHEN to rewrite, not of the layout contract).
        ``CLUSTER BY ()`` (empty list) un-clusters. Columns must
        exist, and PARTITIONED tables refuse clustering entirely —
        Delta disallows the combination (either alone is fine), and a
        mirrored _delta_log carrying both partitionColumns and a
        delta.clustering domain is a table external engines reject
        (review finding, round 12 — previously only overlapping
        columns were refused). Recorded clustering survives
        checkpoints/cleanup (the
        metadata-complete snapshot carries it) and reverts with RESTORE;
        the Delta export mirrors it as the ``delta.clustering``
        domainMetadata action."""
        from pyspark.sql.types import StructType

        cols = [str(c) for c in cols]
        for _attempt in range(max_retries + 1):
            snap = self._snapshot()
            base_version, sj = snap.version, snap.schema
            if sj is None:
                raise ValueError("cluster_by requires a recorded schema")
            names = StructType.fromJson(json.loads(sj)).fieldNames()
            missing = [c for c in cols if c not in names]
            if missing:
                raise ValueError(
                    f"clustering column(s) {missing} absent from table"
                )
            pby, _ps = snap.partition()
            if pby and cols:
                raise ValueError(
                    "cluster_by refused: the table is partitioned by "
                    f"{pby} and Delta tables take clustering OR "
                    "partitioning, not both — the exported _delta_log "
                    "could not legally express the combination"
                )
            try:
                self._try_commit(
                    base_version + 1,
                    adds=[],
                    removes=[],
                    op="cluster_by",
                    extra={"clustering": cols},
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"cluster_by gave up after {max_retries} retries"
        )

    def clustering_columns(self, as_of: int | None = None) -> list[str]:
        """The clustering columns at ``as_of`` ([] = unclustered) —
        newest commit carrying a ``clustering`` payload (latest-wins,
        the schema fold's lifecycle: metadata-complete checkpoints
        snapshot it, so the fold survives log cleanup)."""
        return list(self._snapshot(as_of).clustering)

    def alter_column_type(
        self, name: str, dtype, max_retries: int = 3
    ) -> int:
        """``ALTER TABLE ... ALTER COLUMN c TYPE <wider>`` — Delta's TYPE
        WIDENING (the ``typeWidening`` table feature): a METADATA-ONLY
        commit records the widened schema; existing files keep their
        narrow physical type and every reader upcasts at scan time
        (Spark 4's parquet reader resolves int32 under a LONG/DOUBLE/
        DECIMAL requested schema natively — verified, no rewrite, O(1)
        at any table size). Requires the ``delta.enableTypeWidening``
        table property, like Delta. The widening matrix is Delta's:
        byte/short/int -> (long | double | decimal(>=10+digits,0)),
        long -> decimal(>=20 digits, 0), float -> double,
        date -> timestamp_ntz, decimal(p,s) -> decimal(p',s') with
        p'-s' >= p-s and s' >= s (integer digits never shrink).

        The type change is recorded in the field's
        ``delta.typeChanges`` metadata ({fromType, toType}) — the
        STABLE typeWidening feature's representation (per the Delta
        spec, ``tableVersion`` belongs only to the retired
        typeWidening-preview feature; stable entries carry the type
        pair alone, and strict external readers reject extras) — so the
        export carries it and external readers know files may predate
        the widening. Time travel is exact: earlier versions read under
        their own recorded (narrow) schema."""
        from pyspark.sql.types import (
            DecimalType,
            StructField,
            StructType,
            _parse_datatype_string,
        )

        if isinstance(dtype, str):
            dtype = _parse_datatype_string(dtype)
        if self.properties().get("delta.enableTypeWidening") != "true":
            raise ValueError(
                "type widening requires the delta.enableTypeWidening "
                "table property — ALTER TABLE ... SET TBLPROPERTIES "
                "('delta.enableTypeWidening'='true') first"
            )

        def _widens(frm, to) -> bool:
            f, t = frm.typeName(), to.typeName()
            ladder = {
                "byte": {"short", "integer", "long", "double"},
                "short": {"integer", "long", "double"},
                "integer": {"long", "double"},
                "float": {"double"},
                "date": {"timestamp_ntz"},
            }
            if t in ladder.get(f, ()):
                return True
            if isinstance(to, DecimalType):
                digits = {"byte": 3, "short": 5, "integer": 10, "long": 20}
                if f in digits:
                    return to.scale >= 0 and (
                        to.precision - to.scale >= digits[f]
                    )
                if isinstance(frm, DecimalType):
                    return (
                        to.scale >= frm.scale
                        and to.precision - to.scale
                        >= frm.precision - frm.scale
                        and (to.precision, to.scale)
                        != (frm.precision, frm.scale)
                    )
            return False

        for _attempt in range(max_retries + 1):
            snap = self._snapshot()
            base_version, schema_json = snap.version, snap.schema
            if schema_json is None:
                raise ValueError(
                    "alter_column_type requires a recorded schema"
                )
            schema = StructType.fromJson(json.loads(schema_json))
            if name not in schema.fieldNames():
                raise ValueError(f"column {name!r} does not exist")
            if name in snap.partition()[0]:
                raise ValueError(
                    f"cannot widen partition column {name!r}: directory "
                    "values are serialized under the original type"
                )
            if name in _identity_of(schema_json):
                raise ValueError(
                    f"identity column {name!r} must stay BIGINT"
                )
            if name in _generated_of(schema_json):
                raise ValueError(
                    f"generated column {name!r}: its type derives from "
                    "the generation expression — widen the sources"
                )
            old = schema[name]
            if not _widens(old.dataType, dtype):
                raise ValueError(
                    f"{old.dataType.simpleString()} -> "
                    f"{dtype.simpleString()} is not a supported WIDENING "
                    "(narrowing and cross-family changes rewrite data — "
                    "out of scope by design, same as Delta)"
                )
            md = dict(old.metadata or {})
            changes = list(md.get("delta.typeChanges") or [])
            changes.append(
                {
                    "fromType": old.dataType.simpleString(),
                    "toType": dtype.simpleString(),
                }
            )
            md["delta.typeChanges"] = changes
            fields = [
                StructField(name, dtype, f.nullable, md)
                if f.name == name
                else f
                for f in schema.fields
            ]
            try:
                self._try_commit(
                    base_version + 1,
                    adds=[],
                    removes=[],
                    op="alter_column_type",
                    extra={"schema": StructType(fields).json()},
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"alter_column_type gave up after {max_retries} retries"
        )

    def _column_mapping_guards(
        self, name: str, op: str, snap: Snapshot
    ) -> "object":
        """Shared preconditions for rename/drop: column exists, is not a
        partition column (partition dirs embed the name — a metadata-only
        rename cannot hold), and no active CHECK references it (the
        constraint expr would silently dangle). Returns the current
        logical StructType."""
        import re as _re

        from pyspark.sql.types import StructType

        schema_json = snap.schema
        if schema_json is None:
            raise ValueError(
                f"{op} requires a recorded schema (legacy log: run one "
                "write to record it first)"
            )
        schema = StructType.fromJson(json.loads(schema_json))
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r}")
        if name in snap.partition()[0]:
            raise ValueError(
                f"{op} of partition column {name!r} refused: hive "
                "directory names embed it — a metadata-only change "
                "cannot hold"
            )
        referencing = [
            n
            for n, e in snap.checks.items()
            if _re.search(rf"\b{_re.escape(name)}\b", e)
        ]
        if referencing:
            raise ValueError(
                f"{op} of {name!r} refused: CHECK constraint(s) "
                f"{referencing} reference it — drop them first"
            )
        gen_refs = [
            c
            for c, e in _generated_of(schema_json).items()
            if c != name and _re.search(rf"\b{_re.escape(name)}\b", e)
        ]
        if gen_refs:
            raise ValueError(
                f"{op} of {name!r} refused: generated column(s) "
                f"{gen_refs} derive from it — their expressions would "
                "silently dangle"
            )
        if name in snap.clustering:
            # a stale clustering list would make bare OPTIMIZE (which
            # defaults zorder_by to the recorded columns) fail on a
            # nonexistent name, and the Delta export would keep
            # mirroring a delta.clustering domain external engines
            # resolve against nothing (review finding, round 11)
            raise ValueError(
                f"{op} of {name!r} refused: it is a clustering column "
                "— re-cluster first (cluster_by without it)"
            )
        return schema

    def rename_column(
        self, old: str, new: str, max_retries: int = 3
    ) -> int:
        """``ALTER TABLE RENAME COLUMN`` as a METADATA-ONLY commit via
        column mapping (Delta's columnMapping=name design, reference
        Delta PROTOCOL 'Column Mapping'): the LOGICAL name changes; the
        PHYSICAL parquet column name stays, so ZERO files are rewritten
        at any table size. Reads select physical names and alias back;
        writes rename logical -> physical at the :meth:`_write_data`
        chokepoint. Time travel is exact: reads at earlier versions use
        that version's recorded schema AND mapping. The native reader,
        change feed, txlog DataSource, and the Delta export (protocol
        reader 2 / writer 5 with per-field physicalName metadata) all
        honor the mapping."""
        import re as _re

        from pyspark.sql.types import StructField, StructType

        # names outside this shape break F.col() resolution at the
        # _write_data mapping chokepoint (dots parse as struct access)
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name: {new!r}")
        for _attempt in range(max_retries + 1):
            # payload recomputed per attempt (like restore): committing a
            # pre-conflict schema/mapping would silently erase whatever
            # the winning commit changed (e.g. a concurrent add_column)
            snap = self._snapshot()
            base_version = snap.version
            schema = self._column_mapping_guards(old, "rename_column", snap)
            if new in schema.fieldNames():
                raise ValueError(f"column {new!r} already exists")
            mapping = snap.mapping
            mapping = (
                {f.name: f.name for f in schema.fields}
                if mapping is None
                else dict(mapping)
            )
            mapping[new] = mapping.pop(old)
            new_schema = StructType(
                [
                    StructField(
                        new if f.name == old else f.name,
                        f.dataType,
                        f.nullable,
                        f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[],
                    op="rename_column",
                    extra={
                        "schema": new_schema.json(),
                        "column_mapping": mapping,
                    },
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"rename_column gave up after {max_retries} retries"
        )

    def drop_column(self, name: str, max_retries: int = 3) -> int:
        """``ALTER TABLE DROP COLUMN`` as a METADATA-ONLY commit: the
        logical binding disappears; the physical data stays in existing
        files (invisible — reads never select it) and vanishes
        physically as copy-on-write rewrites retire those files. Time
        travel before the drop still shows the column. Re-adding the
        same logical name later maps to a FRESH physical name (see
        :meth:`add_column`), so the dropped values can never
        resurrect."""
        from pyspark.sql.types import StructType

        for _attempt in range(max_retries + 1):
            # payload recomputed per attempt — see rename_column
            snap = self._snapshot()
            base_version = snap.version
            schema = self._column_mapping_guards(name, "drop_column", snap)
            if len(schema.fields) == 1:
                raise ValueError("cannot drop the only column")
            mapping = snap.mapping
            mapping = (
                {f.name: f.name for f in schema.fields}
                if mapping is None
                else dict(mapping)
            )
            mapping.pop(name, None)
            new_schema = StructType(
                [f for f in schema.fields if f.name != name]
            )
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[],
                    op="drop_column",
                    extra={
                        "schema": new_schema.json(),
                        "column_mapping": mapping,
                    },
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"drop_column gave up after {max_retries} retries"
        )

    def drop_check(self, name: str, max_retries: int = 3) -> int:
        if name not in self.checks():
            raise KeyError(f"no CHECK constraint {name!r}")
        for _attempt in range(max_retries + 1):
            # capture the base per attempt and return base + 1 — the
            # committed version (re-reading the log after the commit
            # could return a CONCURRENT writer's later version instead)
            base_version = self.version()
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[], op="drop_check",
                    extra={"check": {"name": name}},
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"drop_check gave up after {max_retries} retries")

    # ------------------------------------------- isolation / retry-rebase

    def _rebase_base(self, base_version: int) -> int | None:
        """WriteSerializable retry-rebase (the Delta paper's §3.3 logical
        conflict check, Delta's ``delta.isolationLevel`` semantics): when
        EVERY commit that landed after ``base_version`` is a blind append
        — op 'append', adds only, no removes/DVs/metadata, not a
        checkpoint — a DML/MERGE loser may
        re-commit its already-written result at the new head WITHOUT
        recomputation: the appends commute with it (their rows were
        invisible to the DML's snapshot, and WriteSerializable permits
        ordering them after the DML). Returns the new base version, or
        None when any interleaved commit is not a blind append — the
        caller then recomputes against the fresh snapshot, which is the
        Serializable behavior and the DEFAULT (Delta defaults to
        WriteSerializable; this engine keeps the stricter default and
        makes the relaxation an explicit property opt-in).

        At 1000 concurrent writers this is the difference between a DML
        whose cost is O(its own work) and one that re-runs its scans and
        rewrites for every append that slips in front of it."""
        # purely STRUCTURAL check — the isolation-property gate lives in
        # _commit_dml (loop-invariant there: any interleaved
        # set_properties commit has op != 'append' and blocks the rebase
        # anyway). Latest version via one listdir, not a full log fold.
        latest = self.version()
        for v in range(base_version + 1, latest + 1):
            try:
                with open(
                    os.path.join(self.log_dir, _commit_name(v))
                ) as fh:
                    c = json.load(fh)
            except OSError:
                return None
            if (
                c.get("op") != "append"
                or c.get("removes")
                or c.get("dvs")
                or c.get("dvs_reset") is not None
                or c.get("checkpoint")
            ):
                return None
            # an interleaved append MAY carry a streaming-txn marker —
            # it only matters to txn-marked commits, and those never
            # rebase (_commit_dml re-raises so the idempotency check
            # re-runs); a streaming ingest's append stream is exactly
            # the contention this rebase exists for
        return latest

    # rebase retries are cheap (one listdir + O(interleaved commits)
    # small-JSON reads, no recompute) but MUST be bounded: a sustained
    # append stream could otherwise livelock the DML past its own
    # max_retries contract — 64 lost version races in a row means the
    # caller should surface the contention, not spin
    _REBASE_MAX = 64

    def _commit_dml(
        self, snap: Snapshot, _rebase_always: bool = False, **kw
    ) -> int:
        """:meth:`commit` of a payload computed on ``snap`` (the base
        version) plus the WriteSerializable retry-rebase: on
        CommitConflict, re-commit the SAME payload at the new head when
        :meth:`_rebase_base` allows it; otherwise re-raise so the caller
        recomputes. txn-marked commits never rebase — the idempotency
        check must re-run against the interleaved commits (a racing
        instance of the same batch may have landed one).
        ``_rebase_always`` skips the isolation-property gate for
        ROW-PRESERVING commits (OPTIMIZE), whose append-rebase is
        correct under any isolation level. The property gate resolves
        ONCE per call (loop-invariant: an interleaved set_properties
        commit is not a blind append, so it blocks the rebase anyway)."""
        iso_ok = _rebase_always or (
            snap.properties.get("delta.isolationLevel", "Serializable").lower()
            == "writeserializable"
        )
        kw["base_version"] = snap.version
        for _attempt in range(self._REBASE_MAX):
            try:
                return self.commit(**kw)
            except CommitConflict:
                if kw.get("txn") is not None:
                    raise
                if kw.get("schema") is not None and _identity_of(snap.schema):
                    # identity watermark staleness: an interleaved blind
                    # append may have advanced a high watermark, and re-
                    # committing our captured schema at a newer version
                    # would REGRESS it in the latest-wins fold (the next
                    # append would assign duplicate ids). Recompute from
                    # the new head instead of rebasing.
                    raise
                if not iso_ok:
                    raise
                nb = self._rebase_base(kw["base_version"])
                if nb is None:
                    raise
                kw["base_version"] = nb
        raise CommitConflict(
            f"rebase lost {self._REBASE_MAX} version races in a row — "
            "sustained write contention; retry or batch the appends"
        )

    # --------------------------------------------------- table properties

    def properties(self, as_of: int | None = None) -> dict[str, str]:
        """Table properties (Delta's TBLPROPERTIES surface) at ``as_of``
        (default: latest): per-commit ``properties`` maps fold in
        version order (a None value unsets the key), bootstrapped by any
        ``properties_reset`` snapshot (restore commits and
        metadata-complete checkpoints carry one, so the fold survives
        log cleanup — the same lifecycle as :meth:`checks`). Behavioral
        properties the engine honors: ``delta.enableDeletionVectors``
        ('true' routes SQL DELETE/UPDATE/MERGE to merge-on-read,
        functions/tx_sql) and ``delta.appendOnly`` ('true' refuses DML).
        Everything else is carried metadata — exported into the Delta
        ``metaData.configuration`` and adopted back by
        :meth:`convert_from_delta`."""
        return dict(self._snapshot(as_of).properties)

    def set_properties(
        self, props: dict[str, str], max_retries: int = 3
    ) -> int:
        """``ALTER TABLE SET TBLPROPERTIES``: one metadata-only commit
        recording the key/value map. ``delta.constraints.*`` keys are
        refused (constraints are first-class via :meth:`add_check` —
        a string property would silently skip enforcement), and
        ``delta.columnMapping.*`` keys are refused (the mapping is
        first-class log payload; a stale property would lie to export)."""
        if not props:
            raise ValueError("SET TBLPROPERTIES needs at least one key")
        bad = [
            k
            for k in props
            if k.startswith(("delta.constraints.", "delta.columnMapping."))
        ]
        if bad:
            raise ValueError(
                f"properties {bad} shadow first-class log payloads — use "
                "add_check/rename_column instead"
            )
        clean = {str(k): str(v) for k, v in props.items()}
        for _attempt in range(max_retries + 1):
            base_version = self.version()
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[],
                    op="set_properties", extra={"properties": clean},
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"set_properties gave up after {max_retries} retries"
        )

    def unset_properties(
        self, keys: list[str], max_retries: int = 3
    ) -> int:
        """``ALTER TABLE UNSET TBLPROPERTIES``: records None per key —
        absent keys unset silently (Delta's IF EXISTS semantics)."""
        if not keys:
            raise ValueError("UNSET TBLPROPERTIES needs at least one key")
        payload = {str(k): None for k in keys}
        for _attempt in range(max_retries + 1):
            base_version = self.version()
            try:
                self._try_commit(
                    base_version + 1, adds=[], removes=[],
                    op="unset_properties", extra={"properties": payload},
                )
                return base_version + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"unset_properties gave up after {max_retries} retries"
        )

    def to_iceberg(self, format_version: int | None = None) -> int:
        """Export/refresh an Apache ICEBERG metadata layer under
        ``<table>/metadata/`` over this table's current live files —
        Delta UniForm's shape (same parquet, second table format), so
        Iceberg engines read the table without a data copy. See
        :func:`operators.iceberg.export_iceberg_metadata` (incremental,
        one snapshot per txlog version, O(live files) metadata; live
        deletion vectors export as v2 position-delete parquet or, with
        ``format_version=3``, as PUFFIN deletion-vector blobs).
        Returns the new metadata ordinal."""
        from .iceberg import export_iceberg_metadata

        return export_iceberg_metadata(self, format_version)

    def to_delta_log(self) -> int:
        """Export/refresh a Delta-protocol ``_delta_log`` for this table so
        external Delta readers can open it — see
        :func:`operators.deltalog.export_delta_log` (incremental,
        version-number-preserving). Returns the latest exported version.
        Refused on a table adopted via :meth:`convert_from_delta` (the
        export's version numbering — txlog version N -> delta commit N —
        would collide with the pre-existing foreign log's history) and
        on a table whose log head was truncated by :meth:`cleanup_log`
        (the export mirrors EVERY version 1:1 and cannot reconstruct
        deleted commits; export BEFORE cleaning up, or CLONE to a fresh
        table and export the clone)."""
        oldest, origin = oldest_commit(self.log_dir)
        if "converted_from_delta" in origin:
            # an adopted table's OLDEST commit is the convert_delta
            # snapshot (it sits at the foreign latest version, not 0)
            raise ValueError(
                "to_delta_log refused: this table was adopted from "
                f"an existing _delta_log (at its version "
                f"{origin['converted_from_delta']}) — re-exporting "
                "would misalign version numbering with the foreign "
                "log's history"
            )
        if oldest != 0:
            raise ValueError(
                "to_delta_log refused: commit 0 was truncated by "
                "cleanup_log — the export mirrors every version 1:1 and "
                "cannot reconstruct deleted commits. Export before "
                "cleanup, or clone() to a fresh table and export that."
            )
        from .deltalog import export_delta_log

        return export_delta_log(self.spark, self)

    # ------------------------------------------------------------- vacuum

    def vacuum(
        self,
        retain_versions: int = 1,
        min_age_s: float = 0.0,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete data files referenced by NO retained snapshot: orphans
        from crashed/losing writers, plus files whose only references are
        versions older than the retention window. ``retain_versions`` is
        the time-travel horizon (Delta's retention period expressed in
        versions rather than hours): the newest N versions stay readable
        via :meth:`read_version`; older versions may lose files. Never
        touches the live snapshot (retain_versions >= 1 always).

        ``min_age_s`` skips files younger than that many seconds (mtime)
        — the guard Delta's retention-hours check provides: a CONCURRENT
        writer's staged-but-uncommitted files look like orphans to this
        scan, and deleting them makes that writer commit references to
        vanished files. Production vacuums should set it above the
        longest write duration; the 0.0 default keeps single-writer
        usage (and tests) immediate.

        A vacuum that deleted anything also records itself in the log as
        a data-unchanged ``op="vacuum"`` commit listing the deleted
        files: an audit trail in :meth:`history`, and the commit forces
        CommitConflict on any concurrently-retrying writer (e.g.
        :meth:`restore`, whose per-attempt existence re-check then runs
        against the post-vacuum reality instead of racing it).

        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) returns the
        would-delete list and touches NOTHING — no removals, no audit
        commit."""
        import time as _time

        now = _time.time()
        head = self._snapshot()
        latest = head.version
        referenced = set(head.live)
        referenced_sidecars = {d["sidecar"] for d in head.dvs.values()}
        keep_versions = set(
            range(max(0, latest - max(retain_versions, 1) + 1), latest)
        )
        # tagged versions are PINNED outside the retention window —
        # "the snapshot we trained v1 on" must survive routine retention
        keep_versions |= set(self.tags().values())
        for v in keep_versions:
            try:
                old = self._snapshot(as_of=v)
            except FileNotFoundError:
                continue
            referenced |= old.live
            referenced_sidecars |= {d["sidecar"] for d in old.dvs.values()}
        deleted = []
        # deletion-vector sidecars referenced by no retained snapshot
        # (superseded vectors, losers of DML races) are orphans too
        dv_dir = os.path.join(self.path, "_dv")
        if os.path.isdir(dv_dir):
            for f in sorted(os.listdir(dv_dir)):
                rel = f"_dv/{f}"
                if not f.endswith(".parquet") or rel in referenced_sidecars:
                    continue
                full = os.path.join(dv_dir, f)
                if min_age_s > 0 and now - os.path.getmtime(full) < min_age_s:
                    continue  # possibly staged by an in-flight DML
                if not dry_run:
                    os.remove(full)
                deleted.append(rel)
        # checkpoint live-list sidecars (``_txlog/ckpt/``) and change-data
        # sidecars (``_cdc/``) referenced by NO surviving commit JSON are
        # orphans: a writer crashed between sidecar write and commit
        # publish, or lost its commit race and its unlink failed, or
        # (change data) cleanup_log truncated its commit. Without this
        # sweep a crash-prone table accumulates them forever.
        def _referenced() -> set:
            """Every sidecar a commit names, in ONE pass over the raw
            commit JSONs (a torn or vanished commit names nothing):
            ``adds_sidecar`` is relative to the log (``ckpt/...``),
            ``cdc`` to the table (``_cdc/...``), so one set holds both."""
            refs = set()
            for name in sorted(
                f for f in os.listdir(self.log_dir) if f.endswith(".json")
            ):
                try:
                    with open(os.path.join(self.log_dir, name)) as fh:
                        c = json.load(fh)
                except (OSError, ValueError):
                    continue
                refs |= {c.get("adds_sidecar"), c.get("cdc")} - {None}
            return refs

        ckpt_dir = os.path.join(self.log_dir, "ckpt")
        cdc_dir = os.path.join(self.path, "_cdc")
        has_ckpt, has_cdc = os.path.isdir(ckpt_dir), os.path.isdir(cdc_dir)
        if has_ckpt or has_cdc:
            refs = _referenced()
            # (reference, path, reported name) of every sidecar on disk
            candidates = [
                (f"ckpt/{f}", os.path.join(ckpt_dir, f), f"_txlog/ckpt/{f}")
                for f in sorted(os.listdir(ckpt_dir) if has_ckpt else [])
            ] + [
                (f"_cdc/{f}", os.path.join(cdc_dir, f), f"_cdc/{f}")
                for f in sorted(os.listdir(cdc_dir) if has_cdc else [])
                if f.endswith(".parquet")
            ]
            candidates = [
                (ref, full, shown)
                for ref, full, shown in candidates
                if ref not in refs
                # possibly staged by an in-flight checkpoint or DML
                and not (
                    min_age_s > 0 and now - os.path.getmtime(full) < min_age_s
                )
            ]
            if candidates:
                # a commit naming a sidecar can PUBLISH between the
                # commit-JSON listing above and the sidecar listing: its
                # just-written sidecar would look unreferenced. Re-list
                # the commit JSONs immediately before deleting and remove
                # only sidecars STILL unreferenced — this closes the
                # list-order race down to the publish-vs-remove instant
                # (callers who vacuum concurrently with live writers
                # should additionally pass min_age_s > 0).
                refs = _referenced()
                for ref, full, shown in candidates:
                    if ref in refs:
                        continue
                    if not dry_run:
                        os.remove(full)
                    deleted.append(shown)
        # abandoned staging temp files from crashed sidecar writes
        for f in sorted(os.listdir(self.log_dir)):
            if f.startswith(".ckpt-stage-"):
                full = os.path.join(self.log_dir, f)
                if min_age_s > 0 and now - os.path.getmtime(full) < min_age_s:
                    continue
                if not dry_run:
                    os.remove(full)
                deleted.append(f"_txlog/{f}")
        for root, dirs, fs in os.walk(self.path):
            # never descend into the logs or staging dirs
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in fs:
                if not f.endswith(".parquet") or f.startswith(("_", ".")):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path).replace(os.sep, "/")
                if rel not in referenced:
                    if min_age_s > 0 and now - os.path.getmtime(full) < min_age_s:
                        continue  # possibly staged by an in-flight writer
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
        # drop partition dirs a vacuum emptied (cosmetic; readers use the log)
        for root, _dirs, _fs in (
            [] if dry_run else os.walk(self.path, topdown=False)
        ):
            rel = os.path.relpath(root, self.path)
            if rel in (".",) or rel.split(os.sep)[0].startswith(("_", ".")):
                continue
            try:
                os.rmdir(root)  # only succeeds if empty
            except OSError:
                pass
        if deleted and not dry_run:
            # best-effort audit commit; the deletions above already
            # happened, so a persistent conflict is not an error — the
            # conflicting commits themselves served as the writer signal
            for _attempt in range(3):
                try:
                    self._try_commit(
                        self.version() + 1, adds=[], removes=[],
                        op="vacuum",
                        extra={"vacuumed": sorted(deleted)},
                    )
                    break
                except CommitConflict:
                    continue
        return sorted(deleted)

    def cleanup_log(self, retain_versions: int = 50) -> list[str]:
        """Delete commit JSONs below the retention horizon — Delta's log
        cleanup (its ``logRetentionDuration``, expressed in versions).
        Without it a years-old 100 TB table accumulates millions of
        commit files and every metadata fold (schema, checks, txn
        markers) pays an O(total commits) directory walk forever; with
        it the log stays O(retention window).

        The horizon is the newest METADATA-COMPLETE checkpoint commit at
        or below ``latest - retain_versions + 1`` — a checkpoint that
        carries the full file list, DV state, schema, column mapping,
        CHECK set, partition spec, and streaming-txn high-waters
        (:meth:`_try_commit` stamps all of these on every periodic
        checkpoint), so every fold bootstraps at the horizon alone.
        Tagged versions are PINNED: the horizon never rises above the
        oldest tag, so ``read_tag``/restore-to-tag survive cleanup.

        What is GIVEN UP below the horizon, stated plainly (the same
        envelope as Delta's log cleanup): time travel, RESTORE targets,
        CDF ranges, and new streams with an explicit ``startingVersion``
        below it all raise loudly; a default-start stream clamps to the
        horizon snapshot; :meth:`to_delta_log` refuses afterward (the
        export mirrors versions 1:1 — export first, or clone and export
        the clone). One ambiguity is inherent to version-number offsets:
        a stream whose CHECKPOINTED offset is exactly ``horizon - 1``
        (it consumed through horizon-1 before the cleanup) is
        indistinguishable from a fresh clamped stream, and on restart
        re-emits the horizon snapshot — keyed/exactly-once sinks
        (upsert, CDC apply) absorb the replay; plain append sinks
        behind on consumption should restart from a fresh checkpoint.
        Keep ``retain_versions`` comfortably above the slowest
        consumer's lag. Returns the deleted commit file names.

        Concurrency: commits are immutable and new versions only grow,
        so cleanup never races a writer's commit; a reader that listed
        the log just before cleanup may lose a sub-horizon commit
        mid-replay and retry — the window is the same one Delta accepts,
        bounded by keeping ``retain_versions`` generous."""
        retain = max(int(retain_versions), 1)
        latest = self.version()
        min_keep = max(0, latest - retain + 1)
        tags = self.tags()
        if tags:
            min_keep = min(min_keep, min(tags.values()))
        horizon = 0
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        # one parse per sub-horizon commit: the same scan that finds the
        # horizon also remembers each commit's checkpoint sidecar (only
        # checkpoints have one; commit 0 never does), so the deletion
        # loop below re-opens nothing
        sidecars: dict[str, str] = {}
        for name in entries:
            v = int(name.split(".")[0])
            if v > min_keep or v == 0:
                continue
            with open(os.path.join(self.log_dir, name)) as fh:
                c = json.load(fh)
            if c.get("adds_sidecar"):
                sidecars[name] = c["adds_sidecar"]
            if metadata_complete(c):
                horizon = max(horizon, v)
        deleted = []
        for name in entries:
            if int(name.split(".")[0]) < horizon:
                os.remove(os.path.join(self.log_dir, name))
                sc = sidecars.get(name)
                if sc:
                    # the truncated checkpoint's parquet live-list
                    # sidecar is unreferenced once its commit is gone
                    try:
                        os.remove(os.path.join(self.log_dir, sc))
                    except OSError:
                        pass
                deleted.append(name)
        if deleted:
            # best-effort audit commit (same posture as vacuum's): records
            # what was truncated in history, and — because op="cleanup_log"
            # forces the checkpoint path — lands a FRESH metadata-complete
            # checkpoint at the head, so the next cleanup's horizon is
            # already staged
            for _attempt in range(3):
                try:
                    self._try_commit(
                        self.version() + 1, adds=[], removes=[],
                        op="cleanup_log",
                        extra={
                            "log_truncated_below": horizon,
                            "n_commits_deleted": len(deleted),
                        },
                    )
                    break
                except CommitConflict:
                    continue
        return deleted


def _parse_partition_value(raw: str, dtype) -> object | None:
    """Typed python value of a hive partition-dir string, for driver-side
    partition pruning. Returns None (= conservatively keep the file) for
    unparseable values or types without a defined dir serialization."""
    import datetime
    import decimal

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
            return {"true": True, "false": False}.get(raw.lower())
        if name == "string":
            return raw
    except (ValueError, decimal.InvalidOperation):
        return None
    return None


def _dml_evolved_schema(stored_json: str | None, out_json: str) -> str:
    """The schema a MERGE commit records: the STORED schema's fields —
    field METADATA intact (identity/generation annotations, parquet
    field ids; a DataFrame projection strips field metadata, so
    recording the output frame's own schema would silently drop e.g.
    ``delta.generationExpression`` from the latest-wins schema fold) —
    widened by any columns the merge output added (``evolve_schema``).
    Stored fields' types never differ from the output's (the clause
    plan casts every expression to the target column's type)."""
    if stored_json is None:
        od = json.loads(out_json)
        od["fields"] = [
            f for f in od["fields"] if f["name"] != _ROW_ID_PHYS
        ]
        return json.dumps(od)
    sd, od = json.loads(stored_json), json.loads(out_json)
    have = {f["name"] for f in sd["fields"]}
    sd["fields"].extend(
        f
        for f in od["fields"]
        # physical-only columns (materialized row ids) never widen the
        # LOGICAL schema — they live in the files, not the contract
        if f["name"] not in have and f["name"] != _ROW_ID_PHYS
    )
    return json.dumps(sd)


def _merge_commit_schema(
    table: TxLogTable,
    stored_json: str | None,
    out_json: str,
    ident: dict[str, dict],
    adds: list[str],
) -> tuple[str, dict[str, dict] | None]:
    """The schema a MERGE commit records (:func:`_dml_evolved_schema`)
    plus any identity high-watermark advance, read from the new files'
    footer stats and clamped monotone: a no-insert merge's files hold
    only preserved ids at/below the current watermark. Returns the
    schema and the footer stats read (None when none were), for the
    commit to record."""
    schema = _dml_evolved_schema(stored_json, out_json)
    if not (ident and adds):
        return schema, None
    hws, stats = table._identity_new_hw(adds, ident)
    for c, m in ident.items():
        if m["hw"] is not None:
            hws[c] = (max if m["step"] > 0 else min)(m["hw"], hws[c])
    return _identity_hw_update(schema, hws), stats


def _merge_post_image(
    df: DataFrame,
    schema_json: str | None,
    gen_recompute: dict[str, str],
    ident: dict[str, dict],
) -> DataFrame:
    """The engine-owned columns of a MERGE's written rows: generated
    columns no clause assigns recompute (cast to their stored type),
    then NULL identity values — accepted inserts — are assigned beyond
    each column's high watermark (``ident`` is re-read per attempt, so a
    racing commit's watermark is respected); preserved ids pass."""
    if gen_recompute:
        from pyspark.sql.types import StructType

        types = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(schema_json)).fields
        }
        for g, e in gen_recompute.items():
            df = df.withColumn(g, F.expr(e).cast(types[g]))
    for c, m in ident.items():
        base = m["start"] if m["hw"] is None else m["hw"] + m["step"]
        df = df.withColumn(
            c,
            F.when(
                F.col(c).isNull(),
                (
                    F.lit(base)
                    + F.lit(m["step"]) * F.monotonically_increasing_id()
                ).cast("long"),
            ).otherwise(F.col(c)),
        )
    return df


def _logical_columns(table: TxLogTable, snap: Snapshot) -> list[str]:
    """The table's logical columns: the recorded schema's fields (a
    legacy log without one answers with its snapshot's columns)."""
    if snap.schema is None:
        return table._rows(snap).columns
    return [f["name"] for f in json.loads(snap.schema)["fields"]]


def _extend_mapping(mapping: dict | None, columns: list[str]) -> dict | None:
    """A column-mapped table's mapping extended by a FRESH physical name
    for every written column it lacks (schema evolution) — otherwise a
    previously DROPPED column's identity-mapped name would resurrect the
    old files' values (or collide with a renamed column's physical
    name). Same rule as add_column. None when nothing is new or the
    table is unmapped; the physical-only row-id column is never mapped
    (it lives under its fixed name in every file)."""
    if not mapping:
        return None
    absent = [c for c in columns if c not in mapping and c != _ROW_ID_PHYS]
    if not absent:
        return None
    return {**mapping, **{c: f"col_{uuid.uuid4().hex[:12]}" for c in absent}}


@contextlib.contextmanager
def _materialized(df: DataFrame | None):
    """Yield ``df`` persisted (``MEMORY_AND_DISK``) for one scope, and
    release it on every exit — the one place a txlog write holds a frame.

    Two users. A MERGE holds its SOURCE for the whole call: touched-file
    discovery, the merge join and every commit retry are separate Spark
    jobs; without this each one re-runs the source's whole lineage (a
    Python-built or streaming batch pays its Python stage per consumer),
    and a nondeterministic source shows each consumer different rows —
    discovery misses a file the join then treats as an insert,
    duplicating the key. Every DML route holds the frame one ATTEMPT
    reads more than once (rewrite + change sidecar; new files + vector
    counts + sidecar), so all of them see one evaluation.

    Lazy: a scope that runs no job builds nothing. A frame the caller
    already cached is read from that cache and left cached. ``None``
    holds nothing (a route whose attempt reads its frame once)."""
    if df is None or df.storageLevel != StorageLevel.NONE:
        yield df
        return
    held = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield held
    finally:
        held.unpersist()


def _check_dml_mode(mode: str, cdc: bool, kind: str) -> None:
    """The storage modes of a row-level write (``cow`` | ``dv``), and the
    one combination refused: a DV commit's feed is already row-exact."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"unknown {kind} mode {mode!r} (cow|dv)")
    if mode == "dv" and cdc:
        raise ValueError(
            "cdc=True is redundant with mode='dv': deletion-"
            "vector commits already feed row-exact deltas — "
            "read_changes() derives the changed rows from the "
            "DV delta directly; drop cdc=True"
        )


def _dml_flat(
    df: DataFrame, hit: F.Column, sets: dict, recompute: dict
) -> DataFrame:
    """``df`` with the DML condition evaluated ONCE per row into
    ``__hit``, the assignments ``sets`` and the generated-column
    recomputes ``recompute`` (name -> Column) applied where it holds,
    and the pre-image struct ``__pre`` of the logical columns (every
    column but the positional ``__file``/``__ridx`` and the row-id
    column) — the one post-image step of both DML bodies. The flag is
    computed at exactly one site and only the resulting column is read
    afterwards: the same nondeterministic Column used at two sites of
    one projection gets independently seeded evaluations (``rand()`` at
    a ``when()`` site and a flag site disagree per row), which would
    apply some of a row's assignments and not others. Recomputes run
    over the post-assignment values, so generation expressions see the
    updated sources."""
    cols = [
        c for c in df.columns if c not in ("__file", "__ridx", _ROW_ID_PHYS)
    ]
    flat = df.withColumn("__hit", hit).select(
        *[
            F.when(F.col("__hit"), sets[c]).otherwise(F.col(c)).alias(c)
            if c in sets
            else F.col(c)
            for c in df.columns
        ],
        F.col("__hit"),
        F.struct(*cols).alias("__pre"),
    )
    for g, e in recompute.items():
        flat = flat.withColumn(
            g, F.when(F.col("__hit"), e).otherwise(F.col(g))
        )
    return flat


def _merge_into_dv(
    spark: SparkSession,
    table: TxLogTable,
    source: DataFrame,
    keys: list[str],
    clauses: dict,
    evolve_schema: bool,
    max_retries: int,
    txn: tuple[str, int] | None,
    gen_recompute: dict[str, str],
) -> DataFrame:
    """Merge-on-read MERGE (Delta's deletion-vector MERGE physical
    design), the :func:`merge_into_txlog` ``mode='dv'`` body. ``source``
    arrives read-once from there, so every attempt sees the same rows.
    Per attempt:

    1. touched-file discovery — the same one-semi-join scan as
       copy-on-write (every live file when a NOT MATCHED BY SOURCE
       clause exists, Delta's rule);
    2. ONE positional scan of the touched files
       (:meth:`TxLogTable._scan_with_filepath`: rows + ``__file``/
       ``__ridx``, prior vectors anti-joined out) feeds the SHARED
       clause plan (:func:`merge.prepare_clause_plan` — the one plan
       every MERGE route builds, so semantics cannot drift);
    3. positions leaving the table = delete-selected rows plus CHANGED
       update-selected rows (:func:`merge.changed`; no-op updates touch
       nothing — the rule :meth:`TxLogTable._dml_dv` shares);
    4. new files = update post-images + accepted inserts (CHECK-gated
       through the normal :meth:`_write_data` chokepoint);
    5. :meth:`TxLogTable._vector_commit` — the one vector step the DV
       DML shares — writes one sidecar of the new positions unioned
       with the touched files' PRIOR vectors and retires a file whose
       vector would cover every row; the driver-known touched files let
       it skip its per-file counts job on a Spark-written layout;
    6. :meth:`TxLogTable._commit_attempt` commits, or drops the
       attempt's files on a lost race and the loop retries.

    Bytes written scale with CHANGED rows, not touched files — the
    1-row-per-file daily upsert writes slivers where COW rewrites every
    touched file (SCALING.md probe). The change feed needs no sidecar:
    ``read_changes`` derives row-exact deletes from the DV delta and
    inserts from the new files."""
    from pyspark.sql.types import LongType, StructField

    for _attempt in range(max_retries + 1):
        snap = table._snapshot()
        if txn is not None:
            last = snap.txns.get(str(txn[0]))
            if last is not None and txn[1] <= last:
                return table._rows(snap)
        rt_on = _row_tracking_on(snap)
        base_files, dvs, schema_json = snap.files, snap.dvs, snap.schema
        touched_files = (
            list(base_files)
            if clauses["not_matched_by_source"]
            else table._touched_by_keys(base_files, source, keys, snap)
        )
        if touched_files:
            target = table._scan_with_filepath(
                touched_files,
                snap,
                dvs=dvs,
                extra_fields=(
                    [StructField(_ROW_ID_PHYS, LongType(), True)]
                    if rt_on
                    else None
                ),
            )
            if rt_on:
                # row tracking: make every target row carry its CONCRETE
                # stable id as an ordinary (physical-only) column — the
                # clause plan then does the rest for free: matched
                # post-images keep it, inserts get NULL (fresh ids derive
                # from the new file's base + index at read)
                target = table._rt_attach(
                    target, touched_files, snap.row_bases, _ROW_ID_PHYS
                )
        else:
            target = (
                table._empty(snap)
                .withColumn("__file", F.lit(None).cast("string"))
                .withColumn("__ridx", F.lit(None).cast("long"))
            )
            if rt_on:
                target = target.withColumn(
                    _ROW_ID_PHYS, F.lit(None).cast("long")
                )
        plan = prepare_clause_plan(
            target, source, keys, evolve_schema=evolve_schema, **clauses
        )
        pick, tval = plan["pick"], plan["tval"]
        data_cols = [
            c for c in plan["columns"] if c not in ("__file", "__ridx")
        ]
        # ONE evaluation of the merge join feeds EVERYTHING downstream:
        # the flat frame materializes the post-image picks and the three
        # row-class predicates once; the doomed positions, the per-file
        # counts, the new files, and the sidecar all read it, so a
        # nondeterministic clause condition cannot desynchronize the
        # written files from the vectors. Rows in no class are filtered
        # out, so the hold is O(changed rows + inserts), the DV budget.
        # No-op updates (post-image == pre-image) are in no class.
        flat = plan["j"].select(
            *[pick(c) for c in data_cols],
            F.col("__file"),
            F.col("__ridx"),
            plan["deleted"].alias("__del"),
            (
                plan["updated"]
                & changed(
                    F.struct(*[tval(c) for c in data_cols]),
                    F.struct(*[pick(c) for c in data_cols]),
                    plan["j"].select(*[pick(c) for c in data_cols]).schema,
                )
            ).alias("__upd"),
            plan["inserted"].alias("__ins"),
        ).filter("__del OR __upd OR __ins")
        cur_ident = _identity_of(schema_json)
        new_mapping = _extend_mapping(snap.mapping, data_cols)
        with _materialized(flat) as flat:
            # 4: new files — CHECK gate runs here, BEFORE any sidecar
            # exists, so a CheckViolation leaves no orphan metadata.
            # Update post-images carry their preserved ids; the
            # post-image step recomputes generated columns over the new
            # rows only (untouched rows stay in their files, DV-masked,
            # with values the enforcement invariant keeps consistent)
            new_rows = _merge_post_image(
                flat.filter("__upd OR __ins").select(*data_cols),
                schema_json,
                gen_recompute,
                cur_ident,
            )
            adds = table._write_data(new_rows, snap, _mapping=new_mapping)
            # 3+5: the positions leaving the table, DISTINCT — duplicate
            # source keys produce one doomed JOIN ROW per duplicate at
            # the SAME (file, row index); counting rows would inflate the
            # vector cardinality and could wrongly retire a file whose
            # unmatched rows are still live. The touched files are
            # driver-known, so the vector step can skip its counts job
            removes, dv_updates = table._vector_commit(
                flat.filter("__del OR __upd")
                .select("__file", "__ridx")
                .distinct(),
                snap,
                touched_files,
            )
        # stored schema (metadata intact) + evolution + watermark advance
        # — same rule as copy-on-write (see merge_into_txlog)
        commit_schema, ident_stats = _merge_commit_schema(
            table, schema_json, new_rows.schema.json(), cur_ident, adds
        )
        if (
            table._commit_attempt(
                snap, adds=adds, removes=removes, op="merge",
                schema=commit_schema, txn=txn, column_mapping=new_mapping,
                dvs=dv_updates or None, stats=ident_stats,
            )
            is not None
        ):
            return table.read()
    raise CommitConflict(f"merge (dv) gave up after {max_retries} retries")


def merge_into_txlog(
    spark: SparkSession,
    table: TxLogTable,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    max_retries: int = 3,
    evolve_schema: bool = False,
    rewrite: str = "touched",
    txn: tuple[str, int] | None = None,
    matched_set: dict | None = None,
    insert_values: dict | None = None,
    clauses: dict | None = None,
    cdc: bool = False,
    mode: str = "cow",
) -> DataFrame:
    """MERGE with an atomic, snapshot-isolated commit (same logical
    semantics as merge.merge_into_parquet; see module docstring for the
    guarantees). On CommitConflict the merge recomputes against the new
    snapshot and retries — correct because the merge result is a pure
    function of (target snapshot, source).

    The source is READ ONCE per call: it is persisted
    (``MEMORY_AND_DISK``) before the retry loop and released when the
    call returns or raises, so touched-file discovery, the merge join
    and every retry read the same rows. That makes the result a
    function of the source even when the source is not deterministic
    (``rand()``, a nondeterministic UDF, a tie-broken window, a view
    over shifting data) — evaluated per consumer, discovery and the join
    would see different keys and duplicate them — and it spares a
    Python-built or streaming batch one full evaluation per consumer. A
    source the caller already cached (``storageLevel`` not ``NONE``) is
    read from the caller's cache and left cached; no setting turns the
    materialization off.

    ``txn=(app_id, version)`` makes the merge idempotent per transaction
    (checked before work and inside the retry loop): a crash-replayed
    streaming micro-batch that already committed is a no-op — see
    :meth:`TxLogTable.append` / ``streaming/upsert.py``.

    ``rewrite='touched'`` (default) is copy-on-write at FILE granularity —
    the Delta MERGE physical design: first find the files that contain
    any source key (:meth:`TxLogTable._touched_by_keys`, one semi-join
    scan), then run the merge against ONLY those files' rows; matched
    updates/deletes can only live there, and not-matched source rows fall
    out of the same full-outer join as inserts. Untouched files are
    carried over in the log unrewritten — at 100 TB a daily batch
    touching 0.1% of keys rewrites that sliver, not the table. With
    ``evolve_schema=True`` the widened schema is recorded on the merge
    commit and untouched pre-evolution files null-fill the new columns at
    read time (:meth:`TxLogTable._read_files`). ``rewrite='full'`` keeps
    the whole-table rewrite (clusters every row into fresh files — the
    right call when the merge touches most files anyway).

    ``clauses`` takes the FULL Delta MERGE surface — ``{"matched":
    [...], "not_matched": [...], "not_matched_by_source": [...]}`` per
    :func:`merge.merge_clauses` (conditional, ordered, per-column) —
    and is mutually exclusive with the simple-form parameters. A
    ``not_matched_by_source`` clause can touch ANY target row, so the
    touched-file discovery widens to every live file for that shape
    (Delta's physical rule too); without one, discovery stays the
    one-semi-join touched-by-keys scan.

    ``cdc=True`` records the merge's EXACT row-level changes in a
    change-data sidecar, SINGLE-PASS
    (:func:`merge.merge_clauses_with_cdc` — ONE held clause-plan
    evaluation feeds both the committed rows and the sidecar, built by
    the feed builder the DML routes share, :func:`merge.change_feed`,
    so nondeterministic clause conditions / SET expressions
    (``rand()``, a view over shifting data), generated-column
    recomputes, and identity-column assignment can never desynchronize
    the feed from the table): feed readers then stream O(changed rows)
    for this commit instead of netting the touched files' rewrite
    noise. Costs the materialization of the merge join's post-images
    (persisted MEMORY_AND_DISK while the attempt writes).

    ``mode='dv'`` is MERGE-ON-READ (Delta's deletion-vector MERGE):
    matched deletes and CHANGED matched updates record their target
    rows' POSITIONS in a deletion-vector sidecar, and only the update
    post-images + accepted inserts are written as new files — a daily
    upsert batch updating one row per touched file writes O(changed
    rows) bytes instead of rewriting every touched file. Same clause
    plan, same semantics (:func:`merge.prepare_clause_plan` is shared),
    no-op updates (post-image == pre-image) touch nothing, and a file
    whose vector would cover every row is retired outright. ``cdc`` and
    ``rewrite='full'`` are rejected with it — a DV commit's feed is
    already row-exact (``read_changes`` derives the pre-images from the
    DV delta) and merge-on-read never rewrites touched files."""
    assert rewrite in ("touched", "full")
    _check_dml_mode(mode, cdc, "MERGE")
    if clauses is not None and (
        matched_set or insert_values
        or when_matched != "update" or when_not_matched != "insert"
    ):
        raise ValueError(
            "clauses= is the full MERGE surface — it cannot combine "
            "with when_matched/when_not_matched/matched_set/"
            "insert_values (evolve_schema composes with it)"
        )
    snap = table._snapshot()
    rt_on = _row_tracking_on(snap)
    if rt_on and _ROW_ID_PHYS in source.columns:
        # the physical id column is ENGINE-OWNED (same contract as
        # identity columns): the source may not carry it (SET */INSERT *
        # under evolve_schema would pick it up). Review finding, round 12.
        raise ValueError(
            f"source carries reserved column {_ROW_ID_PHYS!r} — it "
            "is engine-assigned row-tracking state; rename or drop "
            "it from the source"
        )
    ident_meta = _identity_of(snap.schema)
    gen_all = _generated_of(snap.schema)
    if clauses is None:
        # the simple form becomes its clause list ONCE, here: every route
        # below (COW, cdc, insert-only, DV) sees only clauses. Its
        # whole-row contract lets a source omit the engine-owned columns
        # — identity (matched rows keep their ids, inserts are assigned)
        # and generated (recomputed below)
        clauses = simple_form_clauses(
            _logical_columns(table, snap), source.columns, when_matched,
            when_not_matched, matched_set, insert_values, evolve_schema,
            omittable=set(ident_meta) | set(gen_all),
        )
    clauses = {
        k: list(clauses.get(k) or [])
        for k in ("matched", "not_matched", "not_matched_by_source")
    }
    named: set[str] = set()  # columns some clause assigns by name
    for cl in sum(clauses.values(), []):
        named |= set(cl.get("set") or cl.get("values") or {})
    # some clause takes the source row (UPDATE SET * / INSERT *)
    whole_row = any(
        cl.get("action", "update") == "update" and not cl.get("set")
        for cl in clauses["matched"]
    ) or any(not cl.get("values") for cl in clauses["not_matched"])
    if rt_on and _ROW_ID_PHYS in named:
        # the target frame carries the id column as an ordinary column
        # for the rewrite, so clause validation alone would accept the
        # assignment and silently corrupt stable ids. Guards BOTH modes.
        raise ValueError(
            f"a MERGE clause assigns {_ROW_ID_PHYS!r} — row-tracking ids "
            "are engine-assigned and cannot be set by MERGE"
        )
    bad = sorted((named | set(source.columns)) & set(ident_meta))
    if bad:
        # identity columns are GENERATED ALWAYS — Delta's identity MERGE
        # contract: matched rows keep their stored ids (the clause plan's
        # baseline is the target value), NOT MATCHED inserts surface with
        # NULL ids and are assigned beyond the current high watermark
        raise ValueError(
            f"identity column(s) {bad} are GENERATED ALWAYS "
            "(allowExplicitInsert=false): a MERGE clause may not "
            "assign them and the source may not carry them — matched "
            "rows keep their ids, inserted rows are assigned beyond "
            "the watermark by the engine"
        )
    # Delta's generated-column MERGE rule: generated columns no clause
    # assigns (by name, or by a whole-row clause over a source carrying
    # them) RECOMPUTE over the merge output — deterministic expressions
    # reproduce the stored value for untouched rows, so one whole-frame
    # projection is exact. Assigned generated columns stay writer-supplied
    # and the _write_data chokepoint validates them. Recompute only where
    # values can change: inserted rows always; updated rows only when the
    # expression references an assigned column (a delete-only merge
    # recomputes NOTHING — and keeps cdc=True usable)
    assigned = named | (set(source.columns) if whole_row else set())
    gen_recompute = {
        g: e
        for g, e in gen_all.items()
        if g not in assigned
        and (
            bool(clauses["not_matched"])
            or any(re.search(rf"\b{re.escape(c)}\b", e) for c in assigned)
        )
    }
    if mode == "dv" and rewrite != "touched":
        raise ValueError(
            "rewrite= applies to copy-on-write only — mode='dv' "
            "never rewrites touched files"
        )
    with _materialized(source) as source:
        if mode == "dv":
            return _merge_into_dv(
                spark, table, source, keys, clauses, evolve_schema,
                max_retries, txn, gen_recompute,
            )
        nmbs = clauses["not_matched_by_source"]
        # Delta's insert-only MERGE optimization: matched rows keep their
        # target values by construction, so nothing is rewritten — one
        # key-pruned anti-join filters the source to genuinely-new keys,
        # and the commit only ADDS files (rewrite='full' forces the
        # whole-table path instead)
        insert_only = rewrite != "full" and not (clauses["matched"] or nmbs)
        for _attempt in range(max_retries + 1):
            # base version and txn check from ONE snapshot (same reasoning
            # as TxLogTable.append): a same-batch racer committing after
            # it then conflicts with our commit, which re-runs the check.
            snap = table._snapshot()
            if txn is not None:
                last = snap.txns.get(str(txn[0]))
                if last is not None and txn[1] <= last:
                    return table._rows(snap)
            base_files, dvs, schema_json = snap.files, snap.dvs, snap.schema
            src = source
            if rewrite == "full" or nmbs:
                # a NOT MATCHED BY SOURCE clause can hit any target row:
                # every live file is a rewrite candidate (Delta's rule)
                removes = base_files
                if rt_on:
                    # row tracking: surviving rows carry their stable ids BY
                    # VALUE through the rewrite (matched post-images and
                    # carried rows keep the attached id — the clause plan's
                    # baseline is the target value; inserts surface NULL and
                    # derive fresh ids from their file's base at read)
                    target = (
                        table._rt_cow_read(base_files, snap)
                        if base_files
                        else table._empty(snap).withColumn(
                            _ROW_ID_PHYS, F.lit(None).cast("long")
                        )
                    )
                else:
                    target = table._rows(snap)
            elif insert_only:
                removes = []
                target = table._empty(snap)
                if base_files:
                    src = source.join(
                        table._read_files(base_files, snap, dvs=dvs).select(
                            *keys
                        ),
                        keys,
                        "left_anti",
                    )
            else:
                removes = table._touched_by_keys(base_files, source, keys, snap)
                if removes:
                    target = (
                        table._rt_cow_read(removes, snap)
                        if rt_on
                        else table._read_files(removes, snap, dvs=dvs)
                    )
                else:
                    target = table._empty(snap)
                    if rt_on:
                        target = target.withColumn(
                            _ROW_ID_PHYS, F.lit(None).cast("long")
                        )
            # re-read per attempt: a racing commit may have advanced a
            # high watermark — assignment must start beyond the CURRENT
            # one (a lost conflict drops our files and re-runs this)
            cur_ident = _identity_of(schema_json) if ident_meta else {}

            def _post(df: DataFrame) -> DataFrame:
                return _merge_post_image(
                    df, schema_json, gen_recompute, cur_ident
                )

            held: DataFrame | None = None
            cdc_df: DataFrame | None = None
            if cdc and not insert_only:
                # SINGLE-PASS cdc: one held clause-plan evaluation feeds
                # BOTH the committed rows and the change sidecar —
                # nondeterministic conditions/SET expressions,
                # generated-column recomputes, and identity assignment
                # cannot desynchronize the feed (they are materialized
                # once)
                merged, cdc_df, held = merge_clauses_with_cdc(
                    target, source, keys, evolve_schema=evolve_schema,
                    post_transform=_post, **clauses,
                )
            else:
                merged = _post(
                    merge_clauses(
                        target, src, keys, evolve_schema=evolve_schema,
                        **clauses,
                    )
                )
                if cdc:
                    # insert-only: the merge output IS the change set —
                    # hold it so the data write and the sidecar write
                    # read the SAME rows (identity assignment is not
                    # stable across executions)
                    held = merged
                    cdc_df = merged.withColumn("_change_type", F.lit("insert"))
            new_mapping = _extend_mapping(snap.mapping, merged.columns)
            cdc_rel: str | None = None
            with _materialized(held):
                adds = table._write_data(merged, snap, _mapping=new_mapping)
                if cdc_df is not None:
                    # the change feed is LOGICAL rows — drop the physical-
                    # only row-id column (lenient no-op when absent)
                    cdc_rel = table._write_cdc(cdc_df.drop(_ROW_ID_PHYS), snap)
            commit_schema, ident_stats = _merge_commit_schema(
                table, schema_json, merged.schema.json(), cur_ident, adds
            )
            if (
                table._commit_attempt(
                    snap, adds=adds, removes=removes, op="merge",
                    schema=commit_schema, txn=txn,
                    column_mapping=new_mapping, cdc=cdc_rel,
                    stats=ident_stats,
                )
                is not None
            ):
                return table.read()
        raise CommitConflict(f"merge gave up after {max_retries} retries")
