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
directory (thousands of small JSON files at worst — checkpointing them
into a single parquet summary every N commits is the standard extension
and is implemented in :meth:`_replay` via `_checkpoint`).
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


def _coerce_stat(v, dtype):
    """A recorded stats value re-typed against the table schema for a
    driver-side range comparison: numerics/bools/strings pass through;
    ISO/decimal strings parse via the partition-value rules. None =
    unusable (the consumer conservatively keeps the file)."""
    if v is None:
        return None
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


def replay_stats(log_dir: str, as_of: int | None = None) -> dict[str, dict]:
    """Per-file statistics state at ``as_of`` (default: latest) — the
    stats fold, mirroring :func:`replay_log_full`'s DV fold rule:
    checkpoint commits carry the full ``stats_state`` (inline, or
    a ``stats_json`` column in the parquet live-list sidecar), removes
    drop entries, ``stats_reset`` (restore) replaces the state wholesale,
    and each commit's own ``stats`` map merges last. Data files are
    immutable, so a file's entry is identical in every fold that holds
    it — consumers may fold at latest and apply to any replay-consistent
    file list. Commits predating stats recording simply contribute
    nothing: every consumer treats a missing file entry as "no stats"
    and falls back to parquet footers (an optimization degraded, never
    an answer changed)."""
    entries = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    commits = []
    for name in entries:
        version = int(name.split(".")[0])
        if as_of is not None and version > as_of:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            commits.append((version, json.load(fh)))
    commits.sort()
    start = 0
    for i, (_v, c) in enumerate(commits):
        if c.get("checkpoint"):
            start = i
    stats: dict[str, dict] = {}
    for _v, c in commits[start:]:
        if c.get("checkpoint"):
            sc = c.get("adds_sidecar")
            if sc:
                import pyarrow.parquet as pq

                stats = {}
                full = os.path.join(log_dir, sc)
                # pre-stats sidecars lack the column — state resets to
                # "no stats" there and footers cover the older files
                if "stats_json" in pq.read_schema(full).names:
                    tbl = pq.read_table(full, columns=["file", "stats_json"])
                    for f, sj in zip(
                        tbl.column("file").to_pylist(),
                        tbl.column("stats_json").to_pylist(),
                    ):
                        if sj is not None:
                            stats[f] = json.loads(sj)
            else:
                stats = dict(c.get("stats_state") or {})
        else:
            for f in c["removes"]:
                stats.pop(f, None)
        if c.get("stats_reset") is not None:
            stats = dict(c["stats_reset"])
        for f, d in (c.get("stats") or {}).items():
            stats[f] = d
    return stats

# checkpoint commits inline their full live-file list as JSON below this
# many files; at/above it the list (and DV state) goes to a PARQUET
# sidecar under _txlog/ckpt/ — Delta stores checkpoints as parquet for
# exactly this reason: at ~10M live files a JSON parse is seconds where
# a vectorized parquet read is not. Instance-overridable
# (TxLogTable.ckpt_sidecar_min_files) so tests exercise the sidecar
# path on small tables.
_CKPT_SIDECAR_MIN_FILES = 50_000


def _checkpoint_state(log_dir: str, c: dict) -> tuple[set, dict]:
    """(live file set, dvs_state) carried by a CHECKPOINT commit: inline
    ``adds``/``dvs_state`` for ordinary tables, or the parquet sidecar
    named by ``adds_sidecar`` for huge file counts. The ONE reader every
    fold must use — reading ``c["adds"]`` directly on a sidecar'd
    checkpoint silently yields an empty table."""
    sc = c.get("adds_sidecar")
    if not sc:
        return set(c["adds"]), dict(c.get("dvs_state") or {})
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(log_dir, sc))
    files = tbl.column("file").to_pylist()
    dvs: dict[str, dict] = {}
    if "dv_sidecar" in tbl.column_names:
        # dv_pathkey is absent on pre-relative-path-keying checkpoints —
        # its None default means "legacy basename-keyed sidecar"
        pks = (
            tbl.column("dv_pathkey").to_pylist()
            if "dv_pathkey" in tbl.column_names
            else [None] * len(files)
        )
        for f, s, card, pk in zip(
            files,
            tbl.column("dv_sidecar").to_pylist(),
            tbl.column("dv_cardinality").to_pylist(),
            pks,
        ):
            if s is not None:
                dvs[f] = {"sidecar": s, "cardinality": int(card)}
                if pk is not None:
                    dvs[f]["pathkey"] = pk
    return set(files), dvs


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


# sentinel: "caller didn't specify a mapping — resolve the latest one"
_MAPPING_DEFAULT = object()

# Row tracking (Delta's rowTracking writer feature): the PHYSICAL column
# rewrite paths materialize stable row ids into. Never part of the
# logical schema — explicit-schema reads ignore it; the row-id read path
# coalesces it over the metadata-derived (baseRowId + row index) form.
_ROW_ID_PHYS = "_rt_row_id"


def replay_log(log_dir: str, as_of: int | None = None) -> tuple[int, list[str]]:
    """(version, live file list) at the latest version or at ``as_of`` —
    the commit-log fold, as a pure os/json function (no SparkSession) so
    both :class:`TxLogTable` and the ``txlog`` Python DataSource (whose
    reader objects are pickled to executors) share ONE replay
    implementation. Replays from the newest checkpoint commit (full
    file list) at or before the requested version, not the whole log."""
    v, files, _dvs = replay_log_full(log_dir, as_of)
    return v, files


def replay_log_full(
    log_dir: str, as_of: int | None = None
) -> tuple[int, list[str], dict[str, dict]]:
    """(version, live files, deletion-vector state) — the full fold.

    The DV state maps a live data file's relative path to its descriptor
    ``{"sidecar": <rel path of the parquet sidecar holding its deleted
    (file, row_index) rows>, "cardinality": <deleted-row count>,
    "pathkey": <"rel" when the sidecar's file column holds relative
    paths; absent on legacy basename-keyed sidecars>}`` — the
    merge-on-read half of the table format (public
    design: Delta's deletion vectors): a delete marks row POSITIONS in a
    tiny sidecar instead of rewriting the data file, so a 1-row delete
    costs O(deleted rows) bytes, not a file rewrite. Fold rules per
    commit: removed files drop their DV (the data left the table or was
    compacted), ``dvs`` entries replace per-file descriptors (a new DV
    for a file supersedes its old one — DML always writes the union),
    ``dvs_reset`` (restore) replaces the whole state, and checkpoint
    commits carry the full state as ``dvs_state``."""
    entries = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    if not entries:
        raise FileNotFoundError(f"no commits in {log_dir}")
    commits = []
    for name in entries:
        version = int(name.split(".")[0])
        if as_of is not None and version > as_of:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            commits.append((version, json.load(fh)))
    if not commits:
        raise FileNotFoundError(
            f"no commit at or before version {as_of} in {log_dir}"
        )
    commits.sort()
    # start from the last checkpoint commit (carries the full list)
    start = 0
    for i, (_v, c) in enumerate(commits):
        if c.get("checkpoint"):
            start = i
    live: set[str] = set()
    dvs: dict[str, dict] = {}
    for _v, c in commits[start:]:
        if c.get("checkpoint"):
            live, dvs = _checkpoint_state(log_dir, c)
        else:
            live -= set(c["removes"])
            live |= set(c["adds"])
            for f in c["removes"]:
                dvs.pop(f, None)
            if c.get("dvs_reset") is not None:
                dvs = dict(c["dvs_reset"])
            for f, desc in (c.get("dvs") or {}).items():
                dvs[f] = desc
    return commits[-1][0], sorted(live), dvs


def schema_and_mapping_at(
    log_dir: str, as_of: int | None = None
) -> tuple[str | None, dict | None]:
    """(recorded schema JSON, column mapping) effective at ``as_of`` in
    ONE log pass — readers need both on every snapshot read, and the
    two latest-wins folds walk the same commit files, so scanning twice
    would double the per-read small-JSON I/O on long logs."""
    best_s: tuple[int, str] | None = None
    best_m: tuple[int, dict] | None = None
    for name in os.listdir(log_dir):
        if not name.endswith(".json"):
            continue
        v = int(name.split(".")[0])
        if as_of is not None and v > as_of:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            c = json.load(fh)
        s = c.get("schema")
        if s is not None and (best_s is None or v > best_s[0]):
            best_s = (v, s)
        m = c.get("column_mapping")
        if m is not None and (best_m is None or v > best_m[0]):
            best_m = (v, m)
    return (
        best_s[1] if best_s else None,
        best_m[1] if best_m else None,
    )


def schema_json_at(log_dir: str, as_of: int | None = None) -> str | None:
    """The recorded table schema (StructType JSON) effective at ``as_of``
    — newest commit at/below it carrying a ``schema`` payload; None for
    legacy logs. Session-free twin of :meth:`TxLogTable._schema_at`."""
    return schema_and_mapping_at(log_dir, as_of)[0]


def mapping_at(log_dir: str, as_of: int | None = None) -> dict | None:
    """The column mapping (logical name -> PHYSICAL parquet column name)
    effective at ``as_of`` — newest commit at/below it carrying a
    ``column_mapping`` payload (each such commit records the FULL
    mapping, so latest-wins is the whole fold). None = identity (table
    never renamed/dropped a column — the overwhelmingly common case,
    zero overhead). This is Delta's column-mapping design: RENAME
    changes only the logical name (physical stays, so no file is
    rewritten), DROP removes the logical binding, and a re-added name
    gets a FRESH physical name so dropped data can never resurrect."""
    return schema_and_mapping_at(log_dir, as_of)[1]


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


def commit_file_deltas(
    log_dir: str, from_version: int, to_version: int
) -> list[tuple[int, list[str], list[str], str]]:
    """Back-compat tuple shape of :func:`commit_deltas_full` — consumers
    that predate deletion vectors (file-granularity CDF planning)."""
    return [
        (c["v"], c["adds"], c["removes"], c["op"])
        for c in commit_deltas_full(log_dir, from_version, to_version)
    ]


def commit_deltas_full(
    log_dir: str, from_version: int, to_version: int
) -> list[dict]:
    """Per-commit (version, files added, files removed, op) over
    ``[from_version, to_version]``, computed checkpoint-aware in ONE
    pass (a checkpoint commit's recorded adds are the full live list;
    its TRUE delta is live(v) - live(v-1)). The op lets consumers
    distinguish data-unchanged rewrites (OPTIMIZE — Delta's
    ``dataChange=false``) from real DML. Shared by
    :meth:`TxLogTable.read_changes` and the ``txlog`` streaming
    DataSource's offset-range planner.

    Bootstraps from the newest CHECKPOINT commit (full-file-list) at or
    below ``from_version - 1`` — found by a short backward scan (commits
    are checkpointed every ``_CHECKPOINT_EVERY``, so <= that many opens)
    — instead of folding from commit 0: a long-lived streaming tail
    polling this per trigger pays O(commits in range + checkpoint
    interval), never O(total commits).

    Each record is a dict: ``v``, ``adds``/``removes`` (TRUE file
    deltas), ``op``, plus the deletion-vector deltas a row-exact change
    feed needs: ``dv_changed`` maps a file live on BOTH sides of the
    commit whose DV descriptor changed to ``(old_desc|None,
    new_desc|None)`` (grown DV = rows deleted; shrunk/cleared — a
    restore — = rows resurrected); ``dv_removed`` maps a removed file to
    the DV it carried BEFORE the commit (so its rows are NOT re-reported
    as deletes); ``dv_added`` maps an added file to the DV it carries
    AFTER (a restore re-adding a DV'd file)."""
    entries = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    versions = [int(n.split(".")[0]) for n in entries]
    if versions and versions[0] > 0 and from_version <= versions[0]:
        # the range needs pre-horizon state (cleanup_log truncated the
        # log): computing version v's TRUE delta needs live(v-1), so any
        # from_version at or below the oldest retained commit is
        # unreconstructible — refuse loudly instead of silently
        # reporting the horizon checkpoint's full file list as one
        # giant insert. (The streaming source's clamped bootstrap WANTS
        # exactly that snapshot-as-first-batch and keeps its own, laxer
        # guard — see sources/txlog_source._deltas_full.)
        raise FileNotFoundError(
            f"change feed from version {from_version} needs state below "
            f"the retained log head (oldest commit: {versions[0]}) — "
            "those commits were deleted by cleanup_log; the CDF horizon "
            "is the log-retention horizon"
        )
    # backward scan for the bootstrap checkpoint strictly below the range
    start_idx, live, dvs = 0, set(), {}
    for i in range(len(entries) - 1, -1, -1):
        if versions[i] >= from_version:
            continue
        with open(os.path.join(log_dir, entries[i])) as fh:
            c = json.load(fh)
        if c.get("checkpoint"):
            start_idx = i + 1
            live, dvs = _checkpoint_state(log_dir, c)
            break
    per_commit: list[dict] = []
    prev, prev_dvs = set(live), dict(dvs)
    for i in range(start_idx, len(entries)):
        v = versions[i]
        if v > to_version:
            break
        with open(os.path.join(log_dir, entries[i])) as fh:
            c = json.load(fh)
        if c.get("checkpoint"):
            live, dvs = _checkpoint_state(log_dir, c)
        else:
            live = (live - set(c["removes"])) | set(c["adds"])
            for f in c["removes"]:
                dvs.pop(f, None)
            if c.get("dvs_reset") is not None:
                dvs = dict(c["dvs_reset"])
            for f, desc in (c.get("dvs") or {}).items():
                dvs[f] = desc
        if v >= from_version:
            adds = sorted(live - prev)
            removes = sorted(prev - live)
            both = live & prev
            per_commit.append(
                {
                    "v": v,
                    "adds": adds,
                    "removes": removes,
                    "op": c.get("op") or "",
                    "dv_changed": {
                        f: (prev_dvs.get(f), dvs.get(f))
                        for f in sorted(both)
                        if prev_dvs.get(f) != dvs.get(f)
                    },
                    "dv_removed": {
                        f: prev_dvs[f] for f in removes if f in prev_dvs
                    },
                    "dv_added": {f: dvs[f] for f in adds if f in dvs},
                    "cdc": c.get("cdc"),
                }
            )
        prev, prev_dvs = set(live), dict(dvs)
    return per_commit


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
        self._pmeta: tuple[list[str], "object"] | None = None
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
        t._pmeta = (pby, df.select(*pby).schema if pby else None)
        files = t._write_data(df, _pby=pby, _checks=gen_checks or None)
        schema_json = df.schema.json()
        if gen:
            schema_json = _annotate_generated(schema_json, gen)
        if ident:
            schema_json = _annotate_identity(schema_json, ident)
            meta0 = {
                c: {"start": s, "step": st, "hw": None}
                for c, (s, st) in ident.items()
            }
            if files:
                schema_json = _identity_hw_update(
                    schema_json, t._identity_new_hw(files, meta0)
                )
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
        t._pmeta = (pby, pschema if pby else None)
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
        from .deltalog import (
            _logical_schema,
            _physical_names,
            _replay_delta_log,
            _require_supported_mapping,
        )

        t = cls(spark, path)
        if os.path.exists(t.log_dir):
            raise FileExistsError(f"{t.log_dir} already exists")
        st = _replay_delta_log(spark, os.path.join(path, "_delta_log"))
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
                if any(c not in cls._partition_values(f) for c in pby)
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
        t._pmeta = (pby, pschema)
        # foreign per-file statistics adopt as-is (Delta's add.stats is
        # the same envelope this log records); files the foreign writer
        # left statless get footer-derived entries stamped by the commit
        stats0: dict[str, dict] = {}
        for f, a in st.live.items():
            s = a.get("stats")
            if not s:
                continue
            try:
                d = json.loads(s) if isinstance(s, str) else dict(s)
            except (ValueError, TypeError):
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

    def partition_meta(self) -> tuple[list[str], "object"]:
        """(partition column names, their StructType) from commit 0 —
        ``([], None)`` for unpartitioned tables. After
        :meth:`cleanup_log` truncated the log head, the OLDEST retained
        commit is a metadata-complete checkpoint carrying the same
        ``partition_by``/``partition_schema`` payload, so the fallback
        reads that instead."""
        if self._pmeta is None:
            from pyspark.sql.types import StructType

            c0_path = os.path.join(self.log_dir, _commit_name(0))
            if os.path.exists(c0_path):
                with open(c0_path) as fh:
                    c0 = json.load(fh)
            else:
                oldest = sorted(
                    f
                    for f in os.listdir(self.log_dir)
                    if f.endswith(".json")
                )
                if not oldest:
                    raise FileNotFoundError(f"no commits in {self.log_dir}")
                with open(os.path.join(self.log_dir, oldest[0])) as fh:
                    c0 = json.load(fh)
                if "partition_by" not in c0:
                    raise FileNotFoundError(
                        f"{self.log_dir}: commit 0 is gone and the oldest "
                        f"retained commit {oldest[0]} carries no partition "
                        "spec — the log head was truncated below a "
                        "metadata-complete checkpoint"
                    )
            pby = c0.get("partition_by") or []
            schema = (
                StructType.fromJson(json.loads(c0["partition_schema"]))
                if pby
                else None
            )
            self._pmeta = (pby, schema)
        return self._pmeta

    def _schema_at(self, as_of: int | None = None) -> str | None:
        """The table's EXACT Spark schema (StructType JSON) effective at
        ``as_of`` (default: latest) — the newest commit at/below it that
        recorded a ``schema`` payload. Every commit this writer produces
        records one, so reads never guess types from footers: the schema
        is authoritative per VERSION, which is what makes time travel
        across a schema evolution exact. None only for legacy logs
        written before schemas were recorded. O(commits) small-JSON reads,
        same cost class as :meth:`_replay`."""
        return schema_json_at(self.log_dir, as_of)

    def _mapping_at(self, as_of: int | None = None) -> dict | None:
        """Column mapping (logical -> physical) at ``as_of`` — see
        :func:`mapping_at`. None = identity (never renamed/dropped)."""
        return mapping_at(self.log_dir, as_of)

    def _read_files(
        self,
        files: list[str],
        schema_json: str | None = None,
        mapping=_MAPPING_DEFAULT,
        dvs: dict[str, dict] | None = None,
    ) -> DataFrame:
        """ONE parquet scan over an explicit live-file list under the
        version's RECORDED schema (``schema_json`` from :meth:`_schema_at`)
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
        pby, pschema = self.partition_meta()
        if schema_json is None and mapping is _MAPPING_DEFAULT:
            # one combined log pass for both latest-wins folds
            schema_json, mapping = schema_and_mapping_at(self.log_dir)
        elif schema_json is None:
            schema_json = self._schema_at()
        elif mapping is _MAPPING_DEFAULT:
            mapping = self._mapping_at()
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

    def _empty(self) -> DataFrame:
        """Zero-row snapshot with the table schema (incl. partition cols)."""
        schema_json = self._schema_at()
        if schema_json is not None:
            from pyspark.sql.types import StructType

            return local_df(self.spark, 
                [], StructType.fromJson(json.loads(schema_json))
            )
        pby, pschema = self.partition_meta()
        df = self.spark.read.parquet(self.path)
        if pby:
            from pyspark.sql import functions as F

            for fld in pschema.fields:
                df = df.withColumn(fld.name, F.col(fld.name).cast(fld.dataType))
        return df.limit(0)

    @staticmethod
    def _partition_values(rel_path: str) -> dict[str, str | None]:
        """Parse hive-style ``col=value`` segments out of a relative data
        file path, unescaping the %XX escapes Spark's writer applies to
        special characters. ``__HIVE_DEFAULT_PARTITION__`` is the writer's
        null sentinel → None."""
        from urllib.parse import unquote

        out: dict[str, str | None] = {}
        for seg in rel_path.split("/")[:-1]:
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            v = unquote(v)
            out[unquote(k)] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        return out

    # -------------------------------------------------------------- state

    def _replay(self, as_of: int | None = None) -> tuple[int, list[str]]:
        """Version + live file list, at the latest version or (time travel)
        at ``as_of``. Replays from the newest checkpoint (a full-file-list
        commit) at or before the requested version, not the whole log.
        Delegates to the module-level :func:`replay_log` (session-free so
        the ``txlog`` Python DataSource can run it on any process)."""
        return replay_log(self.log_dir, as_of)

    def _replay_full(
        self, as_of: int | None = None
    ) -> tuple[int, list[str], dict[str, dict]]:
        """(version, live files, deletion-vector state) — see
        :func:`replay_log_full`."""
        return replay_log_full(self.log_dir, as_of)

    def version(self) -> int:
        return self._replay()[0]

    def files(self) -> list[str]:
        return self._replay()[1]

    def dvs(self, as_of: int | None = None) -> dict[str, dict]:
        """Deletion-vector state (file -> descriptor) at ``as_of``
        (default: latest). Empty for tables that never ran merge-on-read
        DML — the common case, zero overhead on every read path."""
        return self._replay_full(as_of)[2]

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
        _v, files, dvs = self._replay_full()
        if not files:
            return self._empty()
        return self._read_files(files, self._schema_at(), dvs=dvs)

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
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if entries and version < int(entries[0].split(".")[0]):
            with open(os.path.join(self.log_dir, entries[0])) as fh:
                c0 = json.load(fh)
            if c0.get("op") == "convert_delta":
                from .deltalog import read_delta_snapshot

                return read_delta_snapshot(
                    self.spark, self.path, version=version
                )
        _v, files, dvs = self._replay_full(as_of=version)
        if not files:
            return self._empty()
        return self._read_files(
            files,
            self._schema_at(as_of=version),
            mapping=self._mapping_at(as_of=version),
            dvs=dvs,
        )

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
        out = []
        for name in sorted(f for f in os.listdir(self.log_dir) if f.endswith(".json")):
            with open(os.path.join(self.log_dir, name)) as fh:
                c = json.load(fh)
            out.append(
                {
                    "version": int(name.split(".")[0]),
                    "op": c.get("op"),
                    "n_adds": int(c.get("n_adds", len(c["adds"]))),
                    "n_removes": len(c["removes"]),
                    "n_dvs": len(c.get("dvs") or {}),
                }
            )
        return out

    # ------------------------------------------------------------- commit

    def _write_data(
        self,
        df: DataFrame,
        _pby: list[str] | None = None,
        _validate: bool = True,
        _checks: dict[str, str] | None = None,
        _mapping=_MAPPING_DEFAULT,
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
        rewrites (optimize, delete's keep-side) whose rows already passed."""
        pby = self.partition_meta()[0] if _pby is None else _pby
        if _mapping is not _MAPPING_DEFAULT:
            mapping = _mapping
        else:
            mapping = self._mapping_at() if os.path.isdir(self.log_dir) else None
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
            checks = self.checks() if _checks is None else _checks
            # generated columns enforce at the same chokepoint: whatever
            # value a write carries must null-safe-equal the generation
            # expression (Delta's explicit-write rule) — DML/merge paths
            # therefore cannot silently desynchronize a generated column
            # from its sources
            gen = self.generated_exprs()
            if gen:
                checks = {**_generated_checks(gen), **checks}
        else:
            checks = {}
        if checks and names:
            self._enforce_checks(names, checks, pby, mapping=mapping)
        return names

    def _enforce_checks(
        self,
        names: list[str],
        checks: dict[str, str],
        pby: list[str],
        mapping=_MAPPING_DEFAULT,
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
        if pby:
            pschema = self.partition_meta()[1]
            for fld in pschema.fields:
                if fld.name not in schema.fieldNames():
                    schema = schema.add(fld)
        reader = self.spark.read.schema(schema)
        if pby:
            reader = reader.option("basePath", self.path)
        scan = reader.parquet(*paths)
        if mapping is _MAPPING_DEFAULT:
            mapping = self._mapping_at()
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
        """Per-file column (min, max) envelopes from the parquet footers —
        the statistics Delta stores per add-entry for data skipping (Delta
        paper §4.4). Derived here from footers at query time; persisting
        them into the commit at write time is the same information one hop
        earlier. Footer reads are metadata-only (no row groups touched).
        ``files`` defaults to the latest snapshot's live list; DML passes
        an explicit replay-consistent list so retry loops stat the exact
        snapshot they are about to commit against."""
        import pyarrow.parquet as pq

        stats: dict[str, dict] = {}
        for f in self.files() if files is None else files:
            md = pq.ParquetFile(os.path.join(self.path, f)).metadata
            env: dict[str, tuple] = {}
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if columns is not None and name not in columns:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = st.min, st.max
                    if name in env:
                        env[name] = (min(env[name][0], lo), max(env[name][1], hi))
                    else:
                        env[name] = (lo, hi)
            stats[f] = env
        return stats

    def stats_at(self, as_of: int | None = None) -> dict[str, dict]:
        """Per-file recorded statistics at ``as_of`` (default: latest):
        ``{rel_path: {"numRecords", "minValues", "maxValues",
        "nullCount"}}`` — the log-side fold (:func:`replay_stats`).
        Files committed before stats recording existed are absent;
        consumers fall back to footers for those."""
        return replay_stats(self.log_dir, as_of)

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
        _v, files, dvs = self._replay_full(as_of)
        stats = self.stats_at(as_of)
        total = 0
        for f in files:
            n = (stats.get(f) or {}).get("numRecords")
            if n is None:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(
                    os.path.join(self.path, f)
                ).metadata.num_rows
            total += int(n)
        total -= sum(int(d.get("cardinality", 0)) for d in dvs.values())
        return total

    def read_where(self, column: str, lo, hi) -> DataFrame:
        """Snapshot read with FILE-LEVEL skipping: only files whose footer
        (min, max) envelope for ``column`` overlaps [lo, hi] are handed to
        the scan; the residual row filter is applied on top (skipping is an
        optimization, never a semantics change). Files lacking stats for
        the column are conservatively kept.

        On a PARTITION column the skip needs no footers at all: the value
        is parsed from the file's ``col=value`` directory name and compared
        driver-side — untouched partitions are never listed, opened, or
        read, the partition-pruning contract a 100 TB fact table relies on.
        Null partitions (``__HIVE_DEFAULT_PARTITION__``) are skipped: a
        null never satisfies the range residual."""
        from pyspark.sql import functions as F

        _v, files, dvs = self._replay_full()
        kept = self._prune_files(files, column, lo, hi)
        if not kept:
            return self.read().filter(F.lit(False))
        df = self._read_files(kept, self._schema_at(), dvs=dvs)
        return df.filter((F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi)))

    def _prune_files(self, files: list[str], column: str, lo, hi) -> list[str]:
        """The file subset of ``files`` that may hold rows with ``column``
        in [lo, hi]: directory-name comparison for partition columns (zero
        I/O), footer (min, max) envelopes otherwise (metadata-only reads).
        Shared by :meth:`read_where` and the DML prune hints; takes the
        file list explicitly so DML retry loops prune the replay-consistent
        snapshot they will commit against. String bounds against a
        non-string column are coerced through the partition-value parser
        (the type the SQL front-end cannot know: ``'2024-03-01'`` against
        a DATE partition compares as a date, not a string)."""
        pby, pschema = self.partition_meta()
        if column in pby:
            fld = pschema[column].dataType
            from pyspark.sql.types import StringType

            if not isinstance(fld, StringType):
                if isinstance(lo, str):
                    lo = _parse_partition_value(lo, fld)
                if isinstance(hi, str):
                    hi = _parse_partition_value(hi, fld)
                if lo is None or hi is None:
                    raise ValueError(
                        f"prune bounds for {column!r} do not parse as {fld}"
                    )
            kept = []
            for f in files:
                raw = self._partition_values(f).get(column)
                if raw is None:
                    continue
                v = _parse_partition_value(raw, fld)
                if v is None:
                    kept.append(f)  # unparseable: conservatively keep
                elif lo <= v <= hi:
                    kept.append(f)
            return kept
        # string bounds against a typed non-partition column: coerce via
        # the recorded schema (same promise as the partition branch —
        # footer envelopes are typed values, not strings)
        if isinstance(lo, str) or isinstance(hi, str):
            sj = self._schema_at()
            if sj is not None:
                from pyspark.sql.types import StringType, StructType

                schema = StructType.fromJson(json.loads(sj))
                if column in schema.fieldNames() and not isinstance(
                    schema[column].dataType, StringType
                ):
                    dt = schema[column].dataType
                    if isinstance(lo, str):
                        lo = _parse_partition_value(lo, dt)
                    if isinstance(hi, str):
                        hi = _parse_partition_value(hi, dt)
                    if lo is None or hi is None:
                        raise ValueError(
                            f"prune bounds for {column!r} do not parse as {dt}"
                        )
        # stats (log-recorded and footer alike) carry PHYSICAL column
        # names on a column-mapped table
        mapping = self._mapping_at()
        phys = (mapping or {}).get(column, column)
        dt = None
        sj = self._schema_at()
        if sj is not None:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(sj))
            if column in schema.fieldNames():
                dt = schema[column].dataType
        # LOG-RECORDED envelopes first: zero I/O of any kind — the prune
        # decision for a stats-carrying file is a driver-side compare
        # against state already folded from the commit log, which is the
        # difference between "plan time opens every footer over the
        # network" and "plan time opens nothing" on a 100 TB table.
        # Files without usable log stats fall back to footer envelopes.
        log_stats = self.stats_at() if dt is not None else {}
        keep: set[str] = set()
        need_footer: list[str] = []
        for f in files:
            env = log_stats.get(f)
            if env is None:
                need_footer.append(f)
                continue
            n = env.get("numRecords")
            nc = (env.get("nullCount") or {}).get(phys)
            if n is not None and nc is not None and int(nc) == int(n):
                # every value is NULL: no row can satisfy a range
                # residual, drop the file without touching it
                continue
            slo = _coerce_stat((env.get("minValues") or {}).get(phys), dt)
            shi = _coerce_stat((env.get("maxValues") or {}).get(phys), dt)
            if slo is None or shi is None:
                need_footer.append(f)
                continue
            if slo <= hi and shi >= lo:
                keep.add(f)
        for f, env in self.file_stats([phys], files=need_footer).items():
            if phys not in env or (env[phys][0] <= hi and env[phys][1] >= lo):
                keep.add(f)
        return [f for f in files if f in keep]

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
        schema_json: str | None,
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
        pby, pschema = self.partition_meta()
        if schema_json is None:
            schema_json = self._schema_at()
        mapping = self._mapping_at()
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
        schema_json: str | None,
        mapping: dict | None,
    ) -> DataFrame:
        """The rows of ``files`` whose (RELATIVE path, in-file row index)
        appears in ``idx_df`` (columns ``file``, ``row_index``) — the
        row-exact read a deletion-vector change feed needs: one scan of
        only the affected files (per basename-collision group), one
        broadcast semi-join on metadata columns, no Python in the row
        path."""
        from pyspark.sql.types import StructType

        pby, _pschema = self.partition_meta()
        schema = StructType.fromJson(json.loads(schema_json))
        physical = _physical_struct(schema, mapping)
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
        self, candidates: list[str], cond, dvs: dict[str, dict] | None = None
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
            self._scan_with_filepath(candidates, self._schema_at(), dvs=dvs)
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
        """``DELETE FROM t WHERE condition`` as an atomic copy-on-write
        commit: only files that CONTAIN matching rows are rewritten
        (without those rows); every other file is carried over untouched
        in the log — at 100 TB a delete hitting 0.1% of rows rewrites
        0.1%-ish of files, not the table. Rows where the condition is
        NULL are kept (SQL DELETE semantics: only TRUE deletes).

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
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if mode == "dv":
            if cdc:
                raise ValueError(
                    "cdc=True is redundant with mode='dv': deletion-"
                    "vector commits already feed row-exact deltas — "
                    "read_changes() derives the changed rows from the "
                    "DV delta directly; drop cdc=True"
                )
            return self._dml_dv(cond, None, prune, max_retries, op="delete")
        if mode != "cow":
            raise ValueError(f"unknown DML mode {mode!r} (cow|dv)")
        rt_on = self.row_tracking_enabled()
        for _attempt in range(max_retries + 1):
            base_version, base_files, dvs = self._replay_full()
            cands = (
                self._prune_files(base_files, *prune) if prune else base_files
            )
            touched = self._touched_files(cands, cond, dvs=dvs)
            schema_json = self._schema_at()
            adds: list[str] = []
            cdc_rel: str | None = None
            persisted = None
            if touched:
                # row tracking: the kept rows of the rewritten files
                # carry their stable ids BY VALUE into the new files
                # (_rt_cow_read materializes them) — the id survives the
                # copy-on-write rewrite exactly as it does an OPTIMIZE
                base_df = (
                    self._rt_cow_read(touched, schema_json, dvs)
                    if rt_on
                    else self._read_files(touched, schema_json, dvs=dvs)
                )
                hit = F.coalesce(cond, F.lit(False))
                if cdc:
                    # SINGLE-PASS (round 11): evaluate the condition ONCE
                    # into a persisted flag so the kept rows and the
                    # sidecar partition the file's rows EXACTLY — a
                    # nondeterministic condition evaluated twice could
                    # both keep and record-as-deleted the same row
                    persisted = base_df.withColumn("__hit", hit).persist(
                        StorageLevel.MEMORY_AND_DISK
                    )
                    keep = persisted.filter(~F.col("__hit")).drop("__hit")
                else:
                    keep = base_df.filter(~hit)
                # kept rows are unchanged — already satisfy every CHECK
                try:
                    adds = self._write_data(keep, _validate=False)
                    if cdc:
                        # the change feed is LOGICAL rows — the
                        # physical-only row-id column never leaks into it
                        cdc_rel = self._write_cdc(
                            persisted.filter("__hit")
                            .drop("__hit", _ROW_ID_PHYS)
                            .withColumn("_change_type", F.lit("delete"))
                        )
                except Exception:
                    # pre-commit failure: don't leak the cached frame
                    if persisted is not None:
                        persisted.unpersist()
                    raise
            try:
                return self._commit_dml(
                    adds=adds, removes=touched, base_version=base_version,
                    op="delete", schema=schema_json, cdc=cdc_rel,
                )
            except CommitConflict:
                for f in adds:
                    os.remove(os.path.join(self.path, f))
                if cdc_rel is not None:
                    os.remove(os.path.join(self.path, cdc_rel))
            finally:
                if persisted is not None:
                    persisted.unpersist()
        raise CommitConflict(f"delete gave up after {max_retries} retries")

    def update_where(
        self,
        condition,
        assignments: dict,
        prune: tuple[str, object, object] | None = None,
        max_retries: int = 3,
        mode: str = "cow",
        cdc: bool = False,
    ) -> int:
        """``UPDATE t SET ... WHERE condition`` as an atomic copy-on-write
        commit — same touched-file discovery, rewrite, and retry contract
        as :meth:`delete_where`. ``assignments`` maps column name ->
        Column/SQL-string; right-hand sides see the PRE-update row (SQL
        UPDATE semantics — all assignments evaluate against old values,
        so ``{"a": "b", "b": "a"}`` swaps). Assigned values are cast to
        the column's existing type, so the table schema never drifts.
        Updating a partition column is allowed: the rewrite's
        partitionBy write moves rows to their new directories and the
        commit retires the old files — exactly how a copy-on-write
        lakehouse handles partition-key updates.

        ``mode='dv'`` is MERGE-ON-READ: matched rows' positions go into a
        deletion-vector sidecar and ONLY the updated rows are written as
        new files — bytes written scale with matched rows, not touched
        files. The new rows run the normal CHECK gate.

        ``cdc=True`` writes the exact pre/post images into a change-data
        sidecar — SINGLE-PASS since round 11: the match flag and the
        post-assignment values are evaluated once into a persisted frame
        that feeds both the rewrite and the sidecar, so nondeterministic
        conditions/assignments (``rand()``, a view over shifting data)
        and generated-column recomputes can never desynchronize the feed
        from the committed rows. Same shape as
        ``merge_into_txlog(cdc=True)``."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        from pyspark.sql.types import StructType

        schema_json0 = self._schema_at()
        if schema_json0 is not None:
            target = StructType.fromJson(json.loads(schema_json0))
        else:
            # Legacy log with no recorded schema: the snapshot's schema
            # (footer fallback inside _read_files) is the target types.
            target = self.read().schema
        fields = {f.name: f.dataType for f in target.fields}
        unknown = sorted(set(assignments) - set(fields))
        if unknown:
            raise ValueError(f"update_where assigns absent columns: {unknown}")
        ident_assigned = sorted(set(assignments) & set(self.identity_meta()))
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
        recompute = self._gen_recompute(assignments)
        hit = F.coalesce(cond, F.lit(False))
        if mode == "dv":
            if cdc:
                raise ValueError(
                    "cdc=True is redundant with mode='dv': deletion-"
                    "vector commits already feed row-exact deltas — "
                    "read_changes() derives the changed rows from the "
                    "DV delta directly; drop cdc=True"
                )
            return self._dml_dv(cond, sets, prune, max_retries, op="update")
        if mode != "cow":
            raise ValueError(f"unknown DML mode {mode!r} (cow|dv)")
        rt_on = self.row_tracking_enabled()
        for _attempt in range(max_retries + 1):
            base_version, base_files, dvs = self._replay_full()
            cands = (
                self._prune_files(base_files, *prune) if prune else base_files
            )
            touched = self._touched_files(cands, cond, dvs=dvs)
            schema_json = self._schema_at()
            adds: list[str] = []
            cdc_rel: str | None = None
            persisted = None
            if touched:
                # row tracking: every rewritten row (updated or carried)
                # keeps its stable id BY VALUE — _rt_cow_read attaches
                # the concrete id as an ordinary column, no assignment
                # ever touches it, and the rewrite writes it back
                df = (
                    self._rt_cow_read(touched, schema_json, dvs)
                    if rt_on
                    else self._read_files(touched, schema_json, dvs=dvs)
                )
                logical_cols = [c for c in df.columns if c != _ROW_ID_PHYS]
                need_flags = recompute or cdc
                if need_flags:
                    # the condition is evaluated at EXACTLY ONE site (the
                    # withColumn) and only the resulting column is
                    # referenced afterwards: the same nondeterministic
                    # Column object used at two sites of one projection
                    # gets independently-seeded evaluations (verified —
                    # rand() at a when() site and a flag site disagree
                    # per row), which would desync the flag from the
                    # assignments
                    flagged = df.withColumn("__hit", hit)
                    flat = flagged.select(
                        *[
                            F.when(F.col("__hit"), sets[c])
                            .otherwise(F.col(c))
                            .alias(c)
                            if c in sets
                            else F.col(c)
                            for c in df.columns
                        ],
                        F.col("__hit"),
                        *(
                            [
                                F.struct(
                                    *[F.col(c) for c in logical_cols]
                                ).alias("__pre")
                            ]
                            if cdc
                            else []
                        ),
                    )
                else:
                    flat = df.select(
                        *[
                            F.when(hit, sets[c]).otherwise(F.col(c)).alias(c)
                            if c in sets
                            else F.col(c)
                            for c in df.columns
                        ]
                    )
                if recompute:
                    # second phase over the POST-assignment frame, so the
                    # generation expressions see the updated sources; the
                    # match flag was captured against PRE values (the
                    # condition may reference an updated column)
                    for g, e in recompute.items():
                        flat = flat.withColumn(
                            g,
                            F.when(
                                F.col("__hit"), F.expr(e).cast(fields[g])
                            ).otherwise(F.col(g)),
                        )
                if cdc:
                    # SINGLE-PASS (round 11): the persisted frame feeds
                    # BOTH the rewrite and the sidecar — nondeterministic
                    # conditions/assignments and generated-column
                    # recomputes are materialized once, so the feed can
                    # never diverge from the committed rows (the
                    # recomputed post-images land in the sidecar)
                    persisted = flat.persist(StorageLevel.MEMORY_AND_DISK)
                    flat = persisted
                try:
                    adds = self._write_data(flat.select(*df.columns))
                except Exception:
                    if persisted is not None:
                        persisted.unpersist()
                    raise
                if cdc:
                    # rows whose assignments are NO-OPS are not changes:
                    # the netted file-delta feed cancels their identical
                    # delete+insert pair, so the sidecar must omit them
                    # too — both feed forms stay row-identical
                    changed = flat.filter("__hit").filter(
                        ~F.col("__pre").eqNullSafe(
                            F.struct(*[F.col(c) for c in logical_cols])
                        )
                    )
                    # sidecar carries Delta CDF's update_pre/postimage
                    # tags (external _change_data consumers distinguish
                    # updates); the internal feed maps them back to
                    # delete/insert in _read_cdc
                    pre = changed.select("__pre.*").withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    post = changed.select(*logical_cols).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                    try:
                        cdc_rel = self._write_cdc(pre.unionByName(post))
                    except Exception:
                        persisted.unpersist()
                        raise
            try:
                return self._commit_dml(
                    adds=adds, removes=touched, base_version=base_version,
                    op="update", schema=schema_json, cdc=cdc_rel,
                )
            except CommitConflict:
                for f in adds:
                    os.remove(os.path.join(self.path, f))
                if cdc_rel is not None:
                    os.remove(os.path.join(self.path, cdc_rel))
            finally:
                if persisted is not None:
                    persisted.unpersist()
        raise CommitConflict(f"update gave up after {max_retries} retries")

    def _write_sidecar(self, df: DataFrame) -> str:
        """Write one deletion-vector sidecar (columns ``file`` = data-file
        RELATIVE path — descriptors mark ``pathkey: rel``; pre-change
        sidecars keyed basenames and still read via the legacy branch of
        :meth:`_sidecar_rows` — ``row_index`` = in-file row position)
        under ``_dv/`` and
        return its table-relative path. One file: a DV is O(deleted rows)
        — by the time it is big enough for one file to matter, COW/OPTIMIZE
        is the right tool (the documented compaction story)."""
        import shutil

        os.makedirs(os.path.join(self.path, "_dv"), exist_ok=True)
        tmp = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        df.select(
            F.col("file").cast("string"), F.col("row_index").cast("long")
        ).coalesce(1).write.parquet(tmp)
        rel = f"_dv/dv-{uuid.uuid4().hex}.parquet"
        for f in sorted(os.listdir(tmp)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.rename(os.path.join(tmp, f), os.path.join(self.path, rel))
                break
        shutil.rmtree(tmp)
        return rel

    def _write_cdc(self, df: DataFrame) -> str:
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
        import shutil

        mapping = self._mapping_at()
        if mapping:
            df = df.select(
                *[
                    F.col(c).alias(mapping.get(c, c))
                    for c in df.columns
                    if c != "_change_type"
                ],
                "_change_type",
            )
        os.makedirs(os.path.join(self.path, "_cdc"), exist_ok=True)
        tmp = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        df.coalesce(1).write.parquet(tmp)
        rel = f"_cdc/cdc-{uuid.uuid4().hex}.parquet"
        for f in sorted(os.listdir(tmp)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.rename(os.path.join(tmp, f), os.path.join(self.path, rel))
                break
        shutil.rmtree(tmp)
        return rel

    def _read_cdc(
        self, rel: str, schema_json: str | None, mapping: dict | None, v: int
    ) -> DataFrame:
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
        prune: tuple[str, object, object] | None,
        max_retries: int,
        op: str,
    ) -> int:
        """Merge-on-read DELETE (``sets=None``) / UPDATE: record matched
        row POSITIONS in a deletion-vector sidecar instead of rewriting
        the touched files — the public Delta deletion-vector design.
        Per attempt: (1) one discovery scan over the (pruned, DV-applied)
        candidates collects per-file matched counts — bounded at
        O(touched files), the same class as COW's touched-file list;
        (2) UPDATE writes ONLY the matched rows, post-assignment, as new
        files (normal CHECK gate); (3) one sidecar gets the matched
        positions plus the touched files' PRIOR vectors (a file's DV is
        always the full union, so a reader needs exactly one sidecar per
        file); (4) files whose vector would cover every row are retired
        outright (remove, no DV). Bytes written scale with matched rows
        — the sliver-DML cost model COW cannot give (SCALING.md)."""
        import pyarrow.parquet as pq

        from pyspark.sql.types import LongType, StructField

        hit = F.coalesce(cond, F.lit(False))
        rt_on = sets is not None and self.row_tracking_enabled()
        for _attempt in range(max_retries + 1):
            base_version, base_files, dvs = self._replay_full()
            cands = (
                self._prune_files(base_files, *prune) if prune else base_files
            )
            schema_json = self._schema_at()
            scan = self._scan_with_filepath(
                cands,
                schema_json,
                dvs=dvs,
                # row tracking: the UPDATE's post-image rows must carry
                # their OLD ids — read any materialized values alongside
                extra_fields=(
                    [StructField(_ROW_ID_PHYS, LongType(), True)]
                    if rt_on
                    else None
                ),
            )
            # PERSISTED (round 11): the matched frame feeds THREE actions
            # — the per-file counts, the update post-images, and the
            # sidecar positions. Re-evaluating a nondeterministic
            # condition across them could record a DV cardinality that
            # disagrees with the masked positions and wrongly retire a
            # file with live rows; one materialization (O(matched rows),
            # the DV cost model's own budget) single-sources all three.
            matched = scan.filter(hit).persist(StorageLevel.MEMORY_AND_DISK)
            # per-file match counts keyed by the scan's file-path URI,
            # decoded to relative paths driver-side (_rel_path handles
            # the URI percent-encoding exactly once) — O(touched files)
            uri_rows = (
                matched.select(F.col("__file").alias("u"))
                .groupBy("u")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            rel_by_uri = {r["u"]: self._rel_path(r["u"]) for r in uri_rows}
            counts = {rel_by_uri[r["u"]]: r["n"] for r in uri_rows}
            if not counts:
                matched.unpersist()
                try:
                    # faithful history: a no-op DML still commits (same
                    # contract as the COW path — and it rebases like any
                    # other DML commit, review finding round 10)
                    return self._commit_dml(
                        adds=[], removes=[], base_version=base_version,
                        op=op, schema=schema_json,
                    )
                except CommitConflict:
                    continue
            touched = sorted(counts)
            adds: list[str] = []
            if sets is not None:
                data_cols = [
                    c
                    for c in matched.columns
                    if c not in ("__file", "__ridx", _ROW_ID_PHYS)
                ]
                src = matched
                rt_sel: list = []
                if rt_on:
                    # stable ids ride into the post-image files: old id =
                    # materialized value if present, else base + row
                    # index — the (uri -> base) map is driver-built from
                    # the counts collect above, O(touched files)
                    rt_bases, _rhw = self.row_tracking_meta()
                    miss = [
                        r for r in rel_by_uri.values() if r not in rt_bases
                    ]
                    if miss:
                        raise ValueError(
                            f"row tracking state missing for {miss[:3]}"
                        )
                    bmap = F.broadcast(
                        local_df(self.spark, 
                            [
                                (u, int(rt_bases[r]))
                                for u, r in rel_by_uri.items()
                            ],
                            "__file string, __rtbase long",
                        )
                    )
                    src = matched.join(bmap, "__file", "left")
                    rt_sel = [
                        F.coalesce(
                            F.col(_ROW_ID_PHYS),
                            F.col("__rtbase") + F.col("__ridx"),
                        ).alias(_ROW_ID_PHYS)
                    ]
                updated = src.select(
                    *[
                        sets[c].alias(c) if c in sets else F.col(c)
                        for c in data_cols
                    ],
                    *rt_sel,
                )
                # every row here matched, so generated-column recompute
                # is a plain second projection over the post frame
                for g, e in self._gen_recompute(set(sets)).items():
                    updated = updated.withColumn(
                        g, F.expr(e).cast(updated.schema[g].dataType)
                    )
                try:
                    adds = self._write_data(updated)
                except Exception:
                    matched.unpersist()
                    raise
            # sidecar rows key by RELATIVE path: a tiny broadcast-joined
            # (URI -> relative path) mapping built from the counts
            # collect above (no extra job, O(touched files) rows)
            uri_map = local_df(self.spark, 
                list(rel_by_uri.items()), "__file string, file string"
            )
            new_rows = (
                matched.select("__file", F.col("__ridx").alias("row_index"))
                .join(F.broadcast(uri_map), "__file")
                .select("file", "row_index")
            )
            old_df = self._dv_frame(dvs, touched)
            dv_union = (
                new_rows if old_df is None else new_rows.unionByName(old_df)
            )
            sidecar: str | None = self._write_sidecar(dv_union)
            removes, dv_updates = [], {}
            for rel in touched:
                # matched rows are disjoint from the prior vector (the
                # discovery scan was DV-applied), so the new cardinality
                # is exact without a recount
                card = counts[rel] + int(
                    (dvs.get(rel) or {}).get("cardinality") or 0
                )
                nrows = pq.ParquetFile(
                    os.path.join(self.path, rel)
                ).metadata.num_rows
                if card >= nrows:
                    removes.append(rel)
                else:
                    dv_updates[rel] = {
                        "sidecar": sidecar,
                        "cardinality": card,
                        "pathkey": "rel",
                    }
            if not dv_updates:
                # every touched file fully covered — the sidecar is
                # referenced by nothing
                os.remove(os.path.join(self.path, sidecar))
                sidecar = None
            try:
                return self._commit_dml(
                    adds=adds, removes=removes, base_version=base_version,
                    op=op, schema=schema_json, dvs=dv_updates or None,
                )
            except CommitConflict:
                if sidecar is not None:
                    os.remove(os.path.join(self.path, sidecar))
                for f in adds:
                    os.remove(os.path.join(self.path, f))
            finally:
                matched.unpersist()
        raise CommitConflict(f"{op} (dv) gave up after {max_retries} retries")

    def _touched_by_keys(
        self,
        files: list[str],
        source: DataFrame,
        keys: list[str],
        dvs: dict[str, dict] | None = None,
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
        scan = self._scan_with_filepath(files, self._schema_at(), dvs=dvs)
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

        _va, files_old, dvs_old = self._replay_full(as_of=v_old)
        _vb, files_new, dvs_new = self._replay_full(as_of=v_new)
        # both sides read under v_new's schema: files predating an
        # evolution null-fill the added columns, so the change feed has
        # ONE schema and an update still cancels into its delete+insert
        schema_new = self._schema_at(as_of=v_new)
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

        mapping_new = self._mapping_at(as_of=v_new)

        def _read(files: list[str], dvs: dict) -> DataFrame | None:
            if not files:
                return None
            return self._read_files(
                files, schema_new, mapping=mapping_new, dvs=dvs
            )

        old_df, new_df = _read(only_old, dvs_old), _read(only_new, dvs_new)
        if old_df is None and new_df is None:
            return self.read().limit(0).withColumn("change_type", F.lit(""))
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
        latest = self.version()
        to_version = latest if to_version is None else int(to_version)
        from_version = int(from_version)
        if not 0 <= from_version <= to_version <= latest:
            raise ValueError(
                f"invalid change range [{from_version}, {to_version}] "
                f"for table at version {latest}"
            )
        schema = self._schema_at(as_of=to_version)
        mp = self._mapping_at(as_of=to_version)
        parts: list[DataFrame] = []
        # CONVERT FROM DELTA keeps ONE continuous version space: the
        # adoption commit sits at the foreign latest version, and every
        # version at/below it is PRE-ADOPTION history — served straight
        # from the coexisting _delta_log (deltalog.read_delta_changes),
        # aligned to the feed schema so post-adoption column evolution
        # null-fills. The adoption commit itself is included there (its
        # txlog file-delta would be the full snapshot, which is NOT what
        # delta version N changed).
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        oldest = int(entries[0].split(".")[0]) if entries else 0
        if from_version <= oldest and oldest > 0:
            with open(os.path.join(self.log_dir, entries[0])) as fh:
                c0 = json.load(fh)
            if c0.get("op") == "convert_delta":
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
                parts.append(self._read_cdc(rec["cdc"], schema, mp, v))
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
                self._read_files(adds, schema, mapping=mp, dvs=rec["dv_added"])
                if adds
                else None
            )
            dels = (
                self._read_files(
                    removes, schema, mapping=mp, dvs=rec["dv_removed"]
                )
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
                        self._rows_at_indices(sorted(fs), idx_df, schema, mp)
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
                base = self.read().limit(0)  # legacy log: no recorded schema
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
    ) -> None:
        """Atomically create commit ``version``; raise CommitConflict if a
        racing writer got there first (O_EXCL create is the arbiter).
        ``extra`` carries commit-0-only table metadata (partition spec)."""
        is_ckpt = op in (
            "create", "convert", "convert_delta", "cleanup_log"
        ) or (version % _CHECKPOINT_EVERY == 0 and version > 0)
        extra = dict(extra or {})
        # per-file statistics stamped at the commit that ADDS the file
        # (Delta's add.stats, one hop earlier than deriving them from
        # footers at query time): numRecords powers metadata-only
        # COUNT(*), min/max envelopes power zero-I/O file skipping. The
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
        if is_ckpt and op not in ("create", "convert", "convert_delta"):
            # checkpoint commits carry the FULL post-commit file list AND
            # the full post-commit deletion-vector state (so replays
            # bootstrapping here need no earlier commit)
            _v, live, dvstate = self._replay_full()
            new_dvs = dict(dvstate)
            for f in removes:
                new_dvs.pop(f, None)
            if extra.get("dvs_reset") is not None:
                new_dvs = dict(extra.pop("dvs_reset"))
            # keep the per-commit "dvs" delta alongside the full state:
            # every fold reads dvs_state on checkpoints (the delta is
            # inert there), but history()/DESCRIBE HISTORY/byte probes
            # report a DV DML landing on a checkpoint boundary from it
            new_dvs.update(extra.get("dvs") or {})
            extra["dvs_state"] = new_dvs
            # the stats fold mirrors the DV fold: full post-commit state
            # on every checkpoint so bootstrapping folds (and cleanup_log
            # truncation) never lose a retained file's envelope
            new_stats = replay_stats(self.log_dir)
            for f in removes:
                new_stats.pop(f, None)
            if extra.get("stats_reset") is not None:
                new_stats = dict(extra.pop("stats_reset"))
            new_stats.update(extra.get("stats") or {})
            extra["stats_state"] = new_stats
            adds = sorted((set(live) - set(removes)) | set(adds))
            removes = []
            # METADATA-COMPLETE checkpoints: also stamp the full
            # post-commit schema / column mapping / CHECK set / partition
            # spec / per-app streaming-txn high-waters, so every fold can
            # bootstrap at this commit alone — the precondition for
            # :meth:`cleanup_log` deleting the commits below it. setdefault
            # keeps any state the op itself carries (restore's
            # checks_reset, rename's column_mapping). The extra folds are
            # O(commits) small-JSON reads ONCE per _CHECKPOINT_EVERY
            # commits — same cost class as the _replay_full above.
            if extra.get("schema") is None:
                sj = self._schema_at()
                if sj is not None:
                    extra["schema"] = sj
            if "column_mapping" not in extra:
                m = self._mapping_at()
                if m is not None:
                    extra["column_mapping"] = m
            if "checks_reset" not in extra:
                cur_checks = self.checks()
                ck = extra.get("check")
                if ck and op == "add_check":
                    cur_checks[ck["name"]] = ck["expr"]
                elif ck and op == "drop_check":
                    cur_checks.pop(ck["name"], None)
                extra["checks_reset"] = cur_checks
            if "properties_reset" not in extra:
                # same lifecycle as checks_reset: the checkpoint snapshots
                # the POST-commit property state (a set/unset landing on a
                # checkpoint boundary folds its own delta in)
                cur_props = self.properties()
                for k, v in (extra.get("properties") or {}).items():
                    if v is None:
                        cur_props.pop(k, None)
                    else:
                        cur_props[k] = v
                extra["properties_reset"] = cur_props
            pby, pschema = self.partition_meta()
            extra.setdefault("partition_by", pby)
            extra.setdefault(
                "partition_schema", pschema.json() if pby else None
            )
            txns = self._txns_state()
            t = extra.get("txn")
            if t is not None:
                app, tv = str(t["appId"]), int(t["version"])
                txns[app] = max(txns.get(app, tv), tv)
            extra["txns_state"] = txns
            if "clustering" not in extra:
                # snapshot even the EMPTY list: an un-cluster commit
                # truncated by cleanup must not let an older retained
                # checkpoint's columns resurrect
                extra["clustering"] = self.clustering_columns()
            if "converted_from_iceberg" not in extra:
                # the Iceberg-adoption marker must SURVIVE cleanup_log:
                # it lives natively only in commit 0, and to_iceberg's
                # refusal reads the retained log — if truncation lost
                # it, a re-export would append txlog-version snapshots
                # into the stale pre-adoption snapshot/sequence space.
                # Every metadata-complete checkpoint therefore re-stamps
                # it, and cleanup's horizon is always such a checkpoint,
                # so the oldest retained commit carries it forever
                # (induction: at stamping time the oldest retained
                # commit is commit 0 or an earlier stamped checkpoint).
                m = self._iceberg_adoption_marker()
                if m is not None:
                    extra["converted_from_iceberg"] = m
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
        _props_delta = extra.get("properties") or {}
        _rt_switch = _props_delta.get("delta.enableRowTracking")
        if _rt_switch is not None:
            _rt_on = str(_rt_switch) == "true"
        elif extra.get("properties_reset") is not None:
            _rt_on = (
                extra["properties_reset"].get("delta.enableRowTracking")
                == "true"
            )
        else:
            _rt_on = (
                version > 0
                and self.properties().get("delta.enableRowTracking")
                == "true"
            )
        if _rt_on:
            bases, hw = self.row_tracking_meta()
            reset = extra.get("row_base_reset")
            known = dict(reset) if reset is not None else bases
            if reset is not None:
                hw = max(hw, int(extra.get("row_hw", hw)))
            todo = [f for f in adds if f not in known]
            if str(_rt_switch) == "true":
                # enablement backfill: every live file lacking a base
                _lv, live = self._replay()
                todo += sorted(
                    set(live) - set(removes) - set(adds) - set(known)
                )
            rb: dict[str, int] = {}
            if todo:
                stfold = None
                for f in todo:
                    n = (
                        (extra.get("stats") or {}).get(f) or {}
                    ).get("numRecords")
                    if n is None:
                        if stfold is None:
                            stfold = replay_stats(self.log_dir)
                        n = (stfold.get(f) or {}).get("numRecords")
                    if n is None:
                        import pyarrow.parquet as _pq

                        n = _pq.ParquetFile(
                            os.path.join(self.path, f)
                        ).metadata.num_rows
                    rb[f] = hw + 1
                    hw += int(n)
            if reset is not None:
                if rb:
                    extra["row_base_reset"] = {**reset, **rb}
                extra["row_hw"] = hw
            elif rb:
                extra["row_base"] = rb
                extra["row_hw"] = hw
            _rt_ckpt_bases: dict | None = (
                {**bases, **(dict(reset) if reset else {}), **rb}
                if is_ckpt
                else None
            )
            _rt_ckpt_hw = hw
        elif is_ckpt:
            # property currently FALSE but state may exist: row-tracking
            # state persists on every metadata-complete checkpoint once
            # it exists, independent of the live property — otherwise
            # cleanup_log could truncate every commit holding the
            # watermark, and a later re-enable would backfill from hw=-1
            # while optimized files still hold old materialized
            # _rt_row_id values (duplicate ids; watermark monotonicity
            # silently lost). Review finding, round 11.
            _ck_bases, _ck_hw = self.row_tracking_meta()
            _ck_reset = extra.get("row_base_reset")
            if _ck_reset is not None:
                _ck_bases = dict(_ck_reset)
                _ck_hw = max(_ck_hw, int(extra.get("row_hw", _ck_hw)))
            if _ck_hw >= 0 or _ck_bases:
                _rt_ckpt_bases = dict(_ck_bases)
                _rt_ckpt_hw = _ck_hw
            else:
                _rt_ckpt_bases = None
        else:
            _rt_ckpt_bases = None
        if is_ckpt and _rt_ckpt_bases is not None:
            # full-state snapshot for live files, so the fold (and
            # cleanup_log truncation) never loses a retained file's
            # base — same lifecycle as dvs_state/stats_state
            extra["row_base_state"] = {
                f: _rt_ckpt_bases[f] for f in adds if f in _rt_ckpt_bases
            }
            extra["row_hw"] = _rt_ckpt_hw
        ckpt_sidecar: str | None = None
        if (
            is_ckpt
            and op not in ("create", "convert", "convert_delta")
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
        diffing the commit's file delta."""
        # Delta's delta.appendOnly contract, enforced at the protocol
        # chokepoint exactly as Delta does: a DML/MERGE commit that
        # retires files or grows deletion vectors is refused; appends,
        # insert-only merges, no-op DML, OPTIMIZE (row-preserving) and
        # metadata commits stay legal.
        if (
            (removes or dvs)
            and op in ("delete", "update", "merge")
            and self.properties().get("delta.appendOnly") == "true"
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
            # pre-computed per-add stats entries (optimize's clustering
            # tag rides here) — _try_commit trusts supplied entries and
            # footer-fills only the missing files
            extra["stats"] = stats
        self._try_commit(
            base_version + 1, adds, removes, op, extra=extra or None
        )
        return base_version + 1

    def last_txn_version(self, app_id: str) -> int | None:
        """The highest streaming-transaction ``version`` committed for
        ``app_id``, or None — Delta's idempotent-writes contract: a sink
        must skip any batch whose id is <= this. O(commits) small-JSON
        reads, the same cost class as :meth:`_replay`."""
        try:
            return self._latest_and_txn(app_id)[1]
        except FileNotFoundError:
            return None

    def _iceberg_adoption_marker(self) -> dict | None:
        """``converted_from_iceberg`` payload from the OLDEST retained
        commit, or None. Commit 0 carries it natively on an adopted
        table; every metadata-complete checkpoint re-stamps it
        (:meth:`_try_commit`), and :meth:`cleanup_log`'s horizon is
        always such a checkpoint — so one oldest-commit read answers
        "was this table adopted?" even after arbitrary truncation."""
        names = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if not names:
            return None
        with open(os.path.join(self.log_dir, names[0])) as fh:
            return json.load(fh).get("converted_from_iceberg")

    def _txns_state(self) -> dict[str, int]:
        """Per-app streaming-transaction high-water marks (appId -> max
        committed txn version) folded over the retained log: checkpoint
        commits' ``txns_state`` snapshots plus every commit's own ``txn``
        marker — so the fold survives :meth:`cleanup_log` truncating the
        commits the markers originally rode on."""
        out: dict[str, int] = {}
        for name in sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        ):
            with open(os.path.join(self.log_dir, name)) as fh:
                c = json.load(fh)
            for app, v in (c.get("txns_state") or {}).items():
                out[app] = max(out.get(app, int(v)), int(v))
            t = c.get("txn")
            if t and t.get("appId") is not None:
                app, v = str(t["appId"]), int(t["version"])
                out[app] = max(out.get(app, v), v)
        return out

    def _latest_and_txn(
        self, app_id: str | None
    ) -> tuple[int, int | None]:
        """(latest committed version, highest txn version for ``app_id``)
        in ONE directory pass — the latest version is the max commit
        number (no file opened for it), and the txn scan opens each
        commit json once (checkpoint ``txns_state`` snapshots included,
        so the answer survives log cleanup). ``app_id=None`` skips the
        txn scan entirely, so a plain append's per-attempt log cost is
        one listdir. A streaming sink calling this per micro-batch on a
        long log pays one small-JSON pass instead of the three full
        scans the naive version() + last_txn_version() + version()
        sequence costs."""
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if not entries:
            raise FileNotFoundError(f"no commits in {self.log_dir}")
        latest = int(entries[-1].split(".")[0])
        best: int | None = None
        if app_id is not None:
            for name in entries:
                with open(os.path.join(self.log_dir, name)) as fh:
                    c = json.load(fh)
                t = c.get("txn")
                if t and t.get("appId") == app_id:
                    v = int(t["version"])
                    best = v if best is None else max(best, v)
                ts = c.get("txns_state") or {}
                if app_id in ts:
                    v = int(ts[app_id])
                    best = v if best is None else max(best, v)
        return latest, best

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
        schema_json = self._schema_at()
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
            gen = self.generated_exprs()
            ident = self.identity_meta()
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
        for _attempt in range(max_retries + 1):
            # ORDER MATTERS: capture base_version BEFORE the txn check.
            # The check then covers every commit at/below base_version,
            # and any commit that lands after it forces CommitConflict on
            # ours — which re-runs the check. Checking before capturing
            # (or capturing at commit time) leaves a window where a
            # racing instance of the SAME batch commits between our check
            # and our commit at the next version: no collision, double
            # append. One directory pass serves both lookups.
            base_version, last = self._latest_and_txn(
                txn[0] if txn is not None else None
            )
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
                cur_ident = self.identity_meta()
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
                validated = self.checks()
                adds = self._write_data(df, _checks=validated)
                if ident:
                    ident_hws = self._identity_new_hw(adds, ident)
            else:
                # files already staged from a lost race: if an add_check
                # landed since they were validated, re-validate against
                # the NEW constraints only — otherwise rows checked under
                # the old set would commit over a live constraint the
                # add_check's own existing-row scan could not see (our
                # staged files were invisible to it)
                current = self.checks()
                if current != validated:
                    fresh = {
                        n: e
                        for n, e in current.items()
                        if validated is None or validated.get(n) != e
                    }
                    self._enforce_checks(
                        adds, fresh, self.partition_meta()[0]
                    )
                    validated = current
            try:
                # record the schema CURRENT at this attempt, not the one
                # the rows were aligned to: if an add_column landed while
                # we retried, recording the pre-evolution schema here
                # would silently roll the evolution back (our old-shape
                # files are still legal — they null-fill the new column)
                commit_schema = self._schema_at()
                if ident_hws and commit_schema is not None:
                    commit_schema = _identity_hw_update(
                        commit_schema, ident_hws
                    )
                return self.commit(
                    adds=adds, removes=[], base_version=base_version,
                    op="append", schema=commit_schema, txn=txn,
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
        footer envelopes). At 100 TB nobody compacts the whole table: the
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
            if not self.clustering_columns():
                raise ValueError(
                    "OPTIMIZE FULL requires a clustered table "
                    "(cluster_by first)"
                )
        base_version, base_files, dvs = self._replay_full()
        if prune is not None:
            files = self._prune_files(base_files, *prune)
            if not files:
                return base_version  # nothing overlaps: no-op, no commit
        else:
            files = base_files
        cl_cols = self.clustering_columns()
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
                # Delta export derives add.stats from footers, so the
                # engine-internal key never leaks to external readers).
                stfold = replay_stats(self.log_dir)
                files = [
                    f
                    for f in files
                    if (stfold.get(f) or {}).get("clusteredBy") != cl_cols
                ]
                if not files:
                    return base_version  # fully clustered: no-op
        elif cl_cols and zorder_by is not None and list(zorder_by) == list(
            cl_cols
        ):
            # explicit ZORDER BY along the clustering columns still
            # counts as a clustering pass for later incremental runs
            cl_tag = list(cl_cols)
        rt_on = files and self.row_tracking_enabled()
        if rt_on:
            # row tracking: the rewrite MATERIALIZES every row's stable
            # id into the _rt_row_id physical column (_rt_cow_read) —
            # positions change across a compaction, so the
            # metadata-derived form alone cannot survive it. The column
            # is physical-only: the recorded schema is unchanged and
            # plain reads never see it.
            snap = self._rt_cow_read(files, self._schema_at(), dvs)
        else:
            snap = (
                self._read_files(files, self._schema_at(), dvs=dvs)
                if files
                else self._empty()
            )
        if zorder_by:
            from .maintenance import zvalue

            pby, _ = self.partition_meta()
            absent = [c for c in zorder_by if c not in snap.columns]
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
            dtypes = dict(snap.dtypes)

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
            row = snap.agg(*aggs).collect()[0]
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
            snap = (
                snap.withColumn("__z", z)
                .repartitionByRange(target_files, *keys)
                .sortWithinPartitions(*keys)
                .drop("__z")
            )
        else:
            snap = snap.coalesce(target_files)
        # logical no-op: rows unchanged, every CHECK already holds
        adds = self._write_data(snap, _validate=False)
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
                _rebase_always=True,
                adds=adds, removes=files, base_version=base_version,
                op="optimize", schema=self._schema_at() or snap.schema.json(),
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
        _v, want, want_dvs = self._replay_full(as_of=version)
        schema = self._schema_at(as_of=version)
        target_checks = self.checks(as_of=version)
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
            base_version, live = self._replay()
            adds = sorted(set(want) - set(live))
            removes = sorted(set(live) - set(want))
            # deletion-vector state reverts wholesale with the file set
            # ({} = explicit no-DVs) — rows a later DV deleted resurrect;
            # per-file stats revert the same way (re-added old files get
            # their original envelopes back without a footer re-read)
            extra: dict = {
                "checks_reset": target_checks,
                "dvs_reset": want_dvs,
                "stats_reset": replay_stats(self.log_dir, as_of=version),
                # table properties revert with the rest of the metadata
                # (Delta RESTORE restores table configuration too)
                "properties_reset": self.properties(as_of=version),
            }
            # row-tracking bases revert with the file set — a re-added
            # file's rows get their ORIGINAL ids back — but the watermark
            # stays monotone across the restore (Delta's rule: ids
            # assigned after the target version are never reused)
            extra["clustering"] = self.clustering_columns(as_of=version)
            tgt_bases, tgt_hw = self.row_tracking_meta(as_of=version)
            _cb, cur_hw = self.row_tracking_meta()
            if tgt_hw >= 0 or cur_hw >= 0:
                extra["row_base_reset"] = {
                    f: tgt_bases[f] for f in want if f in tgt_bases
                }
                extra["row_hw"] = max(tgt_hw, cur_hw)
            if schema is not None:
                extra["schema"] = schema
            # the column mapping reverts with the schema ({} = explicit
            # identity, for a restore to a pre-mapping version); only
            # recorded when it actually differs, so never-mapped tables
            # stay out of mapping mode
            tgt_map = self._mapping_at(as_of=version)
            if self._mapping_at() != tgt_map:
                extra["column_mapping"] = tgt_map or {}
            try:
                self._try_commit(
                    base_version + 1, adds=adds, removes=removes,
                    op="restore", extra=extra,
                )
                return base_version + 1
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
        version, files, clone_dvs = self._replay_full()
        # all metadata pinned to the SAME captured version: a writer
        # committing between the replay and these reads must not
        # produce a torn clone (v files under v+1 schema/checks/mapping)
        schema_json = self._schema_at(as_of=version)
        clone_checks = self.checks(as_of=version)
        clone_mapping = self._mapping_at(as_of=version)
        pby, pschema = self.partition_meta()
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
        dest._pmeta = (pby, pschema)
        # stats carry over by reference (files are the same bytes) —
        # commit 0 re-records them without re-reading any footer
        fset = set(files)
        clone_stats = {
            f: s
            for f, s in replay_stats(self.log_dir, as_of=version).items()
            if f in fset
        }
        # row-tracking state carries over BY VALUE: the files are the
        # same bytes, so their materialized _rt_row_id columns hold the
        # SOURCE's ids — re-assigning fresh bases at commit 0 would mix
        # two id spaces (materialized ids win via coalesce and could
        # collide with freshly-derived ones). Carrying bases + watermark
        # keeps every id identical to the source and fences the clone's
        # future appends beyond them.
        rt_bases, rt_hw = self.row_tracking_meta(as_of=version)
        clone_rt = (
            {
                "row_base_reset": {
                    f: rt_bases[f] for f in files if f in rt_bases
                },
                "row_hw": rt_hw,
            }
            if rt_hw >= 0
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
                "schema": schema_json,
                "checks_reset": clone_checks,
                "properties_reset": self.properties(as_of=version),
                **({"dvs": clone_dvs} if clone_dvs else {}),
                # a column-mapped source's files carry physical names —
                # the clone must read them under the same mapping
                **(
                    {"column_mapping": clone_mapping}
                    if clone_mapping is not None
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
        the fold survives log cleanup). {} mid-create (no commit yet)."""
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if not entries:
            return {}
        out: dict[str, str] = {}
        for name in entries:
            v = int(name.split(".")[0])
            if as_of is not None and v > as_of:
                continue
            with open(os.path.join(self.log_dir, name)) as fh:
                c = json.load(fh)
            cr = c.get("checks_reset")
            if cr is not None:
                # restore commit: the constraint set reverts wholesale to
                # the restored version's (mirrors Delta RESTORE restoring
                # table metadata, not just the file set)
                out = dict(cr)
                continue
            ck = c.get("check")
            if not ck:
                continue
            if c.get("op") == "add_check":
                out[ck["name"]] = ck["expr"]
            elif c.get("op") == "drop_check":
                out.pop(ck["name"], None)
        return out

    def _gen_recompute(self, assignments) -> dict[str, str]:
        """Generated columns an UPDATE must RECOMPUTE: those not assigned
        explicitly whose generation expression references an assigned
        column (word-boundary match — the same reference test the
        rename/drop guards use)."""
        assigned = set(assignments)
        return {
            g: e
            for g, e in self.generated_exprs().items()
            if g not in assigned
            and any(
                re.search(rf"\b{re.escape(c)}\b", e) for c in assigned
            )
        }

    def identity_meta(self, as_of: int | None = None) -> dict[str, dict]:
        """Identity columns (name -> {start, step, hw}) at ``as_of``,
        from the recorded schema's ``delta.identity.*`` field metadata.
        ``hw`` is the high watermark (None before the first assignment);
        like generation expressions, the schema fold carries identity
        state through evolution, restore, checkpoints, and adoption."""
        sj = self._schema_at(as_of)
        if sj is None:
            return {}
        from pyspark.sql.types import StructType

        out: dict[str, dict] = {}
        for f in StructType.fromJson(json.loads(sj)).fields:
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
    ) -> dict[str, int]:
        """New high watermarks after writing ``adds``: the furthest
        assigned value per identity column, read from the new files'
        parquet FOOTER STATS (no data scan — the stats are already
        computed by the write)."""
        hws: dict[str, int] = {}
        for f in adds:
            d = footer_stats_dict(os.path.join(self.path, f))
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
        return hws

    # ------------------------------------------------------- row tracking

    def row_tracking_enabled(self, as_of: int | None = None) -> bool:
        return (
            self.properties(as_of=as_of).get("delta.enableRowTracking")
            == "true"
        )

    def row_tracking_meta(
        self, as_of: int | None = None
    ) -> tuple[dict[str, int], int]:
        """Row-tracking state at ``as_of``: ``({rel_path: baseRowId},
        high_watermark)`` — Delta's rowTracking representation. A file's
        base row id is assigned by the commit that ADDS it (or by the
        property commit's backfill); a fresh row's id is ``base +
        in-file row index`` — METADATA-derived, zero data writes.
        Ascending fold: bootstrap at the newest ``row_base_state``
        snapshot (checkpoint commits carry one, so the fold survives
        :meth:`cleanup_log`), then apply ``row_base_reset`` replacements
        (restore) and per-commit ``row_base`` deltas; the watermark is
        monotone (max recorded ``row_hw``) — it never regresses, even
        across restore, Delta's own rule.

        Latest-head fold is CACHED per instance (same head-keyed scheme
        as :meth:`properties`): checkpoint commits re-fold this on
        every table — including tables that never enabled tracking —
        so an uncached fold would charge an O(retained commits) JSON
        walk to every 20th append of every table (review finding,
        round 12). Callers must treat the returned map as read-only."""
        names = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if as_of is None and names:
            head = int(names[-1].split(".")[0])
            cached = getattr(self, "_rt_meta_cache", None)
            if cached is not None and cached[0] == head:
                return cached[1]
        recs: list[dict] = []
        for name in names:
            v = int(name.split(".")[0])
            if as_of is not None and v > as_of:
                continue
            with open(os.path.join(self.log_dir, name)) as fh:
                recs.append(json.load(fh))
        bases: dict[str, int] = {}
        hw = -1
        start = 0
        for i in range(len(recs) - 1, -1, -1):
            if recs[i].get("row_base_state") is not None:
                bases = {
                    str(k): int(x)
                    for k, x in recs[i]["row_base_state"].items()
                }
                hw = int(recs[i].get("row_hw", -1))
                start = i + 1
                break
        for c in recs[start:]:
            if c.get("row_base_reset") is not None:
                bases = {
                    str(k): int(x) for k, x in c["row_base_reset"].items()
                }
            if c.get("row_base"):
                bases.update(
                    {str(k): int(x) for k, x in c["row_base"].items()}
                )
            if c.get("row_hw") is not None:
                hw = max(hw, int(c["row_hw"]))
        if as_of is None and names:
            self._rt_meta_cache = (int(names[-1].split(".")[0]), (bases, hw))
        return bases, hw

    def _rt_cow_read(self, files: list[str], schema_json, dvs) -> DataFrame:
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

        bases, _rhw = self.row_tracking_meta()
        scan = self._scan_with_filepath(
            files,
            schema_json,
            dvs=dvs,
            extra_fields=[StructField(_ROW_ID_PHYS, LongType(), True)],
        )
        data_cols = [
            c
            for c in scan.columns
            if c not in ("__file", "__ridx", _ROW_ID_PHYS)
        ]
        return self._rt_attach(scan, files, bases, _ROW_ID_PHYS).select(
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

        if not self.row_tracking_enabled(as_of):
            raise ValueError(
                "row tracking is not enabled — ALTER TABLE SET "
                "TBLPROPERTIES ('delta.enableRowTracking'='true') first "
                "(the property commit backfills existing files)"
            )
        _v, files, dvs = self._replay_full(as_of=as_of)
        schema_json = self._schema_at(as_of)
        data_cols = [
            f.name
            for f in StructType.fromJson(json.loads(schema_json)).fields
        ]
        if not files:
            return self._empty().withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        bases, _hw = self.row_tracking_meta(as_of=as_of)
        scan = self._scan_with_filepath(
            files,
            schema_json,
            dvs=dvs,
            extra_fields=[StructField(_ROW_ID_PHYS, LongType(), True)],
        )
        return self._rt_attach(scan, files, bases, "_row_id").select(
            *data_cols, "_row_id"
        )

    def generated_exprs(self, as_of: int | None = None) -> dict[str, str]:
        """Generated columns (name -> generation SQL expr) at ``as_of``,
        read from the recorded schema's ``delta.generationExpression``
        field metadata — the schema fold already survives evolution,
        restore, checkpoints, and adoption, so generation needs no fold
        of its own. {} for tables without generated columns."""
        sj = self._schema_at(as_of)
        if sj is None:
            return {}
        from pyspark.sql.types import StructType

        return {
            f.name: (f.metadata or {})["delta.generationExpression"]
            for f in StructType.fromJson(json.loads(sj)).fields
            if "delta.generationExpression" in (f.metadata or {})
        }

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
            base_version = self.version()
            bad = (
                self.read()
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
            base_version = self.version()
            schema_json = self._schema_at()
            if schema_json is None:
                raise ValueError(
                    "add_column requires a recorded schema (legacy log: "
                    "run one write to record it first)"
                )
            schema = StructType.fromJson(json.loads(schema_json))
            if name in schema.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            extra: dict = {"schema": schema.add(name, dtype, nullable=True).json()}
            mapping = self._mapping_at()
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
            base_version = self.version()
            sj = self._schema_at()
            if sj is None:
                raise ValueError("cluster_by requires a recorded schema")
            names = StructType.fromJson(json.loads(sj)).fieldNames()
            missing = [c for c in cols if c not in names]
            if missing:
                raise ValueError(
                    f"clustering column(s) {missing} absent from table"
                )
            pby, _ps = self.partition_meta()
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
        best: tuple[int, list] | None = None
        for name in os.listdir(self.log_dir):
            if not name.endswith(".json"):
                continue
            v = int(name.split(".")[0])
            if as_of is not None and v > as_of:
                continue
            if best is not None and v < best[0]:
                continue
            with open(os.path.join(self.log_dir, name)) as fh:
                c = json.load(fh)
            if c.get("clustering") is not None:
                best = (v, list(c["clustering"]))
        return best[1] if best else []

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
            base_version = self.version()
            schema_json = self._schema_at()
            if schema_json is None:
                raise ValueError(
                    "alter_column_type requires a recorded schema"
                )
            schema = StructType.fromJson(json.loads(schema_json))
            if name not in schema.fieldNames():
                raise ValueError(f"column {name!r} does not exist")
            pby, _ps = self.partition_meta()
            if name in pby:
                raise ValueError(
                    f"cannot widen partition column {name!r}: directory "
                    "values are serialized under the original type"
                )
            if name in self.identity_meta():
                raise ValueError(
                    f"identity column {name!r} must stay BIGINT"
                )
            if name in self.generated_exprs():
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

    def _column_mapping_guards(self, name: str, op: str) -> "object":
        """Shared preconditions for rename/drop: column exists, is not a
        partition column (partition dirs embed the name — a metadata-only
        rename cannot hold), and no active CHECK references it (the
        constraint expr would silently dangle). Returns the current
        logical StructType."""
        import re as _re

        from pyspark.sql.types import StructType

        schema_json = self._schema_at()
        if schema_json is None:
            raise ValueError(
                f"{op} requires a recorded schema (legacy log: run one "
                "write to record it first)"
            )
        schema = StructType.fromJson(json.loads(schema_json))
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r}")
        if name in self.partition_meta()[0]:
            raise ValueError(
                f"{op} of partition column {name!r} refused: hive "
                "directory names embed it — a metadata-only change "
                "cannot hold"
            )
        referencing = [
            n
            for n, e in self.checks().items()
            if _re.search(rf"\b{_re.escape(name)}\b", e)
        ]
        if referencing:
            raise ValueError(
                f"{op} of {name!r} refused: CHECK constraint(s) "
                f"{referencing} reference it — drop them first"
            )
        gen_refs = [
            c
            for c, e in self.generated_exprs().items()
            if c != name and _re.search(rf"\b{_re.escape(name)}\b", e)
        ]
        if gen_refs:
            raise ValueError(
                f"{op} of {name!r} refused: generated column(s) "
                f"{gen_refs} derive from it — their expressions would "
                "silently dangle"
            )
        if name in self.clustering_columns():
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
            base_version = self.version()
            schema = self._column_mapping_guards(old, "rename_column")
            if new in schema.fieldNames():
                raise ValueError(f"column {new!r} already exists")
            mapping = self._mapping_at()
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
            base_version = self.version()
            schema = self._column_mapping_guards(name, "drop_column")
            if len(schema.fields) == 1:
                raise ValueError("cannot drop the only column")
            mapping = self._mapping_at()
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
        latest = self._latest_and_txn(None)[0]
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

    def _commit_dml(self, _rebase_always: bool = False, **kw) -> int:
        """:meth:`commit` plus the WriteSerializable retry-rebase: on
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
        iso_ok: bool | None = True if _rebase_always else None
        for _attempt in range(self._REBASE_MAX):
            try:
                return self.commit(**kw)
            except CommitConflict:
                if kw.get("txn") is not None:
                    raise
                if kw.get("schema") is not None and self.identity_meta():
                    # identity watermark staleness: an interleaved blind
                    # append may have advanced a high watermark, and re-
                    # committing our captured schema at a newer version
                    # would REGRESS it in the latest-wins fold (the next
                    # append would assign duplicate ids). Recompute from
                    # the new head instead of rebasing.
                    raise
                if iso_ok is None:
                    iso_ok = (
                        self.properties()
                        .get("delta.isolationLevel", "Serializable")
                        .lower()
                        == "writeserializable"
                    )
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
        :meth:`convert_from_delta`.

        Cost shape: a REVERSE scan that stops at the newest
        ``properties_reset`` snapshot (every metadata-complete
        checkpoint carries one since round 10, and create records an
        empty floor since round 11), so the per-call work is
        O(checkpoint interval) commits, not O(log) — this runs on every
        DML commit (the appendOnly gate), every tx_sql DML statement
        (the dv-routing probe), and every commit attempt (the
        row-tracking gate). Round 11: the latest-head result is CACHED
        per instance keyed on the newest commit version — commits are
        immutable, so the fold at a given head can never change; a
        racing writer's new commit changes the head and misses the
        cache. The per-commit cost drops to the one listdir the head
        check needs anyway."""
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if as_of is None and entries:
            head = int(entries[-1].split(".")[0])
            cached = getattr(self, "_props_cache", None)
            if cached is not None and cached[0] == head:
                return dict(cached[1])
        tail: list[dict] = []
        base: dict[str, str] = {}
        for name in reversed(entries):
            v = int(name.split(".")[0])
            if as_of is not None and v > as_of:
                continue
            with open(os.path.join(self.log_dir, name)) as fh:
                c = json.load(fh)
            tail.append(c)
            if c.get("properties_reset") is not None:
                base = dict(c["properties_reset"])
                break
        out = base
        for c in reversed(tail):  # oldest-first; the snapshot commit's
            # own per-commit delta re-applies on top (idempotent)
            for k, val in (c.get("properties") or {}).items():
                if val is None:
                    out.pop(k, None)
                else:
                    out[k] = str(val)
        if as_of is None and entries:
            self._props_cache = (int(entries[-1].split(".")[0]), dict(out))
        return out

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
        entries = sorted(
            f for f in os.listdir(self.log_dir) if f.endswith(".json")
        )
        if entries:
            # an adopted table's OLDEST commit is the convert_delta
            # snapshot (it sits at the foreign latest version, not 0)
            with open(os.path.join(self.log_dir, entries[0])) as fh:
                c_old = json.load(fh)
            if "converted_from_delta" in c_old:
                raise ValueError(
                    "to_delta_log refused: this table was adopted from "
                    f"an existing _delta_log (at its version "
                    f"{c_old['converted_from_delta']}) — re-exporting "
                    "would misalign version numbering with the foreign "
                    "log's history"
                )
        c0_path = os.path.join(self.log_dir, _commit_name(0))
        if not os.path.exists(c0_path):
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
        latest, live, live_dvs = self._replay_full()
        referenced = set(live)
        referenced_sidecars = {d["sidecar"] for d in live_dvs.values()}
        keep_versions = set(
            range(max(0, latest - max(retain_versions, 1) + 1), latest)
        )
        # tagged versions are PINNED outside the retention window —
        # "the snapshot we trained v1 on" must survive routine retention
        keep_versions |= set(self.tags().values())
        for v in keep_versions:
            try:
                _v, vfiles, vdvs = self._replay_full(as_of=v)
            except FileNotFoundError:
                continue
            referenced |= set(vfiles)
            referenced_sidecars |= {d["sidecar"] for d in vdvs.values()}
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
        # checkpoint live-list sidecars referenced by NO commit (a writer
        # crashed between sidecar write and commit publish, or lost the
        # race and its unlink failed) are orphans too — without this
        # sweep a crash-prone table accumulates full-live-list parquets
        # under _txlog/ckpt/ forever
        ckpt_dir = os.path.join(self.log_dir, "ckpt")
        if os.path.isdir(ckpt_dir):

            def _referenced_ckpts() -> set:
                refs = set()
                for name in sorted(
                    f
                    for f in os.listdir(self.log_dir)
                    if f.endswith(".json")
                ):
                    try:
                        with open(os.path.join(self.log_dir, name)) as fh:
                            sc = json.load(fh).get("adds_sidecar")
                    except (OSError, ValueError):
                        continue
                    if sc:
                        refs.add(sc)
                return refs

            candidates = []
            referenced_ckpts = _referenced_ckpts()
            for f in sorted(os.listdir(ckpt_dir)):
                rel = f"ckpt/{f}"
                full = os.path.join(ckpt_dir, f)
                if rel in referenced_ckpts:
                    continue
                if min_age_s > 0 and now - os.path.getmtime(full) < min_age_s:
                    continue  # possibly staged by an in-flight checkpoint
                candidates.append((rel, full))
            if candidates:
                # a checkpoint commit can PUBLISH between the commit-JSON
                # listing above and the ckpt/ listing: its just-written
                # sidecar would look unreferenced even though a committed
                # checkpoint now points at it. Re-list the commit JSONs
                # immediately before deleting and only remove sidecars
                # that are STILL unreferenced — this closes the
                # list-order race down to the publish-vs-remove instant
                # (callers who vacuum concurrently with live writers
                # should additionally pass min_age_s > 0).
                referenced_ckpts = _referenced_ckpts()
                for rel, full in candidates:
                    if rel in referenced_ckpts:
                        continue
                    if not dry_run:
                        os.remove(full)
                    deleted.append(f"_txlog/{rel}")
        # change-data sidecars referenced by NO surviving commit JSON
        # (their commit was truncated by cleanup_log, or a writer lost
        # its commit race and the unlink failed) are orphans — same
        # re-list-before-delete discipline as the ckpt sweep above
        cdc_dir = os.path.join(self.path, "_cdc")
        if os.path.isdir(cdc_dir):

            def _referenced_cdc() -> set:
                refs = set()
                for name in sorted(
                    f
                    for f in os.listdir(self.log_dir)
                    if f.endswith(".json")
                ):
                    try:
                        with open(os.path.join(self.log_dir, name)) as fh:
                            c = json.load(fh).get("cdc")
                    except (OSError, ValueError):
                        continue
                    if c:
                        refs.add(c)
                return refs

            cdc_candidates = []
            refs = _referenced_cdc()
            for f in sorted(os.listdir(cdc_dir)):
                rel = f"_cdc/{f}"
                full = os.path.join(cdc_dir, f)
                if not f.endswith(".parquet") or rel in refs:
                    continue
                if min_age_s > 0 and now - os.path.getmtime(full) < min_age_s:
                    continue  # possibly staged by an in-flight DML
                cdc_candidates.append((rel, full))
            if cdc_candidates:
                refs = _referenced_cdc()
                for rel, full in cdc_candidates:
                    if rel in refs:
                        continue
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
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
        required = (
            "schema",
            "checks_reset",
            "partition_by",
            "txns_state",
            "dvs_state",
        )
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
            if c.get("checkpoint") and all(k in c for k in required):
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
        self._pmeta = None  # partition cache may now resolve via fallback
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


def _simple_form_clauses(
    when_matched: str,
    when_not_matched: str,
    matched_set: dict | None,
    insert_values: dict | None,
) -> dict:
    """The simple-form MERGE parameters as their equivalent clause lists
    — ONE conversion shared by the cdc sidecar and the mode='dv' path,
    so neither can drift from :func:`merge.merge_frames` semantics."""
    return {
        "matched": (
            [{"action": "delete"}]
            if when_matched == "delete"
            else [{"action": "update", "set": matched_set or None}]
        ),
        "not_matched": (
            [{"values": insert_values or None}]
            if when_not_matched == "insert"
            else []
        ),
        "not_matched_by_source": [],
    }


@contextlib.contextmanager
def _read_once(source: DataFrame):
    """Yield ``source`` materialized for the length of one MERGE call.
    Touched-file discovery, the merge join and every commit retry are
    separate Spark jobs; without this each one re-runs the source's
    whole lineage (a Python-built or streaming batch pays its Python
    stage per consumer), and a nondeterministic source shows each
    consumer different rows — discovery misses a file the join then
    treats as an insert, duplicating the key. Lazy: a txn replay that
    returns before any job builds nothing. A source the caller already
    cached is read from that cache and left cached."""
    if source.storageLevel != StorageLevel.NONE:
        yield source
        return
    held = source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield held
    finally:
        held.unpersist()


def _merge_into_dv(
    spark: SparkSession,
    table: TxLogTable,
    source: DataFrame,
    keys: list[str],
    clauses: dict,
    evolve_schema: bool,
    max_retries: int,
    txn: tuple[str, int] | None,
    gen_recompute: dict[str, str] | None = None,
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
       clause plan (:func:`merge.prepare_clause_plan` — identical
       selectors/picks to the COW merge, so semantics cannot drift);
    3. positions leaving the table = delete-selected rows plus CHANGED
       update-selected rows (post-image != pre-image; no-op updates
       touch nothing) — per-file counts collect O(touched files)
       driver rows, the Delta MERGE metadata plane;
    4. new files = update post-images + accepted inserts (CHECK-gated
       through the normal :meth:`_write_data` chokepoint);
    5. one DV sidecar carries the new positions unioned with the
       touched files' PRIOR vectors (full-union-per-file invariant);
       a file whose vector would cover every row is retired outright.

    Bytes written scale with CHANGED rows, not touched files — the
    1-row-per-file daily upsert writes slivers where COW rewrites every
    touched file (SCALING.md probe). The change feed needs no sidecar:
    ``read_changes`` derives row-exact deletes from the DV delta and
    inserts from the new files."""
    import pyarrow.parquet as pq

    from .merge import prepare_clause_plan

    from pyspark.sql.types import LongType, StructField

    matched = list(clauses.get("matched") or [])
    not_matched = list(clauses.get("not_matched") or [])
    nmbs = list(clauses.get("not_matched_by_source") or [])
    rt_on = table.row_tracking_enabled()
    for _attempt in range(max_retries + 1):
        base_version, base_files, dvs = table._replay_full()
        if txn is not None:
            last = table.last_txn_version(txn[0])
            if last is not None and txn[1] <= last:
                return table.read()
        schema_json = table._schema_at()
        touched_files = (
            list(base_files)
            if nmbs
            else table._touched_by_keys(base_files, source, keys, dvs=dvs)
        )
        if touched_files:
            target = table._scan_with_filepath(
                touched_files,
                schema_json,
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
                rt_bases, _rhw = table.row_tracking_meta()
                target = table._rt_attach(
                    target, touched_files, rt_bases, _ROW_ID_PHYS
                )
        else:
            target = (
                table._empty()
                .withColumn("__file", F.lit(None).cast("string"))
                .withColumn("__ridx", F.lit(None).cast("long"))
            )
            if rt_on:
                target = target.withColumn(
                    _ROW_ID_PHYS, F.lit(None).cast("long")
                )
        plan = prepare_clause_plan(
            target, source, keys, matched, not_matched, nmbs,
            evolve_schema=evolve_schema,
        )
        j, pick, tval = plan["j"], plan["pick"], plan["tval"]
        data_cols = [
            c for c in plan["columns"] if c not in ("__file", "__ridx")
        ]
        is_m, is_src, is_tgt = plan["is_m"], plan["is_src"], plan["is_tgt"]
        del_sel = (
            is_m & F.col("__msel").isin(plan["m_del"] or [-2])
        ) | (is_tgt & F.col("__nsel").isin(plan["n_del"] or [-2]))
        upd_sel = (
            is_m & F.col("__msel").isin(plan["m_upd"] or [-2])
        ) | (is_tgt & F.col("__nsel").isin(plan["n_upd"] or [-2]))
        changed = ~F.struct(*[tval(c) for c in data_cols]).eqNullSafe(
            F.struct(*[pick(c) for c in data_cols])
        )
        # ONE evaluation of the merge join feeds EVERYTHING downstream
        # (round 14, guide §5 cache-exactly-what-is-reused + §1.4):
        # the flat frame materializes the post-image picks and the three
        # row-class selectors once; the doomed positions, the per-file
        # counts, the new files, and the sidecar all read it — before
        # this, new_rows re-executed the full-outer join a second time,
        # and a nondeterministic clause condition could desynchronize
        # the written files from the vectors (the round-11 persisted-
        # doomed_pos fix covered only counts-vs-sidecar; this covers the
        # data files too). Rows in no class are filtered out, so the
        # persist is O(changed rows + inserts), the DV budget.
        flat = (
            j.select(
                *[pick(c) for c in data_cols],
                F.col("__file"),
                F.col("__ridx"),
                del_sel.alias("__mrg_del"),
                (upd_sel & changed).alias("__mrg_updchg"),
                (is_src & (F.col("__isel") >= 0)).alias("__mrg_ins"),
            )
            .filter("__mrg_del OR __mrg_updchg OR __mrg_ins")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # 3: per-file counts of DISTINCT positions leaving the table.
        # Distinct is load-bearing: duplicate source keys produce one
        # doomed JOIN ROW per duplicate at the SAME (file, row index) —
        # counting rows would inflate the vector cardinality and could
        # wrongly retire a file whose unmatched rows are still live
        # (review finding, round 10). The COW twin merely duplicates
        # output rows; here the position set must be exact.
        doomed_pos = flat.filter("__mrg_del OR __mrg_updchg").select(
            "__file", "__ridx"
        ).distinct()
        # rel-path resolution WITHOUT a dedicated counts job (round 14,
        # guide §1.4): touched basenames are driver-known, and a Spark-
        # written layout has unique basenames (the _dv_keyed precedent —
        # only the URI-safe basename is extracted JVM-side, never the
        # encoded directory components), so the per-file counts derive
        # from a driver-side pyarrow read of the one sidecar AFTER it is
        # written instead of a groupBy/collect job BEFORE it. Foreign-
        # adopted layouts keep the collect path when basenames collide
        # or a basename is not URI-safe: the scan reports percent-encoded
        # URIs, so a raw basename holding a space or '%' would match no
        # doomed position and silently keep the old rows live.
        _bn_rel: dict[str, str] | None = {}
        for _f in touched_files:
            _b = _f.rsplit("/", 1)[-1]
            if _b in _bn_rel or not _uri_safe(_b):
                _bn_rel = None  # foreign layout: slow path
                break
            _bn_rel[_b] = _f
        counts: dict[str, int] = {}
        if _bn_rel is None:
            uri_rows = (
                doomed_pos.select(F.col("__file").alias("u"))
                .groupBy("u")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            rel_by_uri = {r["u"]: table._rel_path(r["u"]) for r in uri_rows}
            counts = {rel_by_uri[r["u"]]: r["n"] for r in uri_rows}
        # 4: new files — CHECK gate runs here, BEFORE any sidecar exists,
        # so a CheckViolation leaves no orphan metadata
        new_rows = flat.filter("__mrg_updchg OR __mrg_ins").select(
            *data_cols
        )
        cur_ident = table.identity_meta()
        if cur_ident:
            # update post-images carry their preserved (non-null) ids;
            # accepted inserts surface NULL and are assigned beyond the
            # watermark — re-read per attempt for racing-commit re-base
            for c, m in cur_ident.items():
                base = m["start"] if m["hw"] is None else m["hw"] + m["step"]
                new_rows = new_rows.withColumn(
                    c,
                    F.when(
                        F.col(c).isNull(),
                        (
                            F.lit(base)
                            + F.lit(m["step"])
                            * F.monotonically_increasing_id()
                        ).cast("long"),
                    ).otherwise(F.col(c)),
                )
        if gen_recompute:
            # post-image recompute over the new rows only — untouched
            # rows stay in their files (DV-masked) with values the
            # enforcement invariant already guarantees consistent
            from pyspark.sql.types import StructType as _ST

            _gt = {
                f.name: f.dataType
                for f in _ST.fromJson(json.loads(schema_json)).fields
            }
            for g, e in gen_recompute.items():
                new_rows = new_rows.withColumn(g, F.expr(e).cast(_gt[g]))
        mapping = table._mapping_at()
        new_mapping = None
        if mapping:
            absent = [c for c in data_cols if c not in mapping]
            if absent:
                new_mapping = dict(mapping)
                for c in absent:
                    new_mapping[c] = f"col_{uuid.uuid4().hex[:12]}"
        try:
            adds = table._write_data(
                new_rows,
                _mapping=new_mapping
                if new_mapping is not None
                else _MAPPING_DEFAULT,
            )
        except Exception:
            flat.unpersist()
            raise
        # 5: one sidecar = new positions + touched files' prior vectors
        sidecar: str | None = None
        removes: list[str] = []
        dv_updates: dict[str, dict] = {}
        if _bn_rel is not None and touched_files:
            # FAST PATH: sidecar first (new positions rel-keyed via the
            # driver-built basename map + priors of every touched file —
            # bounded by the touched set, the same O(touched priors)
            # class as before), then per-file TOTALS from one driver-side
            # pyarrow read of the sidecar just written. A touched file
            # with priors but no new positions keeps its old descriptor
            # (new_n == 0 below) — its copied prior rows are inert.
            bmap = F.broadcast(
                local_df(
                    spark,
                    list(_bn_rel.items()),
                    "__b string, file string",
                )
            )
            new_pos = (
                doomed_pos.select(
                    F.element_at(
                        F.split(F.col("__file"), "/"), -1
                    ).alias("__b"),
                    F.col("__ridx").alias("row_index"),
                )
                .join(bmap, "__b")
                .select("file", "row_index")
            )
            old_pos = table._dv_frame(dvs, touched_files)
            dv_union = (
                new_pos if old_pos is None else new_pos.unionByName(old_pos)
            )
            sidecar = table._write_sidecar(dv_union)
            sc_full = os.path.join(table.path, sidecar)
            totals: dict[str, int] = {}
            if os.path.exists(sc_full):
                import pyarrow.parquet as _pq2

                _tbl = _pq2.read_table(sc_full, columns=["file"])
                for _rel in _tbl.column("file").to_pylist():
                    totals[_rel] = totals.get(_rel, 0) + 1
            for rel in sorted(totals):
                old_card = int((dvs.get(rel) or {}).get("cardinality") or 0)
                if totals[rel] - old_card <= 0:
                    continue  # priors only: descriptor unchanged
                # new positions are disjoint from the prior vector (the
                # positional scan was DV-applied) — the sidecar total IS
                # the exact post-commit cardinality
                card = totals[rel]
                nrows = pq.ParquetFile(
                    os.path.join(table.path, rel)
                ).metadata.num_rows
                if card >= nrows:
                    removes.append(rel)
                else:
                    dv_updates[rel] = {
                        "sidecar": sidecar,
                        "cardinality": card,
                        "pathkey": "rel",
                    }
            if not dv_updates:
                if os.path.exists(sc_full):
                    os.remove(sc_full)
                sidecar = None
        elif counts:
            doomed_rel = sorted(counts)
            uri_map = local_df(spark,
                list(rel_by_uri.items()), "__file string, file string"
            )
            new_pos = (
                doomed_pos.select(
                    "__file", F.col("__ridx").alias("row_index")
                )
                .join(F.broadcast(uri_map), "__file")
                .select("file", "row_index")
            )
            old_pos = table._dv_frame(dvs, doomed_rel)
            dv_union = (
                new_pos if old_pos is None else new_pos.unionByName(old_pos)
            )
            sidecar = table._write_sidecar(dv_union)
            for rel in doomed_rel:
                # new positions are disjoint from the prior vector (the
                # positional scan was DV-applied) — cardinality is exact
                card = counts[rel] + int(
                    (dvs.get(rel) or {}).get("cardinality") or 0
                )
                nrows = pq.ParquetFile(
                    os.path.join(table.path, rel)
                ).metadata.num_rows
                if card >= nrows:
                    removes.append(rel)
                else:
                    dv_updates[rel] = {
                        "sidecar": sidecar,
                        "cardinality": card,
                        "pathkey": "rel",
                    }
            if not dv_updates:
                os.remove(os.path.join(table.path, sidecar))
                sidecar = None
        # stored schema (metadata intact) + evolution + watermark advance
        # — same rule as the COW twin (see merge_into_txlog)
        commit_schema = _dml_evolved_schema(schema_json, new_rows.schema.json())
        if cur_ident and adds:
            hws = table._identity_new_hw(adds, cur_ident)
            ident_hws = {}
            for c, m in cur_ident.items():
                far = max if m["step"] > 0 else min
                ident_hws[c] = (
                    hws[c] if m["hw"] is None else far(m["hw"], hws[c])
                )
            commit_schema = _identity_hw_update(commit_schema, ident_hws)
        try:
            table._commit_dml(
                adds=adds, removes=removes, base_version=base_version,
                op="merge", schema=commit_schema, txn=txn,
                column_mapping=new_mapping, dvs=dv_updates or None,
            )
            return table.read()
        except CommitConflict:
            for f in adds:
                os.remove(os.path.join(table.path, f))
            if sidecar is not None:
                os.remove(os.path.join(table.path, sidecar))
        finally:
            flat.unpersist()
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
    change-data sidecar, SINGLE-PASS since round 11
    (:func:`merge.merge_clauses_with_cdc` — ONE persisted clause-plan
    evaluation feeds both the committed rows and the sidecar, so
    nondeterministic clause conditions / SET expressions (``rand()``,
    a view over shifting data), generated-column recomputes, and
    identity-column assignment can never desynchronize the feed from
    the table): feed readers then stream O(changed rows) for this
    commit instead of netting the touched files' rewrite noise. Costs
    the materialization of the merge join's post-images (persisted
    MEMORY_AND_DISK for the commit's duration).

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
    from .merge import merge_clauses, merge_clauses_with_cdc, merge_frames

    with _read_once(source) as source:
        assert rewrite in ("touched", "full")
        if table.row_tracking_enabled():
            # the physical id column is ENGINE-OWNED (same contract as
            # identity columns): no clause may SET/INSERT it — the target
            # frame carries it as an ordinary column for the rewrite, so
            # clause validation alone would accept the assignment and
            # silently corrupt stable ids — and the source may not carry it
            # (SET */INSERT * under evolve_schema would pick it up).
            # Review finding, round 12. Guards BOTH physical modes.
            if _ROW_ID_PHYS in source.columns:
                raise ValueError(
                    f"source carries reserved column {_ROW_ID_PHYS!r} — it "
                    "is engine-assigned row-tracking state; rename or drop "
                    "it from the source"
                )
            _cl_rt = clauses if clauses is not None else _simple_form_clauses(
                when_matched, when_not_matched, matched_set, insert_values
            )
            for _kind, _key in (
                ("matched", "set"),
                ("not_matched", "values"),
                ("not_matched_by_source", "set"),
            ):
                for _c in _cl_rt.get(_kind) or []:
                    if _ROW_ID_PHYS in (_c.get(_key) or {}):
                        raise ValueError(
                            f"{_kind} clause assigns {_ROW_ID_PHYS!r} — row-"
                            "tracking ids are engine-assigned and cannot be "
                            "set by MERGE"
                        )
        ident_meta = table.identity_meta()
        if ident_meta:
            # identity columns are GENERATED ALWAYS: no clause may assign
            # them and the source may not carry them. Matched rows keep
            # their stored ids (the clause plan's baseline is the target
            # value), NOT MATCHED inserts surface with NULL ids and are
            # assigned beyond the current high watermark inside the merge
            # projection below — Delta's identity MERGE contract.
            _cl_i = clauses if clauses is not None else _simple_form_clauses(
                when_matched, when_not_matched, matched_set, insert_values
            )
            _ident_assigned: set[str] = set()
            for _c in (_cl_i.get("matched") or []) + (
                _cl_i.get("not_matched_by_source") or []
            ):
                _ident_assigned |= set(_c.get("set") or {})
            for _c in _cl_i.get("not_matched") or []:
                _ident_assigned |= set(_c.get("values") or {})
            _bad = sorted(
                (_ident_assigned | set(source.columns)) & set(ident_meta)
            )
            if _bad:
                raise ValueError(
                    f"identity column(s) {_bad} are GENERATED ALWAYS "
                    "(allowExplicitInsert=false): a MERGE clause may not "
                    "assign them and the source may not carry them — matched "
                    "rows keep their ids, inserted rows are assigned beyond "
                    "the watermark by the engine"
                )
            if clauses is None:
                # the simple whole-row form requires source/target schema
                # equality, which an identity table's source can never meet
                # (the engine owns the column). Route through the clause
                # machinery instead: UPDATE SET * / INSERT * ignore columns
                # ABSENT from the source — exactly identity's contract
                # (matched rows keep their ids, inserts NULL-fill).
                clauses = _cl_i
                when_matched, when_not_matched = "update", "insert"
                matched_set = insert_values = None
        # Delta's generated-column MERGE rule: generated columns no clause
        # assigns (explicitly via SET/VALUES, or implicitly by appearing in
        # a whole-row source) RECOMPUTE over the merge output — deterministic
        # expressions reproduce the stored value for untouched rows, so one
        # whole-frame projection is exact. Explicitly assigned generated
        # columns stay writer-supplied and the _write_data chokepoint
        # validates them.
        gen_recompute: dict[str, str] = {}
        _gen_all = table.generated_exprs()
        if _gen_all:
            _cl = clauses if clauses is not None else _simple_form_clauses(
                when_matched, when_not_matched, matched_set, insert_values
            )
            _assigned: set[str] = set()
            _whole_row = False
            for _c in _cl.get("matched") or []:
                if _c.get("action", "update") == "update":
                    if _c.get("set"):
                        _assigned |= set(_c["set"])
                    else:
                        _whole_row = True
            for _c in _cl.get("not_matched") or []:
                if _c.get("values"):
                    _assigned |= set(_c["values"])
                else:
                    _whole_row = True
            for _c in _cl.get("not_matched_by_source") or []:
                if _c.get("action") == "update" and _c.get("set"):
                    _assigned |= set(_c["set"])
            if _whole_row:
                _assigned |= set(source.columns)
            # recompute only where values can actually change: inserted rows
            # always need their generated columns computed; updated rows only
            # when the expression references an assigned column (a delete-only
            # merge recomputes NOTHING — and keeps cdc=True usable)
            _has_insert = bool(_cl.get("not_matched"))
            gen_recompute = {
                g: e
                for g, e in _gen_all.items()
                if g not in _assigned
                and (
                    _has_insert
                    or any(
                        re.search(rf"\b{re.escape(c)}\b", e) for c in _assigned
                    )
                )
            }
            if gen_recompute and clauses is None and not matched_set and not insert_values:
                # whole-row form requires source/target schema equality;
                # sources naturally omit generated columns, so widen with
                # typed NULLs — the post-merge recompute overwrites them
                from pyspark.sql.types import StructType as _ST0

                _gt0 = {
                    f.name: f.dataType
                    for f in _ST0.fromJson(
                        json.loads(table._schema_at())
                    ).fields
                }
                for g in gen_recompute:
                    if g not in source.columns and g in _gt0:
                        source = source.withColumn(
                            g, F.lit(None).cast(_gt0[g])
                        )
        if clauses is not None and (
            matched_set or insert_values
            or when_matched != "update" or when_not_matched != "insert"
        ):
            raise ValueError(
                "clauses= is the full MERGE surface — it cannot combine "
                "with when_matched/when_not_matched/matched_set/"
                "insert_values (evolve_schema composes with it)"
            )
        if mode == "dv":
            if cdc:
                raise ValueError(
                    "cdc=True is redundant with mode='dv': deletion-"
                    "vector commits already feed row-exact deltas — "
                    "read_changes() derives the changed rows from the "
                    "DV delta directly; drop cdc=True"
                )
            if rewrite != "touched":
                raise ValueError(
                    "rewrite= applies to copy-on-write only — mode='dv' "
                    "never rewrites touched files"
                )
            cl = clauses if clauses is not None else _simple_form_clauses(
                when_matched, when_not_matched, matched_set, insert_values
            )
            return _merge_into_dv(
                spark, table, source, keys, cl, evolve_schema, max_retries, txn,
                gen_recompute=gen_recompute,
            )
        if mode != "cow":
            raise ValueError(f"unknown MERGE mode {mode!r} (cow|dv)")
        rt_on = table.row_tracking_enabled()
        if rt_on and clauses is None:
            # row tracking rides the CLAUSE plan: the target frame carries
            # the physical-only id column as an ordinary extra column, which
            # the whole-row merge_frames contract would reject — convert the
            # simple form (the documented-equivalent conversion the cdc and
            # dv paths already share), preserving its loud whole-row schema
            # contract against the LOGICAL columns first
            if not (matched_set or insert_values) and not evolve_schema:
                _sj = table._schema_at()
                _tcols = (
                    {f["name"] for f in json.loads(_sj)["fields"]}
                    if _sj is not None
                    else set(table.read().columns) - {_ROW_ID_PHYS}
                )
                if set(source.columns) != _tcols:
                    raise AssertionError("source/target schemas must match")
            clauses = _simple_form_clauses(
                when_matched, when_not_matched, matched_set, insert_values
            )
            matched_set = insert_values = None
        for _attempt in range(max_retries + 1):
            # base_version FIRST, txn check SECOND (same reasoning as
            # TxLogTable.append): a same-batch racer committing after our
            # check then conflicts with our commit, which re-runs the check.
            base_version, base_files, dvs = table._replay_full()
            if txn is not None:
                last = table.last_txn_version(txn[0])
                if last is not None and txn[1] <= last:
                    return table.read()
            # rewrite='full' forces the whole-table path, so the insert-only
            # source pruning (src_eff) never runs there — gate on the mode or
            # the merge call below would read an unbound src_eff
            insert_only = rewrite != "full" and clauses is not None and not (
                clauses.get("matched") or clauses.get("not_matched_by_source")
            )
            if rewrite == "full" or (
                clauses is not None and clauses.get("not_matched_by_source")
            ):
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
                        table._rt_cow_read(base_files, table._schema_at(), dvs)
                        if base_files
                        else table._empty().withColumn(
                            _ROW_ID_PHYS, F.lit(None).cast("long")
                        )
                    )
                else:
                    target = table.read()
            elif insert_only:
                # Delta's insert-only MERGE optimization: matched rows keep
                # their target values by construction, so nothing is
                # rewritten — one key-pruned anti-join filters the source
                # to genuinely-new keys, and the commit only ADDS files
                removes = []
                target = table._empty()
                src_eff = source
                if base_files:
                    src_eff = source.join(
                        table._read_files(
                            base_files, table._schema_at(), dvs=dvs
                        ).select(*keys),
                        keys,
                        "left_anti",
                    )
            else:
                removes = table._touched_by_keys(base_files, source, keys, dvs=dvs)
                if removes:
                    target = (
                        table._rt_cow_read(removes, table._schema_at(), dvs)
                        if rt_on
                        else table._read_files(
                            removes, table._schema_at(), dvs=dvs
                        )
                    )
                else:
                    target = table._empty()
                    if rt_on:
                        target = target.withColumn(
                            _ROW_ID_PHYS, F.lit(None).cast("long")
                        )
            # post-image transform shared by every construction path below:
            # generated-column recompute then identity assignment, operating
            # on plain post-image columns — so it applies identically to the
            # merged frame (non-cdc paths) and to the single-pass flat frame
            # (cdc path), and the values are single-sourced either way
            cur_ident: dict[str, dict] = (
                # re-read per attempt: a racing commit may have advanced a
                # high watermark — assignment must start beyond the CURRENT
                # one (a lost conflict drops our files and re-runs this)
                table.identity_meta()
                if ident_meta
                else {}
            )

            def _post(df: DataFrame) -> DataFrame:
                if gen_recompute:
                    from pyspark.sql.types import StructType as _ST

                    _gt = {
                        f.name: f.dataType
                        for f in _ST.fromJson(
                            json.loads(table._schema_at())
                        ).fields
                    }
                    for g, e in gen_recompute.items():
                        df = df.withColumn(g, F.expr(e).cast(_gt[g]))
                for c, m in cur_ident.items():
                    base = m["start"] if m["hw"] is None else m["hw"] + m["step"]
                    df = df.withColumn(
                        c,
                        F.when(
                            F.col(c).isNull(),
                            (
                                F.lit(base)
                                + F.lit(m["step"])
                                * F.monotonically_increasing_id()
                            ).cast("long"),
                        ).otherwise(F.col(c)),
                    )
                return df

            persisted = None
            cdc_df: DataFrame | None = None
            if cdc and not insert_only:
                # SINGLE-PASS cdc (round 11): one persisted clause-plan
                # evaluation feeds BOTH the committed rows and the change
                # sidecar — nondeterministic conditions/SET expressions,
                # generated-column recomputes, and identity assignment can
                # no longer desynchronize the feed (they are materialized
                # once). merge_clauses_with_cdc shares prepare_clause_plan,
                # so the semantics cannot drift from the non-cdc paths.
                if clauses is None and not (matched_set or insert_values):
                    # preserve the simple whole-row form's loud contract
                    # (merge_frames asserts it; the clause plan would
                    # silently keep target values for absent columns)
                    if not evolve_schema and set(source.columns) != set(
                        target.columns
                    ):
                        raise AssertionError(
                            "source/target schemas must match"
                        )
                cl = clauses if clauses is not None else _simple_form_clauses(
                    when_matched, when_not_matched, matched_set, insert_values
                )
                merged, cdc_df, persisted = merge_clauses_with_cdc(
                    target,
                    source,
                    keys,
                    matched=cl.get("matched"),
                    not_matched=cl.get("not_matched"),
                    not_matched_by_source=cl.get("not_matched_by_source"),
                    evolve_schema=evolve_schema,
                    post_transform=_post,
                )
            elif clauses is not None:
                merged = _post(
                    merge_clauses(
                        target,
                        src_eff if insert_only else source,
                        keys,
                        matched=clauses.get("matched"),
                        not_matched=clauses.get("not_matched"),
                        not_matched_by_source=clauses.get(
                            "not_matched_by_source"
                        ),
                        evolve_schema=evolve_schema,
                    )
                )
            else:
                merged = _post(
                    merge_frames(
                        target, source, keys, when_matched, when_not_matched,
                        evolve_schema, matched_set=matched_set,
                        insert_values=insert_values,
                    )
                )
            if cdc and insert_only:
                # insert-only: the merge output IS the change set — persist
                # it so the data write and the sidecar write read the SAME
                # materialized rows (identity assignment is not stable
                # across executions)
                persisted = merged.persist(StorageLevel.MEMORY_AND_DISK)
                merged = persisted
                cdc_df = persisted.withColumn("_change_type", F.lit("insert"))
            # column-mapped table + schema evolution: any column NEW to the
            # mapping writes under a FRESH physical name and the merge
            # commit records the extended mapping — otherwise a previously
            # DROPPED column's identity-mapped name would resurrect the old
            # files' values (or collide with a renamed column's physical
            # name). Same rule as add_column.
            mapping = table._mapping_at()
            new_mapping = None
            if mapping:
                # the physical-only row-id column is never column-mapped —
                # it lives under its fixed physical name in every file
                absent = [
                    c
                    for c in merged.columns
                    if c not in mapping and c != _ROW_ID_PHYS
                ]
                if absent:
                    new_mapping = dict(mapping)
                    for c in absent:
                        new_mapping[c] = f"col_{uuid.uuid4().hex[:12]}"
            try:
                adds = table._write_data(
                    merged,
                    _mapping=new_mapping
                    if new_mapping is not None
                    else _MAPPING_DEFAULT,
                )
                cdc_rel: str | None = None
                if cdc_df is not None:
                    # the change feed is LOGICAL rows — drop the physical-
                    # only row-id column (lenient no-op when absent)
                    cdc_rel = table._write_cdc(cdc_df.drop(_ROW_ID_PHYS))
            except Exception:
                # pre-commit failure (CheckViolation, IO): don't leak the
                # cached single-pass frame
                if persisted is not None:
                    persisted.unpersist()
                raise
            # record the STORED schema (field metadata intact — a projection
            # strips identity/generation annotations) widened by evolution,
            # plus any identity watermark advance read from the new files'
            # footer stats (clamped monotone: a no-insert merge's files hold
            # only preserved ids at/below the current watermark)
            commit_schema = _dml_evolved_schema(
                table._schema_at(), merged.schema.json()
            )
            if cur_ident and adds:
                hws = table._identity_new_hw(adds, cur_ident)
                ident_hws = {}
                for c, m in cur_ident.items():
                    far = max if m["step"] > 0 else min
                    ident_hws[c] = (
                        hws[c] if m["hw"] is None else far(m["hw"], hws[c])
                    )
                commit_schema = _identity_hw_update(commit_schema, ident_hws)
            try:
                table._commit_dml(
                    adds=adds, removes=removes, base_version=base_version,
                    op="merge", schema=commit_schema, txn=txn,
                    column_mapping=new_mapping, cdc=cdc_rel,
                )
                return table.read()
            except CommitConflict:
                # loser's data files are orphans; drop them and retry on the
                # winner's snapshot
                for f in adds:
                    os.remove(os.path.join(table.path, f))
                if cdc_rel is not None:
                    os.remove(os.path.join(table.path, cdc_rel))
            finally:
                if persisted is not None:
                    persisted.unpersist()
        raise CommitConflict(f"merge gave up after {max_retries} retries")
