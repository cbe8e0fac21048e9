"""The commit-log fold: how a table's log — the engine's own ``_txlog``
or a foreign Delta ``_delta_log`` (public delta.io PROTOCOL.md) — folds
into a snapshot (live files, deletion vectors, schema, column mapping,
partition spec) and into per-commit deltas (the input of change feeds
and of the streaming source's offset planner).

ONE implementation serves every reader: :mod:`operators.txlog`,
:mod:`operators.deltalog` and the ``txlog`` Python DataSource
(:mod:`sources.txlog_source`), so a fold rule cannot drift between them.

THE SNAPSHOT CONTRACT (txlog). :class:`Snapshot` is a table's whole
state at one version — files, deletion vectors, stats, schema, column
mapping, CHECK set, properties, streaming-txn high-waters, row-tracking
bases and watermark, clustering, and the oldest retained commit's
partition spec and adoption markers. :func:`snapshot` builds it from one
listing of the log: the Delta paper's design (VLDB 2020, §3), the newest
checkpoint at or below the version plus the commits after it, every
commit applied by the one step :meth:`Snapshot.apply`. Table state is a
view over a snapshot, and nothing else applies a commit: a per-commit
pass — ``history()``, the change feeds (:func:`commit_deltas_full`),
the Delta export, the Iceberg export's added-version and DV-DML scans —
steps :func:`walk`, which yields each commit with the snapshots before
and after it. The few raw listings left (commit mtimes, the cleanup and
vacuum scans) are named in tests/test_logfold.py. The txlog
checkpoint writer serializes the snapshot after its commit
(:meth:`Snapshot.checkpoint_fields`), so fold and checkpoint cannot
drift. Legacy rule: a checkpoint written before the writer stamped some
field does not resolve that field — the build scans further back for
that field only, down to the oldest retained commit, where unresolved
fields take their empty defaults.

SELF-CONTAINED BY CONTRACT: this module imports only the standard
library, ``pyarrow`` and ``pyspark.sql.types`` — nothing from this
package, and it never needs a SparkSession. Spark runs the DataSource
in python processes that cannot import the package (the streaming
source's planner runner ignores ``addPyFile`` paths), so
``txlog_source.register()`` ships this module BY VALUE with cloudpickle;
a package import here would fail in those processes, and no
SparkSession exists there. Checkpoint parquet is therefore read with
pyarrow, never with a Spark job. tests/test_logfold.py pins both rules.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field, replace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StructType

# ------------------------------------------------------------ txlog fold


def _checkpoint_state(log_dir: str, c: dict) -> tuple[set, dict, dict]:
    """(live file set, dvs_state, stats_state) carried by a CHECKPOINT
    commit: inline ``adds``/``dvs_state``/``stats_state`` for ordinary
    tables, or the parquet sidecar named by ``adds_sidecar`` for huge
    file counts. The ONE reader every fold must use — reading
    ``c["adds"]`` directly on a sidecar'd checkpoint silently yields an
    empty table. A pre-stats sidecar lacks the stats column: "no
    stats", footers cover it."""
    sc = c.get("adds_sidecar")
    if not sc:
        return (
            set(c["adds"]),
            dict(c.get("dvs_state") or {}),
            dict(c.get("stats_state") or {}),
        )
    full = os.path.join(log_dir, sc)
    names = pq.read_schema(full).names
    tbl = pq.read_table(full)
    files = tbl.column("file").to_pylist()
    dvs: dict[str, dict] = {}
    if "dv_sidecar" in names:
        # dv_pathkey is absent on pre-relative-path-keying checkpoints —
        # its None default means "legacy basename-keyed sidecar"
        pks = (
            tbl.column("dv_pathkey").to_pylist()
            if "dv_pathkey" in names
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
    stats: dict[str, dict] = {}
    if "stats_json" in names:
        for f, sj in zip(files, tbl.column("stats_json").to_pylist()):
            if sj is not None:
                stats[f] = json.loads(sj)
    return set(files), dvs, stats


def _commit_entries(log_dir: str) -> list[tuple[int, str]]:
    """(version, file name) of every txlog commit, ascending."""
    return sorted(
        (int(f.split(".")[0]), f) for f in os.listdir(log_dir) if f.endswith(".json")
    )


def _load(log_dir: str, name: str) -> dict:
    with open(os.path.join(log_dir, name)) as fh:
        return json.load(fh)


# keys a METADATA-COMPLETE checkpoint carries (the txlog writer stamps
# them on every periodic checkpoint): every fold can bootstrap there, and
# it is the only kind of commit ``cleanup_log`` may truncate up to
_COMPLETE_KEYS = ("schema", "checks_reset", "partition_by", "txns_state", "dvs_state")


def metadata_complete(c: dict) -> bool:
    return bool(c.get("checkpoint")) and all(k in c for k in _COMPLETE_KEYS)


def _resolves(c: dict) -> set[str]:
    """The snapshot fields whose whole value ``c`` carries, so no older
    commit can matter to them. A metadata-complete checkpoint omits the
    mapping, the row-tracking state and the clustering only when they
    are empty; an older checkpoint lacking a field does not resolve it."""
    full = metadata_complete(c)
    out = set()
    for field, key in (
        ("schema", "schema"),
        ("mapping", "column_mapping"),
        ("checks", "checks_reset"),
        ("properties", "properties_reset"),
        ("txns", "txns_state"),
        ("rows", "row_base_state"),
        ("clustering", "clustering"),
    ):
        if c.get(key) is not None or (
            full and field in ("mapping", "rows", "clustering")
        ):
            out.add(field)
    return out


_FIELDS = frozenset(
    ("schema", "mapping", "checks", "properties", "txns", "rows", "clustering")
)


@dataclass(frozen=True)
class Snapshot:
    """A txlog table's whole state at one version — the ONE place the
    log becomes table state. Every accessor of ``TxLogTable`` is a view
    over it, the checkpoint writer serializes it, and the ``txlog``
    DataSource reads it. Treat its containers as read-only: a snapshot
    is shared by every view taken at its version.

    - ``live``/``dvs``/``stats``: live data files, their deletion-vector
      descriptors and their recorded statistics;
    - ``schema`` (StructType JSON, None on legacy logs) and ``mapping``
      (logical -> physical column names, None = identity);
    - ``checks``, ``properties``, ``txns`` (streaming-txn high-waters per
      app id), ``row_bases``/``row_hw`` (row tracking), ``clustering``;
    - ``oldest`` and ``origin``: the oldest RETAINED commit's version and
      its adoption payload (``op``, ``converted_from_delta``,
      ``converted_from_iceberg``, ``partition_by``/``partition_schema``).
      Commit 0 records the partition spec and adoption markers, and
      after ``cleanup_log`` the oldest survivor is a metadata-complete
      checkpoint that re-stamps them, so the oldest commit answers both.
    """

    version: int
    oldest: int
    origin: dict
    live: frozenset = frozenset()
    dvs: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)
    schema: str | None = None
    mapping: dict | None = None
    checks: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    txns: dict = field(default_factory=dict)
    row_bases: dict = field(default_factory=dict)
    row_hw: int = -1
    clustering: tuple = ()

    @property
    def files(self) -> list[str]:
        return sorted(self.live)

    def partition(self) -> tuple[list[str], StructType | None]:
        return _partition_spec(self.oldest, self.origin)

    def apply(self, log_dir: str, v: int, c: dict) -> "Snapshot":
        """The snapshot after commit ``c`` at version ``v`` — the ONE
        per-commit step of every table-state field; nothing else applies
        a commit (a per-commit pass steps :func:`walk`). A checkpoint
        commit replaces live files, vectors and stats wholesale;
        ``*_reset`` / ``*_state`` payloads replace their field (restore,
        checkpoints); otherwise each field takes the commit's delta.
        Never mutates."""
        full = metadata_complete(c)
        if c.get("checkpoint"):
            live, dvs, stats = _checkpoint_state(log_dir, c)
        else:
            # removed files leave and drop their vector and stats (the
            # data left the table or was compacted); ``dvs_reset``
            # (restore) replaces the whole vector state, and ``dvs``
            # entries replace per-file descriptors (DML always writes
            # the union, so a new vector supersedes the old one)
            removed = set(c["removes"])
            live = (self.live - removed) | set(c["adds"])
            if c.get("dvs_reset") is not None:
                dvs = dict(c["dvs_reset"])
            else:
                dvs = {f: d for f, d in self.dvs.items() if f not in removed}
            dvs.update(c.get("dvs") or {})
            stats = {f: s for f, s in self.stats.items() if f not in removed}
        if c.get("stats_reset") is not None:
            stats = dict(c["stats_reset"])
        stats.update(c.get("stats") or {})
        if c.get("column_mapping") is not None:
            mapping = c["column_mapping"]
        else:
            mapping = None if full else self.mapping
        checks = self.checks
        if c.get("checks_reset") is not None:
            checks = dict(c["checks_reset"])
        elif c.get("check"):
            checks = dict(checks)
            ck = c["check"]
            if c.get("op") == "add_check":
                checks[ck["name"]] = ck["expr"]
            elif c.get("op") == "drop_check":
                checks.pop(ck["name"], None)
        props = self.properties
        if c.get("properties_reset") is not None:
            props = dict(c["properties_reset"])
        if c.get("properties"):
            # a checkpoint re-applies its own delta on top (idempotent)
            props = dict(props)
            for k, val in c["properties"].items():
                if val is None:
                    props.pop(k, None)
                else:
                    props[k] = str(val)
        txns = self.txns
        marks = dict(c.get("txns_state") or {})
        t = c.get("txn")
        if t and t.get("appId") is not None:
            marks[str(t["appId"])] = max(
                int(t["version"]), int(marks.get(str(t["appId"]), -1))
            )
        if marks:
            txns = dict(txns)
            for app, tv in marks.items():
                txns[app] = max(txns.get(app, int(tv)), int(tv))
        if c.get("row_base_state") is not None:
            bases = {str(k): int(x) for k, x in c["row_base_state"].items()}
            hw = int(c.get("row_hw", -1))
        else:
            bases, hw = ({}, -1) if full else (self.row_bases, self.row_hw)
            if c.get("row_base_reset") is not None:
                bases = {str(k): int(x) for k, x in c["row_base_reset"].items()}
            if c.get("row_base"):
                bases = {**bases, **{str(k): int(x) for k, x in c["row_base"].items()}}
            if c.get("row_hw") is not None:
                hw = max(hw, int(c["row_hw"]))
        if c.get("clustering") is not None:
            clustering = tuple(c["clustering"])
        else:
            clustering = () if full else self.clustering
        return replace(
            self,
            version=v,
            live=frozenset(live),
            dvs=dvs,
            stats=stats,
            schema=c["schema"] if c.get("schema") is not None else self.schema,
            mapping=mapping,
            checks=checks,
            properties=props,
            txns=txns,
            row_bases=bases,
            row_hw=hw,
            clustering=clustering,
        )

    def checkpoint_fields(self) -> dict:
        """This snapshot serialized as a METADATA-COMPLETE checkpoint's
        state keys — the writer stamps exactly what :meth:`apply` reads
        back, so the fold and the checkpoint cannot drift."""
        pby, pschema = self.partition()
        out = {
            "adds": self.files,
            "removes": [],
            "dvs_state": dict(self.dvs),
            "stats_state": dict(self.stats),
            "checks_reset": dict(self.checks),
            "properties_reset": dict(self.properties),
            "partition_by": pby,
            "partition_schema": pschema.json() if pby else None,
            "txns_state": dict(self.txns),
            # even the EMPTY list: an un-cluster commit truncated by
            # cleanup must not let an older checkpoint's columns return
            "clustering": list(self.clustering),
        }
        if self.schema is not None:
            out["schema"] = self.schema
        if self.mapping is not None:
            out["column_mapping"] = self.mapping
        if self.origin.get("converted_from_iceberg") is not None:
            # the adoption marker must survive cleanup_log (to_iceberg
            # refuses adopted tables): cleanup's horizon is always such
            # a checkpoint, so the oldest retained commit keeps it
            out["converted_from_iceberg"] = self.origin["converted_from_iceberg"]
        if self.row_hw >= 0 or self.row_bases:
            # once row-tracking state exists it persists on every
            # checkpoint, whatever the property says: a re-enable after
            # cleanup must continue the watermark, never restart it
            out["row_base_state"] = {
                f: b for f, b in self.row_bases.items() if f in self.live
            }
            out["row_hw"] = self.row_hw
        return out


def _partition_spec(oldest: int, origin: dict) -> tuple[list[str], StructType | None]:
    """(partition column names, their StructType) recorded on the oldest
    retained commit; ``([], None)`` for unpartitioned tables. Loud when
    that commit is not commit 0 and carries no spec: a truncated head
    must not silently read a partitioned table as unpartitioned."""
    if "partition_by" not in origin and oldest != 0:
        raise FileNotFoundError(
            f"commit 0 is gone and the oldest retained commit {oldest} "
            "carries no partition spec — the log head was truncated below "
            "a metadata-complete checkpoint"
        )
    pby = list(origin.get("partition_by") or [])
    if not pby:
        return [], None
    return pby, StructType.fromJson(json.loads(origin["partition_schema"]))


_ORIGIN_KEYS = (
    "op",
    "converted_from_delta",
    "converted_from_iceberg",
    "partition_by",
    "partition_schema",
)


def empty_snapshot(partition_by=(), partition_schema=None) -> Snapshot:
    """The state before commit 0 — what a table's creating commit is
    written against (its files still pass the CHECK gate and land under
    the partition spec it is about to record)."""
    origin = {"partition_by": list(partition_by)}
    if partition_by:
        origin["partition_schema"] = partition_schema.json()
    return Snapshot(version=-1, oldest=0, origin=origin)


def _origin(c: dict) -> dict:
    return {k: c[k] for k in _ORIGIN_KEYS if k in c}


def oldest_commit(
    log_dir: str, entries: list[tuple[int, str]] | None = None
) -> tuple[int, dict]:
    """(version, adoption payload) of the oldest RETAINED commit — the
    one reader of it (partition spec, CONVERT markers, the cleanup
    horizon a stream clamps to)."""
    entries = _commit_entries(log_dir) if entries is None else entries
    if not entries:
        raise FileNotFoundError(f"no commits in {log_dir}")
    v, name = entries[0]
    return v, _origin(_load(log_dir, name))


def snapshot(
    log_dir: str,
    as_of: int | None = None,
    base: Snapshot | None = None,
    entries: list[tuple[int, str]] | None = None,
) -> Snapshot:
    """The txlog :class:`Snapshot` at ``as_of`` (default: latest), from
    ONE listing of the log (``entries``, when the caller already has it).

    With a ``base`` snapshot at or below ``as_of`` whose later commits are
    all present, only those commits are applied. Otherwise the build
    scans back from ``as_of`` to the newest checkpoint, loading nothing
    older, and applies the commits after it — O(checkpoint interval)
    loads at any log length. Where a legacy checkpoint lacks a field
    (written before the writer stamped it), the scan continues below it
    until every field is resolved or the oldest retained commit is
    reached; fields still unresolved there take their empty defaults."""
    entries = _commit_entries(log_dir) if entries is None else entries
    if not entries:
        raise FileNotFoundError(f"no commits in {log_dir}")
    upto = entries if as_of is None else [e for e in entries if e[0] <= as_of]
    if not upto:
        raise FileNotFoundError(
            f"no commit at or before version {as_of} in {log_dir}"
        )
    oldest, want = entries[0][0], upto[-1][0]
    if base is not None and base.oldest != oldest:
        base = replace(base, oldest=oldest, origin=oldest_commit(log_dir, entries)[1])
    if base is not None and base.version <= want:
        newer = [e for e in upto if e[0] > base.version]
        if [v for v, _ in newer] == list(range(base.version + 1, want + 1)):
            for v, name in newer:
                base = base.apply(log_dir, v, _load(log_dir, name))
            return base
    loaded: list[tuple[int, dict]] = []
    need = set(_FIELDS)
    bootstrapped = False
    for v, name in reversed(upto):
        c = _load(log_dir, name)
        loaded.append((v, c))
        need -= _resolves(c)
        bootstrapped = bootstrapped or bool(c.get("checkpoint"))
        if bootstrapped and not need:
            break
    if loaded[-1][0] == oldest:
        origin = _origin(loaded[-1][1])
    else:
        origin = oldest_commit(log_dir, entries)[1]
    snap = Snapshot(version=-1, oldest=oldest, origin=origin)
    for v, c in reversed(loaded):
        snap = snap.apply(log_dir, v, c)
    return snap


def walk(log_dir: str, lo: int | None = None, hi: int | None = None):
    """Yield ``(v, commit, before, after)`` for every txlog commit in
    ``[lo, hi]`` (default: the oldest retained commit through the latest),
    where ``after = before.apply(log_dir, v, commit)`` — the ONE
    per-commit pass. History, change feeds, the Delta export and the
    Iceberg scans read ``before``/``after`` instead of folding the log
    themselves, so they see exactly the state :func:`snapshot` builds.

    ``before`` at ``lo`` is the snapshot at ``lo - 1`` (O(checkpoint
    interval) loads, never a fold from commit 0); at the oldest retained
    commit it is the empty state, so after ``cleanup_log`` that commit's
    delta is the horizon checkpoint's whole live list. Horizon rule: a
    range starting BELOW the oldest retained commit refuses loudly (its
    state went with the commits ``cleanup_log`` deleted), and so does a
    gap inside the range."""
    entries = _commit_entries(log_dir)
    if not entries:
        raise FileNotFoundError(f"no commits in {log_dir}")
    oldest = entries[0][0]
    lo = oldest if lo is None else lo
    hi = entries[-1][0] if hi is None else hi
    if lo < oldest:
        raise FileNotFoundError(
            f"commits from version {lo} are below the retained log head "
            f"(oldest commit: {oldest}) — they were deleted by cleanup_log;"
            " the change-feed horizon is the log-retention horizon"
        )
    todo = [(v, name) for v, name in entries if lo <= v <= hi]
    before = (
        None if lo == oldest or not todo
        else snapshot(log_dir, lo - 1, entries=entries)
    )
    for v, name in todo:
        c = _load(log_dir, name)
        if before is None:
            before = Snapshot(version=v - 1, oldest=v, origin=_origin(c))
        if v != before.version + 1:
            raise FileNotFoundError(
                f"txlog {log_dir} is missing commit {before.version + 1}"
            )
        after = before.apply(log_dir, v, c)
        yield v, c, before, after
        before = after


def replay_log_full(
    log_dir: str, as_of: int | None = None
) -> tuple[int, list[str], dict[str, dict]]:
    """(version, live files, deletion-vector state) — a view over
    :func:`snapshot`.

    The DV state maps a live data file's relative path to its descriptor
    ``{"sidecar": <rel path of the parquet sidecar holding its deleted
    (file, row_index) rows>, "cardinality": <deleted-row count>,
    "pathkey": <"rel" when the sidecar's file column holds relative
    paths; absent on legacy basename-keyed sidecars>}`` — the
    merge-on-read half of the table format (public design: Delta's
    deletion vectors): a delete marks row POSITIONS in a tiny sidecar
    instead of rewriting the data file, so a 1-row delete costs
    O(deleted rows) bytes, not a file rewrite."""
    s = snapshot(log_dir, as_of)
    return s.version, s.files, s.dvs


def schema_json_at(log_dir: str, as_of: int | None = None) -> str | None:
    """The recorded table schema (StructType JSON) effective at ``as_of``
    — None for legacy logs. A Delta log answers with its
    ``schemaString``, which IS Spark StructType JSON (PROTOCOL.md)."""
    if is_delta_log(log_dir):
        return _replay_delta_log(log_dir, as_of).metadata["schemaString"]
    return snapshot(log_dir, as_of).schema


def _commit_record(
    v: int, op: str, cdc, prev: dict, new: dict, prev_dvs: dict, dvs: dict
) -> dict:
    """One per-commit delta record — the shape :func:`commit_deltas_full`
    documents, shared by both log kinds. ``prev``/``new`` are the live
    files on either side of the commit (any mapping keyed by path)."""
    adds = sorted(set(new) - set(prev))
    removes = sorted(set(prev) - set(new))
    both = set(new) & set(prev)
    return {
        "v": v,
        "adds": adds,
        "removes": removes,
        "op": op,
        "dv_changed": {
            f: (prev_dvs.get(f), dvs.get(f))
            for f in sorted(both)
            if prev_dvs.get(f) != dvs.get(f)
        },
        "dv_removed": {f: prev_dvs[f] for f in removes if f in prev_dvs},
        "dv_added": {f: dvs[f] for f in adds if f in dvs},
        "cdc": cdc,
    }


def commit_deltas_full(
    log_dir: str, from_version: int, to_version: int
) -> list[dict]:
    """Per-commit deltas over ``[from_version, to_version]``: one
    :func:`walk`, each record the diff of the snapshots on either side of
    its commit (a checkpoint commit's recorded adds are the full live
    list; its TRUE delta is live(v) - live(v-1)). Shared by
    :meth:`TxLogTable.read_changes` and the ``txlog`` DataSource's
    change-feed and streaming planners; a Delta log is served by
    :func:`delta_deltas_full`. A long-lived streaming tail polling this
    per trigger pays O(commits in range + checkpoint interval), never
    O(total commits).

    Horizon rule (the walk's): a range starting BELOW the oldest retained
    commit refuses loudly. A range starting AT it is served, with that
    commit's record carrying the horizon checkpoint's full file list as
    adds — exactly the snapshot a fresh stream bootstraps from. A caller
    that needs the TRUE delta of that commit (live(v-1) is gone) refuses
    it itself, as :meth:`TxLogTable.read_changes` does.

    Each record is a dict: ``v``, ``adds``/``removes`` (TRUE file
    deltas), ``op`` (lets consumers tell data-unchanged rewrites —
    OPTIMIZE, Delta's ``dataChange=false`` — from real DML), ``cdc``
    (the commit's change-data sidecar, if any), plus the deletion-vector
    deltas a row-exact change feed needs: ``dv_changed`` maps a file live
    on BOTH sides of the commit whose DV descriptor changed to
    ``(old_desc|None, new_desc|None)`` (grown DV = rows deleted;
    shrunk/cleared — a restore — = rows resurrected); ``dv_removed`` maps
    a removed file to the DV it carried BEFORE the commit (so its rows
    are NOT re-reported as deletes); ``dv_added`` maps an added file to
    the DV it carries AFTER (a restore re-adding a DV'd file)."""
    if is_delta_log(log_dir):
        return delta_deltas_full(log_dir, from_version, to_version)
    return [
        _commit_record(
            v, c.get("op") or "", c.get("cdc"),
            before.live, after.live, before.dvs, after.dvs,
        )
        for v, c, before, after in walk(log_dir, from_version, to_version)
    ]


def hive_partition_values(rel_path: str) -> dict[str, str | None]:
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


def partition_meta(log_dir: str) -> tuple[list[str], StructType | None]:
    """(partition column names, their StructType) — ``([], None)`` for
    unpartitioned tables. A txlog answers from its oldest retained commit
    (:func:`oldest_commit`); a Delta log from its latest ``metaData``."""
    if is_delta_log(log_dir):
        meta = _replay_delta_log(log_dir).metadata
        pby = list(meta.get("partitionColumns") or [])
        if not pby:
            return [], None
        by_name = {f.name: f for f in _schema(meta).fields}
        return pby, StructType([by_name[c] for c in pby])
    return _partition_spec(*oldest_commit(log_dir))


# ------------------------------------------------------------ Delta fold

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
SIDECAR_DIR = "_sidecars"

# reader TABLE FEATURES this implementation honors (PROTOCOL.md 'Table
# Features', reader version 3): columnMapping resolves physical columns
# via schemaString metadata; timestampNtz is just a Spark type the scans
# already read; deletionVectors drop descriptor bitmaps' rows out of the
# scan (operators/roaring.py decodes the RoaringBitmap blobs);
# v2Checkpoint resolves UUID-named checkpoint spec files and their
# _sidecars/ parquet file actions (_checkpoint_rows). Everything else
# refuses — the spec REQUIRES readers to refuse features they cannot
# honor.
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "timestampNtz",
    "deletionVectors",
    "v2Checkpoint",
    # type widening: reads resolve files under the WIDENED schemaString;
    # Spark 4's parquet reader upcasts the narrow physical types natively
    "typeWidening",
}


@dataclass
class _DeltaState:
    """Replayed log state at a version. ``tombstones`` (unexpired
    ``remove`` actions) and ``txns`` (latest ``txn`` per appId) are
    carried so checkpoints preserve them as PROTOCOL.md requires —
    external engines rely on tombstones for VACUUM safety and on txn
    app versions for streaming idempotence."""

    version: int
    live: dict[str, dict]
    metadata: dict | None
    protocol: dict
    tombstones: dict[str, dict] = field(default_factory=dict)
    txns: dict[str, dict] = field(default_factory=dict)
    # domainMetadata actions (PROTOCOL.md "Domain Metadata"): latest
    # configuration per domain — row tracking keeps its rowIdHighWaterMark
    # here, so checkpoints must preserve them like txn app versions
    domains: dict[str, dict] = field(default_factory=dict)


def is_delta_log(log_dir: str) -> bool:
    return os.path.basename(log_dir.rstrip("/")) == "_delta_log"


def _check_protocol(protocol: dict) -> None:
    mrv = protocol.get("minReaderVersion", 1)
    if mrv <= 2:
        return
    feats = protocol.get("readerFeatures")
    if mrv == 3 and feats is not None:
        unsupported = sorted(set(feats) - _SUPPORTED_READER_FEATURES)
        if not unsupported:
            # Delta 3.x writes the table-features protocol form even for
            # tables whose feature set this reader fully implements —
            # refusing on the version number alone would reject tables
            # we can read faithfully
            return
        raise NotImplementedError(
            f"table requires reader features {unsupported} "
            f"(supported: {sorted(_SUPPORTED_READER_FEATURES)})"
        )
    raise NotImplementedError(
        "this reader implements Delta protocol minReaderVersion<=2 plus "
        "reader-version-3 TABLE FEATURES limited to "
        f"{sorted(_SUPPORTED_READER_FEATURES)}; table requires {protocol}"
    )


def _read_last_checkpoint(delta_dir: str) -> dict | None:
    """``_last_checkpoint`` is a HINT (PROTOCOL.md): a missing, torn or
    unparseable file reads as absent — the checkpoint listing
    (:func:`_checkpoint_versions`) still finds every checkpoint."""
    try:
        with open(os.path.join(delta_dir, "_last_checkpoint")) as fh:
            lc = json.load(fh)
    except (OSError, ValueError):
        return None
    return lc if isinstance(lc, dict) and "version" in lc else None


def _checkpoint_versions(delta_dir: str) -> dict[int, int | None]:
    """version -> parts (None for single-part classic and v2) of every
    checkpoint present, from the DIRECTORY LISTING — the reader-side
    complement of ``_last_checkpoint``: time travel below the newest
    checkpoint must bootstrap from an OLDER one when retention kept it
    (``cleanup_delta_log(keep_after=...)``), which ``_last_checkpoint``
    alone can never find."""
    out: dict[int, int | None] = {}
    for f in os.listdir(delta_dir):
        m = re.fullmatch(r"(\d{20})\.checkpoint\.parquet", f)
        if m:
            out.setdefault(int(m.group(1)), None)
            continue
        m = re.fullmatch(
            r"(\d{20})\.checkpoint\.\d{10}\.(\d{10})\.parquet", f
        )
        if m:
            out[int(m.group(1))] = int(m.group(2))
            continue
        m = re.fullmatch(r"(\d{20})\.checkpoint\.[^.]+\.(json|parquet)", f)
        if m:
            out.setdefault(int(m.group(1)), None)
    return out


def _usable_checkpoint_form(
    delta_dir: str, version: int, parts: int | None
) -> tuple[bool, int | None]:
    """(usable, parts_to_replay_with) — completeness validation the
    Delta spec requires of readers before trusting a checkpoint found by
    directory listing: classic multi-part checkpoints publish each part
    with its own rename (``_last_checkpoint`` written last), so a
    crashed or still-running checkpoint write legally leaves e.g. part
    1-of-3 only. Selecting that candidate would fail the ENTIRE snapshot
    read even though an older checkpoint (or the JSON tail alone) can
    serve it — so verify all N parts exist and are non-empty, fall
    through to a complete single-part/v2 form at the same version, and
    let the caller walk to the next-older candidate otherwise."""
    if parts:
        names = [
            os.path.join(
                delta_dir,
                f"{version:020d}.checkpoint.{p:010d}.{int(parts):010d}.parquet",
            )
            for p in range(1, int(parts) + 1)
        ]
        if all(os.path.exists(n) and os.path.getsize(n) > 0 for n in names):
            return True, int(parts)
    classic = os.path.join(delta_dir, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(classic) and os.path.getsize(classic) > 0:
        return True, None
    spec = _resolve_v2_checkpoint(delta_dir, version)
    if spec is not None and os.path.getsize(os.path.join(delta_dir, spec)) > 0:
        return True, None
    return False, None


def _resolve_v2_checkpoint(delta_dir: str, version: int) -> str | None:
    """The v2 (UUID-named) checkpoint spec file for ``version``, or None.
    Naming per PROTOCOL.md: ``<v>.checkpoint.<uniqueStr>.{json,parquet}``
    — exactly one dot field between 'checkpoint' and the extension, which
    cannot collide with classic multi-part names (two numeric fields).
    Multiple writers may each have left a complete v2 checkpoint for the
    same version; any is valid, so pick deterministically."""
    pat = re.compile(
        rf"{version:020d}\.checkpoint\.[^.]+\.(json|parquet)"
    )
    hits = sorted(f for f in os.listdir(delta_dir) if pat.fullmatch(f))
    return hits[-1] if hits else None


def _newest_checkpoint(
    delta_dir: str, at_most: int
) -> tuple[int, int | None] | None:
    """(version, parts to replay with) of the newest COMPLETE checkpoint
    at/below ``at_most``, or None. Candidates come from the directory
    listing, not only ``_last_checkpoint``: after log-head cleanup the
    state below a checkpoint exists nowhere else, and time travel below
    the newest checkpoint must use an OLDER retained one
    (``cleanup_delta_log(keep_after=...)``) that ``_last_checkpoint``
    never names. Candidates are walked newest-first with the spec's
    COMPLETENESS validation: a crashed multi-part write leaves a partial
    part set the listing still surfaces — skip it for the next-older."""
    ckpts = _checkpoint_versions(delta_dir)
    lc = _read_last_checkpoint(delta_dir)
    for cv in sorted((v for v in ckpts if v <= at_most), reverse=True):
        parts = ckpts[cv]
        if lc and lc.get("version") == cv and lc.get("parts"):
            parts = lc["parts"]
        usable, replay_parts = _usable_checkpoint_form(delta_dir, cv, parts)
        if usable:
            return cv, replay_parts
    return None


def _arrow_py(v, t: pa.DataType):
    """One pyarrow ``to_pylist`` value as the action JSON it encodes:
    MAP values become dicts (pyarrow 16 yields ``(key, value)`` pairs and
    has no ``maps_as_pydicts``), recursively through structs and lists,
    and a struct whose every field is null reads as absent (a foreign
    writer's all-null ``deletionVector`` struct means "no vector")."""
    if v is None:
        return None
    if pa.types.is_map(t):
        return {k: _arrow_py(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        out = {f.name: _arrow_py(v.get(f.name), f.type) for f in t}
        return out if any(x is not None for x in out.values()) else None
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_arrow_py(x, t.value_type) for x in v]
    return v


def _non_null(d: dict) -> dict:
    return {k: v for k, v in d.items() if v is not None}


_CHECKPOINT_COLUMNS = (
    "add", "remove", "metaData", "protocol", "txn",
    "sidecar", "checkpointMetadata", "domainMetadata",
)


def _fold_parquet_actions(
    state: _DeltaState, paths: list[str]
) -> tuple[list[dict], dict | None]:
    """Fold checkpoint-schema parquet rows (classic checkpoint parts, a
    v2 spec file, or v2 sidecars) into ``state``, read with pyarrow;
    returns (``sidecar`` actions, ``checkpointMetadata`` payload) — both
    v2-spec-file-only, collected in the SAME pass as the action fold.
    Shared by all three forms so the action semantics cannot drift."""
    sidecars: list[dict] = []
    ckpt_meta: dict | None = None
    for path in paths:
        have = set(pq.read_schema(path).names)
        want = [c for c in _CHECKPOINT_COLUMNS if c in have]
        tbl = pq.read_table(path, columns=want)
        for col in want:
            arr = tbl.column(col)
            for a in arr.to_pylist():
                a = _arrow_py(a, arr.type)
                if a is None:
                    continue
                if col == "add" and a.get("path") is not None:
                    state.live[a["path"]] = _non_null(a)
                elif col == "remove" and a.get("path") is not None:
                    state.tombstones[a["path"]] = _non_null(a)
                elif col == "metaData" and a.get("schemaString") is not None:
                    state.metadata = a
                elif col == "protocol" and a.get("minReaderVersion") is not None:
                    # the FULL action: a v3 checkpoint's readerFeatures
                    # list decides acceptance, not the version alone
                    proto = _non_null(a)
                    _check_protocol(proto)
                    state.protocol = proto
                elif col == "txn" and a.get("appId") is not None:
                    state.txns[a["appId"]] = _non_null(a)
                elif col == "domainMetadata" and a.get("domain") is not None:
                    if a.get("removed"):
                        state.domains.pop(a["domain"], None)
                    else:
                        state.domains[a["domain"]] = a
                elif col == "sidecar" and a.get("path") is not None:
                    sidecars.append(a)
                elif (
                    col == "checkpointMetadata"
                    and a.get("version") is not None
                ):
                    ckpt_meta = a
    return sidecars, ckpt_meta


def _fold_json_action(state: _DeltaState, a: dict) -> dict | None:
    """Fold one JSON checkpoint action dict into ``state``; returns the
    sidecar payload when the action is a ``sidecar`` reference."""
    if "add" in a:
        state.live[a["add"]["path"]] = a["add"]
    elif "remove" in a:
        state.tombstones[a["remove"]["path"]] = a["remove"]
    elif "metaData" in a:
        state.metadata = a["metaData"]
    elif "protocol" in a:
        _check_protocol(a["protocol"])
        state.protocol = a["protocol"]
    elif "txn" in a:
        app = a["txn"].get("appId")
        if app is not None:
            state.txns[app] = a["txn"]
    elif "domainMetadata" in a:
        dm = a["domainMetadata"]
        if dm.get("removed"):
            state.domains.pop(dm.get("domain"), None)
        elif dm.get("domain") is not None:
            state.domains[dm["domain"]] = dm
    elif "sidecar" in a:
        return a["sidecar"]
    return None


def _read_actions(full: str) -> list[dict]:
    """The actions of one newline-delimited JSON log file, in order."""
    with open(full) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _checkpoint_rows(
    delta_dir: str, version: int, parts: int | None
) -> _DeltaState:
    """Replay a checkpoint into the full state it carries: live ``add``
    actions (path -> add dict, stats and sizes preserved), the
    ``metaData`` action, the ``protocol``, plus the ``remove`` tombstones
    and ``txn`` app versions PROTOCOL.md requires checkpoints to preserve
    — exactly as the protocol's checkpoint schema stores them (top-level
    struct columns). Handles all three protocol forms: classic single- or
    multi-part parquet, and V2 (UUID-named json/parquet spec file +
    parquet sidecars under ``_sidecars/``)."""
    state = _DeltaState(version, {}, None, dict(_PROTOCOL))
    if parts:
        names = [
            os.path.join(
                delta_dir, f"{version:020d}.checkpoint.{p:010d}.{parts:010d}.parquet"
            )
            for p in range(1, parts + 1)
        ]
        _fold_parquet_actions(state, names)
        return state
    classic = os.path.join(delta_dir, f"{version:020d}.checkpoint.parquet")
    spec = _resolve_v2_checkpoint(delta_dir, version)
    if os.path.exists(classic) or spec is None:
        # a missing classic file raises the reader's missing-file error
        _fold_parquet_actions(state, [classic])
        return state
    full = os.path.join(delta_dir, spec)
    sidecars: list[dict] = []
    ckpt_meta: dict | None = None
    if spec.endswith(".json"):
        for a in _read_actions(full):
            if "checkpointMetadata" in a:
                ckpt_meta = a["checkpointMetadata"]
                continue
            sc = _fold_json_action(state, a)
            if sc is not None:
                sidecars.append(sc)
    else:
        sidecars, ckpt_meta = _fold_parquet_actions(state, [full])
    # PROTOCOL.md: readers MUST validate the embedded version — a
    # misnamed/corrupt spec file must not silently replay as another
    # version's state
    if ckpt_meta is None or int(ckpt_meta.get("version", -1)) != version:
        raise ValueError(
            f"v2 checkpoint {spec} is invalid: checkpointMetadata.version="
            f"{(ckpt_meta or {}).get('version')!r} does not match the "
            f"file-name version {version}"
        )
    if sidecars:
        paths = [
            os.path.join(delta_dir, SIDECAR_DIR, s["path"]) for s in sidecars
        ]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"v2 checkpoint {spec} references missing sidecar file(s) "
                f"{[os.path.basename(p) for p in missing]} under "
                f"{os.path.join(delta_dir, SIDECAR_DIR)}"
            )
        _fold_parquet_actions(state, paths)
    return state


def _single_commits(delta_dir: str) -> dict[int, str]:
    """version -> file name of every single-version JSON commit — EXACT
    20-digit names (the protocol's naming rule); log compactions and
    .crc files never match."""
    return {
        int(f.split(".")[0]): f
        for f in os.listdir(delta_dir)
        if re.fullmatch(r"\d{20}\.json", f)
    }


def _replay_delta_log(
    delta_dir: str, version: int | None = None
) -> _DeltaState:
    """The ONE Delta snapshot fold, shared by every reader and by the
    checkpoint writer (so protocol fixes cannot drift between them):
    bootstrap from the newest complete checkpoint at/below the requested
    version, verify commit contiguity, then apply the log tail's actions
    in order. Returns the replayed :class:`_DeltaState` (live adds by
    path, metaData, protocol, unexpired remove tombstones, latest txn per
    appId). The unsupported-``protocol`` guard runs inside the fold, so
    every consumer refuses what it cannot replay."""
    by_version = _single_commits(delta_dir)
    # Log compactions (`<start>.<end>.compacted.json`, Delta 3.x /
    # delta-rs) carry the NET actions of a version range — the snapshot
    # fold may substitute one for its covered commits (one file open
    # instead of end-start+1), but time travel INSIDE a compacted range
    # still needs the single commits (a compaction replayed as "version
    # <start>" would apply future-state actions).
    compactions: dict[int, list[tuple[int, str]]] = {}
    for f in os.listdir(delta_dir):
        m = re.fullmatch(r"(\d{20})\.(\d{20})\.compacted\.json", f)
        if m:
            s, e = int(m.group(1)), int(m.group(2))
            compactions.setdefault(s, []).append((e, f))
    for lst in compactions.values():
        # widest FITTING range wins at selection time — keeping only the
        # global widest would discard a narrower compaction that legally
        # covers a smaller time-travel range
        lst.sort(reverse=True)
    # a fully-compacted log (checkpoint only, JSON head expired) is legal:
    # a checkpoint's version counts toward the latest resolvable version,
    # and so does a compaction's END version (its singles may be gone)
    latest = max(
        max(by_version, default=-1),
        max(_checkpoint_versions(delta_dir), default=-1),
        max((e for lst in compactions.values() for e, _ in lst), default=-1),
    )
    if latest < 0:
        raise FileNotFoundError(f"no Delta commits in {delta_dir}")
    want = latest if version is None else int(version)
    if want > latest:
        raise FileNotFoundError(f"version {want} not in Delta log (latest {latest})")
    state = _DeltaState(want, {}, None, dict(_PROTOCOL))
    start_after = -1
    found = _newest_checkpoint(delta_dir, want)
    if found is not None:
        start_after, parts = found
        state = _checkpoint_rows(delta_dir, start_after, parts)
        state.version = want
    # greedy contiguous cover of (start_after, want]: a compaction whose
    # whole range fits replaces its commits; otherwise the single commit.
    # Missing versions covered by NEITHER refuse — the spec's continuity
    # rule, with compactions as a second legal source of coverage.
    v = start_after + 1
    while v <= want:
        comp = next(
            ((e, f) for e, f in compactions.get(v, ()) if e <= want), None
        )
        if comp is not None:
            _fold_commit_file(os.path.join(delta_dir, comp[1]), state)
            v = comp[0] + 1
        elif v in by_version:
            _fold_commit_file(os.path.join(delta_dir, by_version[v]), state)
            v += 1
        else:
            raise FileNotFoundError(
                f"Delta log {delta_dir} is missing commit {v} (no single "
                f"commit and no compaction starting there fits within "
                f"version {want}; checkpoint covers through {start_after}) "
                "— cannot return a partial snapshot"
            )
    if state.metadata is None or state.metadata.get("schemaString") is None:
        raise FileNotFoundError(
            f"no metaData action at or below version {want} in {delta_dir}"
        )
    return state


def _fold_commit_file(full: str, state: _DeltaState) -> None:
    """Apply one JSON commit's (or compaction's) actions to ``state`` —
    the single action fold both the per-commit tail and the compaction
    substitution use. Adds apply after every other action of the file: a
    ``remove`` + ``add`` of one path in one commit is a deletion-vector
    or metadata update, and the add wins whatever the line order (the
    same rule :func:`delta_deltas_full` applies)."""
    actions = _read_actions(full)
    for action in actions:
        if "protocol" in action:
            _check_protocol(action["protocol"])
            state.protocol = action["protocol"]
        elif "metaData" in action:
            state.metadata = action["metaData"]
        elif "remove" in action:
            state.live.pop(action["remove"]["path"], None)
            state.tombstones[action["remove"]["path"]] = action["remove"]
        elif "txn" in action:
            app = action["txn"].get("appId")
            if app is not None:
                state.txns[app] = action["txn"]
        elif "domainMetadata" in action:
            dm = action["domainMetadata"]
            if dm.get("removed"):
                state.domains.pop(dm.get("domain"), None)
            elif dm.get("domain") is not None:
                state.domains[dm["domain"]] = dm
    for action in actions:
        if "add" in action:
            state.live[action["add"]["path"]] = action["add"]
            # re-adding a removed path supersedes its tombstone
            state.tombstones.pop(action["add"]["path"], None)


def _parse_delta_commit(delta_dir: str, version: int):
    """One Delta JSON commit's file actions: (adds {path: action}, removed
    paths, cdc actions, any-dataChange flag). Loud when the commit file
    expired — the CDF horizon is the foreign log-retention horizon."""
    fname = os.path.join(delta_dir, f"{version:020d}.json")
    if not os.path.exists(fname):
        raise FileNotFoundError(
            f"change feed needs Delta commit {version}, missing from "
            f"{delta_dir} — the foreign log was cleaned below it"
        )
    adds: dict[str, dict] = {}
    removes: set[str] = set()
    cdc: list[dict] = []
    any_dc = False
    for a in _read_actions(fname):
        if "add" in a:
            adds[a["add"]["path"]] = a["add"]
            any_dc = any_dc or a["add"].get("dataChange", True)
        elif "remove" in a:
            removes.add(a["remove"]["path"])
            any_dc = any_dc or a["remove"].get("dataChange", True)
        elif "cdc" in a:
            cdc.append(a["cdc"])
        elif "protocol" in a:
            _check_protocol(a["protocol"])
    return adds, removes, cdc, any_dc


def _delta_dvs(live: dict[str, dict]) -> dict[str, dict]:
    """path -> deletionVector descriptor of the live adds carrying one."""
    return {
        f: a["deletionVector"] for f, a in live.items() if a.get("deletionVector")
    }


def _delta_record(
    v: int, prev: dict, new: dict, cdc: list, data_change: bool
) -> dict:
    """One per-commit record of a Delta log in the txlog record shape
    (:func:`commit_deltas_full`), plus ``pvals`` (Delta files carry
    partitionValues in the LOG, not necessarily in hive paths). A commit
    whose every file action is ``dataChange=false`` reads as an
    ``optimize``."""
    rec = _commit_record(
        v, "write" if data_change else "optimize", list(cdc),
        prev, new, _delta_dvs(prev), _delta_dvs(new),
    )
    rec["pvals"] = {
        f: (new.get(f) or prev[f]).get("partitionValues") or {}
        for f in set(new) | set(prev)
    }
    return rec


def delta_deltas_full(delta_dir: str, lo: int, hi: int) -> list[dict]:
    """Per-commit deltas of a Delta log over ``[lo, hi]`` — each commit's
    JSON file actions ARE its delta; the DV descriptors before it come
    from the snapshot fold. When the JSON head expired above ``lo``, the
    checkpoint at/below the head bootstraps ONE synthetic full-snapshot
    record (the same clamped bootstrap a txlog stream has after
    ``cleanup_log``). Every version after the bootstrap needs its SINGLE
    commit: log compactions net per-commit deltas away by construction."""
    commits = _single_commits(delta_dir)
    out: list[dict] = []
    prev: dict[str, dict] = {}
    start = lo
    head = min(commits) if commits else None
    if head is not None and head > lo:
        # the bootstrap record must lie INSIDE the asked-for range: a
        # checkpoint below lo leaves the gap to the head uncovered, and
        # one above hi would emit a snapshot OUTSIDE the range
        found = _newest_checkpoint(delta_dir, hi)
        if found is None or found[0] < lo:
            raise FileNotFoundError(
                f"change range [{lo}, {hi}] starts below the retained "
                f"Delta log head (oldest commit: {head}) and no complete "
                f"checkpoint in [{lo}, {hi}] covers the gap — those "
                "deltas are unreconstructible"
            )
        cv, parts = found
        # a checkpoint at cv covers everything <= cv even when the JSON
        # commit AT cv is still retained (cv >= head)
        live = _checkpoint_rows(delta_dir, cv, parts).live
        out.append(_delta_record(cv, {}, live, [], True))
        prev = live
        start = cv + 1
    elif lo > 0:
        prev = _replay_delta_log(delta_dir, lo - 1).live
    have = sorted(v for v in commits if start <= v <= hi)
    if have != list(range(start, hi + 1)):
        raise FileNotFoundError(
            f"Delta log {delta_dir}: missing single commit(s) in "
            f"[{start}, {hi}] (have {have}) — change feeds need the "
            "per-commit JSON; compactions cannot serve deltas"
        )
    for v in have:
        adds, removes, cdc, any_dc = _parse_delta_commit(delta_dir, v)
        new = {f: a for f, a in prev.items() if f not in removes}
        new.update(adds)
        out.append(_delta_record(v, prev, new, cdc, any_dc))
        prev = new
    return out


def _schema(metadata: dict) -> StructType:
    return StructType.fromJson(json.loads(metadata["schemaString"]))


def _mapping_mode(metadata: dict | None) -> str:
    """The table's column-mapping mode from metaData.configuration
    (PROTOCOL.md: absent == 'none')."""
    cfg = (metadata or {}).get("configuration") or {}
    return cfg.get("delta.columnMapping.mode", "none")


def _require_supported_mapping(metadata: dict) -> str:
    """'none', 'name', or 'id' — all three protocol modes read; anything
    else refuses loudly as the spec requires of readers that cannot
    honor a mode. Under 'id' data columns resolve by parquet field id;
    stats and partitionValues stay keyed by physicalName in every mode
    (they describe the log, not the parquet layout resolution)."""
    mode = _mapping_mode(metadata)
    if mode not in ("none", "name", "id"):
        raise NotImplementedError(
            f"delta.columnMapping.mode={mode!r} not supported (none|name|id)"
        )
    return mode


def _physical_names(metadata: dict) -> dict[str, str]:
    """logical field name -> physical parquet column name, resolved from
    the schemaString's ``delta.columnMapping.physicalName`` field
    metadata (identity for unannotated fields — legal for mode=none
    tables and for fields an upgrade left identity-mapped)."""
    return {
        f.name: (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)
        for f in _schema(metadata).fields
    }


def _field_ids(metadata: dict) -> dict[str, int]:
    """logical field name -> parquet field id, from the schemaString's
    ``delta.columnMapping.id`` annotations (columnMapping mode=id tables
    must carry them on every field)."""
    ids = {
        f.name: (f.metadata or {}).get("delta.columnMapping.id")
        for f in _schema(metadata).fields
    }
    missing = sorted(n for n, i in ids.items() if i is None)
    if missing:
        raise ValueError(
            f"columnMapping mode=id but field(s) {missing} carry no "
            "delta.columnMapping.id annotation — the mapping is "
            "unresolvable"
        )
    return {n: int(i) for n, i in ids.items()}


# ------------------------------------------- either log, for DataSources


def latest_version(log_dir: str) -> int:
    """The newest committed version: one listing of a txlog (the max
    commit number; no commit is opened), the snapshot fold of a Delta
    log."""
    if is_delta_log(log_dir):
        return _replay_delta_log(log_dir).version
    entries = _commit_entries(log_dir)
    if not entries:
        raise FileNotFoundError(f"no commits in {log_dir}")
    return entries[-1][0]


def _delta_binding(metadata: dict) -> tuple[dict | None, dict | None]:
    mode = _require_supported_mapping(metadata)
    if mode == "none":
        return None, None
    return _physical_names(metadata), (
        _field_ids(metadata) if mode == "id" else None
    )


def column_binding_at(
    log_dir: str, as_of: int | None = None
) -> tuple[dict | None, dict | None]:
    """(logical -> PHYSICAL column names or None for identity, logical ->
    parquet FIELD ID or None) at ``as_of``. Field ids are set only for a
    Delta log under columnMapping mode=id, where data columns resolve by
    id (the stored name may differ file to file); Delta's physical names
    stay valid in both name and id modes, since partitionValues stay
    keyed by them."""
    if is_delta_log(log_dir):
        return _delta_binding(_replay_delta_log(log_dir, as_of).metadata)
    return snapshot(log_dir, as_of).mapping, None


def snapshot_at(log_dir: str, as_of: int | None = None):
    """(live files, DV descriptors by file, raw partition values by file
    or None, column mapping, field ids) at ``as_of``. Raw partition
    values come from a Delta log's ``add.partitionValues`` (Delta permits
    non-hive paths); None means "parse the hive path"."""
    if is_delta_log(log_dir):
        st = _replay_delta_log(log_dir, as_of)
        mapping, ids = _delta_binding(st.metadata)
        return (
            sorted(st.live),
            _delta_dvs(st.live),
            {f: a.get("partitionValues") or {} for f, a in st.live.items()},
            mapping,
            ids,
        )
    s = snapshot(log_dir, as_of)
    return s.files, s.dvs, None, s.mapping, None
