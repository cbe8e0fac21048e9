"""Delta Lake log interop for :mod:`operators.txlog` tables.

The commit-log table format in ``txlog.py`` implements the PUBLIC Delta
Lake paper's design (Armbrust et al., VLDB 2020) with its own JSON layout.
This module bridges to the PUBLIC Delta Lake *protocol* (the
``_delta_log`` wire format specified in delta.io's PROTOCOL.md — an
ordered sequence of ``<version>.json`` files of newline-delimited JSON
"actions": ``protocol``, ``metaData``, ``add``, ``remove``,
``commitInfo``), in both directions:

- :func:`export_delta_log` / :meth:`txlog.TxLogTable.to_delta_log`
  writes a ``_delta_log`` directory alongside the table's data files so
  EXTERNAL Delta readers (delta-spark, delta-rs, DuckDB's delta
  extension, …) can open engine tables. Export is incremental and
  idempotent: already-exported versions are never rewritten (Delta
  commits are immutable), new txlog versions append.
- :func:`read_delta_snapshot` replays any ``_delta_log`` — including one
  written by an external Delta writer — and returns the snapshot
  DataFrame, honoring ``remove`` actions, JSON commits after the last
  parquet checkpoint (``_last_checkpoint``), and ``VERSION AS OF`` time
  travel. This is the second, txlog-independent reader path: it never
  looks at ``_txlog``. The log fold itself (snapshot replay, checkpoint
  reading, protocol check, per-commit parse) lives in
  :mod:`operators.logfold`, shared with the ``txlog`` DataSource.

Feature envelope, stated plainly: tables here are flat-schema parquet,
optionally HIVE-PARTITIONED (``metaData.partitionColumns`` +
``add.partitionValues`` are exported and reconstructed — partition
columns live in the log, not the data files, exactly as the protocol
prescribes). COLUMN MAPPING (mode=name) is supported in both directions:
a txlog table that renamed/dropped columns exports with protocol
``minReaderVersion=2, minWriterVersion=5`` and per-field
``delta.columnMapping.{id,physicalName}`` metadata (Delta's own upgrade
path — versions before the first rename stay reader-v1), and the reader
resolves physical parquet columns through that metadata for any
mode=none/name table. DELETION VECTORS are supported in both directions
under the ``deletionVectors`` table feature (reader 3 / writer 7):
export re-encodes txlog sidecars as RoaringBitmap ``.bin`` files with
per-add ``deletionVector`` descriptors (:mod:`operators.roaring`
implements the public binary formats), and the reader anti-joins
descriptor bitmaps out of any foreign snapshot (storageType u/i/p).
mode=id remains refused (loudly) — refusing is what the Delta spec
REQUIRES of readers that meet an unsupported protocol.

At 100 TB the shapes match txlog's: a commit is O(files touched) JSON
bytes; snapshot resolution reads the log tail after the newest
checkpoint, not the data.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import uuid

from ..localframe import local_df
from .logfold import (
    SIDECAR_DIR,
    _DeltaState,
    _field_ids,
    _parse_delta_commit,
    _physical_names,
    _read_last_checkpoint,
    _replay_delta_log,
    _require_supported_mapping,
    hive_partition_values,
    walk,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELTA_DIR = "_delta_log"


def _delta_commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _schema_string(spark: SparkSession, table, files: list[str]) -> str:
    """Delta's ``metaData.schemaString`` is the Spark StructType JSON —
    derived from the latest live snapshot's on-disk files (schema-on-write,
    as Delta requires; see export_delta_log's vacuum note). For partitioned
    tables the table's own reader reattaches the partition columns with
    their recorded exact types, so the schemaString carries ALL columns
    including partition columns, as the protocol requires."""
    return table._read_files(files).schema.json()


def _bound_ok(dtype: str | None, v) -> bool:
    """Whether ``v`` is a publishable ``add.stats`` bound for a column of
    type ``dtype``: numbers (finite only — NaN/Infinity are not JSON,
    strict external parsers reject them), booleans, strings and dates
    (the recorded ISO date string is already Delta's form), each with
    its JSON kind. Timestamps and decimals stay unpublished."""
    if dtype == "boolean":
        return isinstance(v, bool)
    if dtype in ("string", "date"):
        return isinstance(v, str)
    return (
        dtype in ("byte", "short", "integer", "long", "float", "double")
        and isinstance(v, (int, float))
        and not isinstance(v, bool)
        and math.isfinite(v)
    )


def _add_stats(entry: dict, types: dict[str, str], dv: bool) -> str:
    """A file's recorded stats entry (``Snapshot.stats``) as Delta's
    ``add.stats`` JSON, which external readers data-skip on: the
    protocol keys only (never the ``clusteredBy`` tag), bounds only
    where :func:`_bound_ok` allows for the column's type in ``types``
    (physical name -> type name). A DV-carrying file's stats describe
    the PHYSICAL file, deleted rows included: ``tightBounds: false`` is
    how the protocol marks its min/max as possibly wider than the live
    rows."""

    def part(k: str, bounds: bool) -> dict:
        m = entry.get(k)
        if not isinstance(m, dict):
            return {}
        return {c: v for c, v in m.items() if not bounds or _bound_ok(types.get(c), v)}

    out = {
        "numRecords": entry.get("numRecords"),
        "minValues": part("minValues", True),
        "maxValues": part("maxValues", True),
        "nullCount": part("nullCount", False),
    }
    if dv:
        out["tightBounds"] = False
    return json.dumps({k: v for k, v in out.items() if v is not None})


def _schema_fields(schema_string: str) -> list[tuple[str, object]]:
    """(name, dataType) pairs of a schemaString — nullability excluded,
    it is presentation noise for schema-evolution comparisons."""
    from pyspark.sql.types import StructType

    return [
        (f.name, f.dataType)
        for f in StructType.fromJson(json.loads(schema_string)).fields
    ]


def _annotated_schema(
    schema_json: str, mapping: dict, phys_ids: dict[str, int]
) -> str:
    """schemaString for columnMapping=name: every field carries
    ``delta.columnMapping.id`` + ``delta.columnMapping.physicalName``
    metadata (delta.io PROTOCOL.md 'Column Mapping' — the writer-v5
    representation external readers resolve physical parquet columns
    through). ``mapping`` is logical -> physical (identity when a field
    is absent); ``phys_ids`` must already hold every physical name's id."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(schema_json))
    fields = []
    for f in schema.fields:
        ph = mapping.get(f.name, f.name)
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = phys_ids[ph]
        md["delta.columnMapping.physicalName"] = ph
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields).json()


def _field_meta(schema_string: str) -> dict[str, dict]:
    """name -> field metadata with the EXPORT-managed
    ``delta.columnMapping.*`` annotations stripped (the exporter adds
    those itself; the txlog-recorded schema never carries them). This is
    the metadata half of the metaData-refresh comparison: identity high
    watermarks (``delta.identity.highWaterMark``) advance on every
    append, and an export that compared only (name, type) pairs would
    advertise identityColumns with a permanently stale watermark — an
    external writer honoring it would then assign DUPLICATE ids."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(schema_string))
    return {
        f.name: {
            k: v
            for k, v in (f.metadata or {}).items()
            if not k.startswith("delta.columnMapping.")
        }
        for f in schema.fields
    }


def _data_read_schema(spark, metadata: dict, data_fields: list):
    """(parquet read schema, logical -> source-column name) for a scan of
    data/cdc files under the table's columnMapping mode. mode=none reads
    logical names as-is; mode=name reads PHYSICAL names (caller aliases
    back to logical); mode=id reads by PARQUET FIELD ID — the schema
    carries ``parquet.field.id`` metadata and Spark's field-id matching
    (``spark.sql.parquet.fieldId.read.enabled``, enabled here for the
    session) resolves the physical column PER FILE, which is the point of
    id mode: the stored column name may differ file to file.

    The conf is SESSION-GLOBAL and left on (the returned DataFrame
    evaluates lazily — restoring it would race the execution, and Spark's
    ParquetOptions exposes no per-read equivalent: only compression/
    mergeSchema/rebase options exist at the reader level). It only
    changes behavior for reads whose REQUESTED schema carries
    ``parquet.field.id`` metadata; plain reads and explicit schemas
    without ids are unaffected — but a caller who builds id-annotated
    schemas by hand should know resolution switches to by-id after the
    first mode=id table read, so the FIRST flip emits a warning."""
    from pyspark.sql.types import StructField, StructType

    mode = _require_supported_mapping(metadata)
    if mode == "id":
        ids = _field_ids(metadata)
        if (
            spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false")
            != "true"
        ):
            import warnings

            warnings.warn(
                "columnMapping mode=id read: enabling "
                "spark.sql.parquet.fieldId.read.enabled for the SESSION "
                "(Spark has no per-read option; the returned DataFrame is "
                "lazy, so it cannot be restored safely). Later reads whose "
                "requested schema carries parquet.field.id metadata will "
                "resolve columns by id instead of by name.",
                stacklevel=3,
            )
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        return (
            StructType(
                [
                    StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {"parquet.field.id": ids[f.name]},
                    )
                    for f in data_fields
                ]
            ),
            {f.name: f.name for f in data_fields},
        )
    phys = _physical_names(metadata) if mode == "name" else {}
    return (
        StructType(
            [
                StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
                for f in data_fields
            ]
        ),
        {f.name: phys.get(f.name, f.name) for f in data_fields},
    )


def export_delta_log(spark: SparkSession, table) -> int:
    """Write/refresh a Delta-protocol ``_delta_log`` mirroring every
    version of a :class:`txlog.TxLogTable`. Returns the latest exported
    version. Incremental: re-export after new txlog commits appends only
    the missing Delta commits; existing ones are immutable and untouched.

    Version numbering is preserved 1:1 (txlog version v == Delta version
    v), so time travel agrees across both readers. Every version is one
    step of :func:`logfold.walk`: its metaData (schema, column mapping,
    CHECKs as ``delta.constraints.*``, properties), file actions,
    deletion vectors, row-tracking bases and clustering domain come from
    the txlog snapshot after the commit, and its add/remove sets are the
    diff against the snapshot before it (a txlog checkpoint commit
    re-lists the whole live set; its Delta commit carries only the true
    delta). The export keeps only the Delta-protocol policy: which table
    features each version needs (latched on for the rest of the log),
    column ids, in-commit timestamps and the change-data mirror.
    """
    from .txlog import (
        _commit_name,
        _footer_schema,
        _stats_entry,
        footer_stats_dict,
    )

    delta_dir = os.path.join(table.path, DELTA_DIR)
    os.makedirs(delta_dir, exist_ok=True)
    head = table._snapshot()
    latest = head.version
    pby, pschema = table.partition_meta()
    now_ms = int(time.time() * 1000)
    # metaData refresh on incremental export: a schema that evolved AFTER
    # the first export would otherwise stay frozen in commit 0 (Delta
    # commits are immutable), leaving external readers to decode newer
    # parquet files against a stale schemaString. Each newly-exported
    # commit is compared against the newest metaData already in the Delta
    # log, and a fresh metaData action (same table id — the id is the
    # table's identity for its whole life) carrying THAT VERSION'S schema
    # is emitted exactly at each version whose schema changed — so
    # VERSION AS OF between evolutions shows exactly the columns that
    # existed then, for any number of evolutions per export. The schema
    # of a version is the txlog snapshot's (exact Spark types, logical
    # names), falling back to one existing file's footer only for legacy
    # logs that never recorded one.
    meta_id: str | None = None
    meta_fields: list | None = None
    meta_field_meta: dict | None = None
    meta_schema_str: str | None = None
    meta_cfg: dict | None = None
    emitted_proto: dict | None = None
    has_exported = any(
        re.fullmatch(r"\d{20}\.json", f) for f in os.listdir(delta_dir)
    ) or os.path.exists(os.path.join(delta_dir, "_last_checkpoint"))
    if has_exported:
        exported = _replay_delta_log(delta_dir)
        meta_id = exported.metadata["id"]
        meta_schema_str = exported.metadata["schemaString"]
        meta_fields = _schema_fields(meta_schema_str)
        meta_field_meta = _field_meta(meta_schema_str)
        meta_cfg = exported.metadata.get("configuration") or {}
        emitted_proto = dict(exported.protocol)
    # The first NON-identity column mapping flips the export into
    # columnMapping=name mode for the rest of the log (protocol reader 2
    # / writer 5 + per-field physicalName metadata — Delta's own
    # no-downgrade upgrade path, so versions before the flip stay
    # reader-v1-readable exactly as they were). Column ids are assigned
    # per PHYSICAL name in first-appearance order over the walk —
    # deterministic across incremental re-exports because the txlog
    # commits below the exported head are immutable, and never reused
    # because a physical name is never recycled (re-ADD mints a fresh
    # one); maxColumnId is the id high-water mark the spec requires.
    mapping_mode = False
    phys_ids: dict[str, int] = {}
    max_id = 0

    def _ensure_ids(sj: str, mapping: dict | None) -> None:
        nonlocal max_id
        for nm, _dt in _schema_fields(sj):
            ph = (mapping or {}).get(nm, nm)
            if ph not in phys_ids:
                max_id += 1
                phys_ids[ph] = max_id

    def _schema_json_at(snap) -> str | None:
        """Exact schema of a txlog snapshot: its recorded schema, else
        (legacy logs) one existing file's footer plus the recorded
        partition fields, else None (all files vacuumed)."""
        if snap.schema is not None:
            return snap.schema
        sample = next(
            (
                f
                for f in snap.files
                if os.path.exists(os.path.join(table.path, f))
            ),
            None,
        )
        if sample is None:
            return None
        schema = _footer_schema(os.path.join(table.path, sample))
        for fld in pschema.fields if pby else ():
            if fld.name not in schema.fieldNames():
                schema = schema.add(fld)
        return schema.json()

    def _commit_ms(v: int) -> int:
        """Each exported commit's timestamp is ITS txlog commit's mtime,
        not the export run's wall clock — TIMESTAMP AS OF on the exported
        log then resolves the same instants the native table's history
        has, even when one export mirrors many commits."""
        try:
            full = os.path.join(table.log_dir, _commit_name(v))
            return int(os.path.getmtime(full) * 1000)
        except OSError:
            return now_ms

    # ONE logfold.walk over the txlog: each version's table state (files,
    # deletion vectors, row bases, clustering, mapping, CHECKs,
    # properties, schema) is the walk's ``after`` snapshot and its true
    # delta is ``after`` against ``before`` — exactly the state every
    # txlog reader folds, so the export cannot drift from it. Only the
    # Delta-protocol latches below are the export's own: the first
    # version needing a feature turns it on for the rest of the log.
    #
    # deletionVectors: the first nonempty vector state (or the
    # delta.enableDeletionVectors property) latches the TABLE FEATURE
    # (reader v3 / writer v7 — Delta PROTOCOL.md), and txlog sidecars are
    # re-encoded as RoaringBitmap DV files (operators/roaring.py) named
    # in add.deletionVector descriptors.
    dv_feature = False
    # changeDataFeed latch: the first txlog commit carrying a change-data
    # sidecar flips delta.enableChangeDataFeed and the CDF writer
    # requirement for the rest of the log. Partitioned tables split each
    # sidecar into per-partition _change_data files at export
    # (_export_partitioned_cdc — Delta requires per-cdc-file
    # partitionValues, while txlog sidecars pack all partitions into one
    # parquet with the partition columns inline); the one remaining
    # narrow limitation is TIMESTAMP partition columns, whose feed is
    # not mirrored (serialization mismatch documented in the splitter).
    cdc_feature = False
    # generated-columns latch: schema metadata carries the expressions;
    # external WRITERS must honor them, hence the writer-v4 requirement
    gen_feature = False
    # identity-columns latch: schema metadata carries start/step/
    # highWaterMark; external writers must advance the watermark (v6)
    ident_feature = False
    # in-commit timestamps: first version with the property on, and the
    # running strictly-monotonic ICT (seeded from the last exported
    # commit on incremental runs — _prev_ict)
    ict_since: int | None = None
    ict_enable_ts: int | None = None
    prev_ict: int | None = None
    # row tracking (PROTOCOL.md "Row Tracking", writer feature): each
    # file's baseRowId -> add.baseRowId, the version its base first
    # appeared -> add.defaultRowCommitVersion, the high watermark -> the
    # delta.rowTracking domainMetadata action
    rt_dcv: dict[str, int] = {}
    # clustered tables: the delta.clustering domain mirrors the
    # clustering columns (writer feature "clustering")
    cl_feature = False
    for v, c, before, after in walk(table.log_dir, 0, latest):
        cur, prev = after.live, before.live
        if after.dvs:
            dv_feature = True
        for k in after.row_bases:
            rt_dcv.setdefault(k, v)
        cl_changed = after.clustering != before.clustering
        if after.clustering:
            cl_feature = True
        if c.get("cdc"):
            cdc_feature = True
        # generatedColumns latch (writer feature, legacy writer v4): the
        # recorded schema carries delta.generationExpression metadata
        if '"delta.generationExpression"' in (after.schema or ""):
            gen_feature = True
        # identityColumns latch (writer feature, legacy writer v6)
        if '"delta.identity.start"' in (after.schema or ""):
            ident_feature = True
        if not mapping_mode and any(
            lg != ph for lg, ph in (after.mapping or {}).items()
        ):
            mapping_mode = True
        if after.schema is not None and (
            after.schema != before.schema or after.mapping != before.mapping
        ):
            _ensure_ids(after.schema, after.mapping)
        # table properties (TBLPROPERTIES) — mirrored verbatim into
        # metaData.configuration; engine-managed keys (constraints,
        # columnMapping, feature flags the export derives itself) win on
        # collision, and set_properties refuses the shadowable ones
        cur_props = after.properties
        if cur_props.get("delta.enableDeletionVectors") == "true":
            # the property REQUIRES the table feature in the protocol
            # (PROTOCOL.md) even before the first vector exists
            dv_feature = True
        # delta.checkpointPolicy=v2 (PROTOCOL.md "V2 Checkpoint Table
        # Feature"): UUID-named checkpoints with sidecar files. The
        # property requires the v2Checkpoint reader+writer feature — a
        # classic reader must refuse rather than miss the UUID-named
        # checkpoint _last_checkpoint points at.
        v2ckpt_feature = cur_props.get("delta.checkpointPolicy") == "v2"
        # delta.enableInCommitTimestamps (PROTOCOL.md "In-Commit
        # Timestamps", writer feature): commitInfo carries a strictly
        # monotonic inCommitTimestamp — TIMESTAMP AS OF then no longer
        # depends on file mtimes a copy/restore can disturb. Enablement
        # AFTER table creation records the provenance properties the
        # spec requires (readers fall back to file timestamps below the
        # enablement version).
        ict_feature = (
            cur_props.get("delta.enableInCommitTimestamps") == "true"
        )
        rt_feature = cur_props.get("delta.enableRowTracking") == "true"
        # typeWidening (reader+writer table feature): readers must
        # upcast files whose physical type predates a widening
        tw_feature = cur_props.get("delta.enableTypeWidening") == "true"
        if ict_feature and ict_since is None:
            ict_since = v
            # the provenance timestamp must EQUAL the enablement
            # commit's actual inCommitTimestamp (spec) — same monotonic
            # clamp the emission applies against version v-1. LOCAL
            # computation only: assigning prev_ict here would freeze the
            # emission chain at the enablement version's floor on
            # incremental exports whose already-exported tail carries
            # higher ICTs (the emission seeds itself from the commit
            # right below the first one it writes)
            _floor = _prev_ict(delta_dir, v, None)
            ict_enable_ts = max(_commit_ms(v), (_floor or 0) + 1)
        cfg = {
            **dict(sorted(cur_props.items())),
            **{
                f"delta.constraints.{n}": e
                for n, e in sorted(after.checks.items())
            },
        }
        if mapping_mode:
            cfg["delta.columnMapping.mode"] = "name"
            cfg["delta.columnMapping.maxColumnId"] = str(max_id)
        if cdc_feature:
            cfg["delta.enableChangeDataFeed"] = "true"
        if rt_feature:
            # the physical column rewrite paths materialize ids into —
            # external readers resolve it from the config (spec rule)
            cfg.setdefault(
                "delta.rowTracking.materializedRowIdColumnName",
                "_rt_row_id",
            )
        if ict_feature and ict_since and ict_since > 0:
            # spec provenance for mid-life enablement: versions below
            # this are resolved by file timestamps, at/above by ICT.
            # Values already exported win (commits are immutable —
            # recomputing them would force a spurious metaData re-emit
            # with DIVERGENT provenance)
            cfg["delta.inCommitTimestampEnablementVersion"] = (
                meta_cfg or {}
            ).get(
                "delta.inCommitTimestampEnablementVersion", str(ict_since)
            )
            cfg["delta.inCommitTimestampEnablementTimestamp"] = (
                meta_cfg or {}
            ).get(
                "delta.inCommitTimestampEnablementTimestamp",
                str(ict_enable_ts),
            )
        if (
            dv_feature or v2ckpt_feature or ict_feature or rt_feature
            or tw_feature or cl_feature
        ):
            # table-features protocol: readerFeatures lists what a reader
            # must honor; writerFeatures additionally carries the legacy
            # features the pre-upgrade writer version implied (the
            # upgrade rule in PROTOCOL.md 'Table Features')
            rf = set()
            wf = {"appendOnly", "invariants"}
            if dv_feature:
                cfg["delta.enableDeletionVectors"] = "true"
                rf.add("deletionVectors")
                wf.add("deletionVectors")
            if v2ckpt_feature:
                rf.add("v2Checkpoint")
                wf.add("v2Checkpoint")
            if ict_feature:
                wf.add("inCommitTimestamp")
            if rt_feature:
                # rowTracking requires the domainMetadata writer feature
                # (the watermark lives in a domain) — both writer-only
                wf |= {"rowTracking", "domainMetadata"}
            if cl_feature:
                # clustered tables: writer feature + the domain that
                # carries the clustering columns
                wf |= {"clustering", "domainMetadata"}
            if tw_feature:
                rf.add("typeWidening")
                wf.add("typeWidening")
            if after.checks:
                wf.add("checkConstraints")
            if cdc_feature:
                wf.add("changeDataFeed")
            if gen_feature:
                wf.add("generatedColumns")
            if ident_feature:
                wf.add("identityColumns")
            if mapping_mode:
                rf.add("columnMapping")
                wf |= {
                    "checkConstraints",
                    "generatedColumns",
                    "changeDataFeed",
                    "columnMapping",
                }
            if rf:
                want_proto = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf),
                    "writerFeatures": sorted(wf),
                }
            else:
                # writer-only features (e.g. inCommitTimestamp alone):
                # the spec pairs minWriterVersion 7 with a writerFeatures
                # list, and readerFeatures exists ONLY at reader v3 — a
                # classic reader can still read the data
                want_proto = {
                    "minReaderVersion": 2 if mapping_mode else 1,
                    "minWriterVersion": 7,
                    "writerFeatures": sorted(wf),
                }
        else:
            # legacy protocol ladder: the writer version is the max any
            # present feature requires (constraints v3, CDF/generated
            # columns v4, column mapping v5, identity columns v6);
            # column mapping alone raises the reader to 2
            mwv = 2
            if cfg:
                mwv = 3
            if cdc_feature or gen_feature:
                mwv = 4
            if mapping_mode:
                mwv = 5
            if ident_feature:
                mwv = 6
            want_proto = {
                "minReaderVersion": 2 if mapping_mode else 1,
                "minWriterVersion": mwv,
            }
        target = os.path.join(delta_dir, _delta_commit_name(v))
        if os.path.exists(target):
            continue
        actions: list[dict] = []
        if v == 0:
            schema0 = _schema_json_at(after)
            if schema0 is None:
                # legacy log, v0 files vacuumed: the latest live snapshot
                # is the only readable schema source left; stated plainly
                schema_files = [
                    f
                    for f in head.files
                    if os.path.exists(os.path.join(table.path, f))
                ]
                if not schema_files:
                    raise FileNotFoundError(
                        f"no live data file of {table.path} exists on disk — "
                        "cannot derive metaData.schemaString for the Delta export"
                    )
                schema0 = _schema_string(spark, table, schema_files)
            meta_id = meta_id or uuid.uuid4().hex
            meta_fields = _schema_fields(schema0)
            meta_field_meta = _field_meta(schema0)
            if mapping_mode:
                _ensure_ids(schema0, after.mapping)
                cfg["delta.columnMapping.maxColumnId"] = str(max_id)
                schema0 = _annotated_schema(
                    schema0, after.mapping or {}, phys_ids
                )
            meta_schema_str = schema0
            meta_cfg = cfg
            emitted_proto = want_proto
            actions.append({"protocol": want_proto})
            actions.append(
                {
                    "metaData": {
                        "id": meta_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema0,
                        "partitionColumns": list(pby),
                        "configuration": cfg,
                        "createdTime": now_ms,
                    }
                }
            )
        else:
            sj = _schema_json_at(after)
            schema_changed = (
                sj is not None
                and meta_fields is not None
                and (
                    _schema_fields(sj) != meta_fields
                    # field METADATA changes matter too: identity high
                    # watermarks advance on every append, and external
                    # writers honoring identityColumns must see them
                    or _field_meta(sj) != meta_field_meta
                )
            )
            cfg_changed = meta_cfg is not None and cfg != meta_cfg
            schema_str = sj if sj is not None else meta_schema_str
            if (schema_changed or cfg_changed) and schema_str is not None:
                if schema_changed:
                    meta_fields = _schema_fields(sj)
                    meta_field_meta = _field_meta(sj)
                if emitted_proto is not None:
                    # protocol upgrade in the same commit: first
                    # constraint needs writer v3; first non-identity
                    # column mapping needs reader 2 / writer 5; first
                    # deletion vector needs the table-features form
                    # (reader 3 / writer 7 + feature lists). Delta
                    # requires the upgrade to land with or before the
                    # feature's first metaData. The protocol is LATCHED
                    # via merge (versions max'd, feature lists unioned):
                    # PROTOCOL.md requires monotonically non-decreasing
                    # protocols, so when cfg later shrinks (last CHECK
                    # dropped, restore to an unconstrained state) we
                    # never re-emit a lower one.
                    upgraded = _proto_merge(emitted_proto, want_proto)
                    if upgraded != emitted_proto:
                        actions.append({"protocol": upgraded})
                        emitted_proto = upgraded
                if mapping_mode and sj is not None:
                    _ensure_ids(sj, after.mapping)
                    cfg["delta.columnMapping.maxColumnId"] = str(max_id)
                    schema_str = _annotated_schema(
                        sj, after.mapping or {}, phys_ids
                    )
                meta_schema_str = schema_str
                meta_cfg = cfg
                actions.append(
                    {
                        "metaData": {
                            "id": meta_id,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": schema_str,
                            "partitionColumns": list(pby),
                            "configuration": cfg,
                            "createdTime": now_ms,
                        }
                    }
                )
            elif cl_changed and emitted_proto is not None:
                # a cluster_by commit changes NEITHER schema nor config —
                # only the delta.clustering domain — but the feature's
                # protocol requirement (clustering + domainMetadata
                # writer features) must still land with or before its
                # first domainMetadata action
                upgraded = _proto_merge(emitted_proto, want_proto)
                if upgraded != emitted_proto:
                    actions.append({"protocol": upgraded})
                    emitted_proto = upgraded
        # a live file whose DV state CHANGED (new/updated vector, or a
        # restore clearing it) is re-committed: remove + add with the
        # current descriptor — exactly how Delta's own DML represents a
        # vector update on an unchanged data file
        recommit = sorted(
            f
            for f in cur & prev
            if before.dvs.get(f) != after.dvs.get(f)
            # row-tracking enablement backfills bases for files ALREADY
            # exported without add.baseRowId — re-commit them so the
            # mirror's row-id reader (and any external one) can derive
            # their ids; bases never change once assigned, so this fires
            # once per file at the enablement version
            or (
                rt_feature
                and before.row_bases.get(f) != after.row_bases.get(f)
            )
        )
        # Delta DV descriptors for every added or re-committed file that
        # carries a vector — the new add replaces the old one, so it
        # must carry the vector even when only the row base changed. One
        # RoaringBitmap DV file per exported version packs all of them
        # (Delta's own layout).
        dv_new = {
            f: after.dvs[f]
            for f in (cur - prev).union(recommit)
            if after.dvs.get(f) is not None
        }
        delta_dvs = (
            _materialize_delta_dvs(table, dv_new) if dv_new else {}
        )

        # add.stats bounds are typed by the schema this version exports
        stat_types = {
            (after.mapping or {}).get(fd["name"], fd["name"]): fd["type"]
            for fd in json.loads(meta_schema_str)["fields"]
            if isinstance(fd["type"], str)
        }

        def _add_action(f: str, dv: dict | None) -> dict:
            full = os.path.join(table.path, f)
            # a file can be gone already if this version predates a vacuum;
            # it then never reaches the LATEST live set (some later commit
            # removes it), so zero stats on the dead-version add entry are
            # inert — time travel past the vacuum horizon fails either way
            exists = os.path.exists(full)
            # partitionValues come from the hive-style relative path the
            # txlog writer produced; the dir strings are already the
            # protocol's partition-value serialization (ISO dates, plain
            # ints, raw strings), with the writer's %XX escapes undone
            if pby:
                parsed = hive_partition_values(f)
                pvals = {c: parsed.get(c) for c in pby}
            else:
                pvals = {}
            add = {
                "path": f,
                "partitionValues": pvals,
                "size": os.path.getsize(full) if exists else 0,
                "modificationTime": int(os.path.getmtime(full) * 1000)
                if exists
                else now_ms,
                "dataChange": True,
            }
            if rt_feature and f in after.row_bases:
                add["baseRowId"] = after.row_bases[f]
                add["defaultRowCommitVersion"] = rt_dcv.get(f, v)
            # the stats the txlog recorded when it added the file; only a
            # legacy file committed before stats recording reads its footer
            entry = _stats_entry(after.stats, f) or (
                footer_stats_dict(full) if exists else None
            )
            if entry:
                add["stats"] = _add_stats(entry, stat_types, dv is not None)
            if dv is not None:
                add["deletionVector"] = dv
            return add

        for f in sorted(cur - prev):
            actions.append({"add": _add_action(f, delta_dvs.get(f))})
        for f in sorted(prev - cur):
            actions.append(
                {
                    "remove": {
                        "path": f,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        for f in recommit:
            actions.append(
                {
                    "remove": {
                        "path": f,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            actions.append({"add": _add_action(f, delta_dvs.get(f))})
        if c.get("cdc"):
            # mirror the change-data sidecar as Delta's AddCDCFile action
            # (CDF's _change_data design). Unpartitioned: HARDLINK the
            # parquet under _change_data/ with the sidecar's own uuid
            # basename (stable across re-exports) — the hardlink also
            # survives a later txlog cleanup_log/vacuum of the original.
            # Partitioned: the sidecar stores partition columns INLINE
            # (one parquet per commit), Delta's _change_data files follow
            # the data-file convention (values in partitionValues, not
            # the file) — split per partition tuple with deterministic
            # names (_export_partitioned_cdc). A sidecar already vacuumed
            # before the first export is simply not mirrored (the CDF
            # horizon is the retention horizon). Change types are Delta's
            # native four: insert/delete plus update_preimage/
            # update_postimage — sidecars tag them at write time, so the
            # mirrored bytes are already external-consumer-exact.
            src_cdc = os.path.join(table.path, c["cdc"])
            if os.path.exists(src_cdc):
                cd_dir = os.path.join(table.path, "_change_data")
                os.makedirs(cd_dir, exist_ok=True)
                bn = os.path.basename(c["cdc"])
                if pby:
                    actions.extend(
                        _export_partitioned_cdc(
                            table.path, src_cdc, bn, list(pby)
                        )
                    )
                else:
                    dst = os.path.join(cd_dir, bn)
                    if not os.path.exists(dst):
                        try:
                            os.link(src_cdc, dst)
                        except OSError:
                            import shutil as _sh

                            _sh.copyfile(src_cdc, dst)
                    actions.append(
                        {
                            "cdc": {
                                "path": f"_change_data/{bn}",
                                "partitionValues": {},
                                "size": os.path.getsize(dst),
                                "dataChange": False,
                            }
                        }
                    )
        if cl_changed:
            # PROTOCOL.md Clustered Table: the clustering columns live
            # in the delta.clustering domain (emitted on change; an
            # empty list un-clusters but keeps the domain authoritative).
            # Under column mapping the spec stores PHYSICAL names —
            # external engines resolve the domain against the files
            # (review finding, round 11). Renaming/dropping a clustering
            # column is refused engine-side, so the physical names here
            # can never go stale.
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps(
                            {
                                "clusteringColumns": [
                                    [(after.mapping or {}).get(c0, c0)]
                                    for c0 in after.clustering
                                ]
                            }
                        ),
                        "removed": False,
                    }
                }
            )
        if rt_feature and c.get("row_hw") is not None:
            # PROTOCOL.md Row Tracking: the high watermark rides the
            # delta.rowTracking domain — emitted on every commit that
            # advanced it, so external writers fence fresh ids correctly
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": after.row_hw}
                        ),
                        "removed": False,
                    }
                }
            )
        if c.get("txn"):
            # mirror the txlog streaming-transaction marker as the Delta
            # protocol's txn action, so an external engine taking over the
            # sink resumes idempotently from the same (appId, version)
            actions.append(
                {
                    "txn": {
                        "appId": c["txn"]["appId"],
                        "version": int(c["txn"]["version"]),
                        "lastUpdated": now_ms,
                    }
                }
            )
        info = {
            "timestamp": _commit_ms(v),
            "operation": "txlog-export",
            "operationParameters": {"txlogVersion": str(v)},
        }
        if ict_feature:
            # in-commit timestamps (PROTOCOL.md, writer feature): the
            # spec requires STRICT monotonicity, so clamp each commit's
            # clock reading against the previous ICT. The spec further
            # requires the commitInfo carrying the ICT to be the FIRST
            # action of the commit file (readers like delta-spark read
            # only the first action to resolve the timestamp), so it is
            # inserted at index 0 rather than appended.
            prev_ict = _prev_ict(delta_dir, v, prev_ict)
            ict = max(_commit_ms(v), (prev_ict or 0) + 1)
            info["inCommitTimestamp"] = ict
            prev_ict = ict
            actions.insert(0, {"commitInfo": info})
        else:
            actions.append({"commitInfo": info})
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
        # atomic create-exclusive publish (genuinely mirroring txlog's
        # O_EXCL, unlike a plain rename which would clobber a commit a
        # racing exporter published first): hard-link fails loudly on
        # collision, and Delta commits are immutable, so the loser simply
        # keeps the winner's file
        try:
            os.link(tmp, target)
        except FileExistsError:
            pass  # a concurrent exporter won this version; theirs stands
        finally:
            os.unlink(tmp)
    # delta.checkpointInterval (Delta's own auto-checkpoint property):
    # after exporting, if the newest checkpoint lags the head by >= the
    # interval, write one — v2 or classic per delta.checkpointPolicy.
    # Without the property the export never checkpoints (explicit
    # write_delta_checkpoint remains the manual path).
    interval = head.properties.get("delta.checkpointInterval")
    if interval is not None:
        iv = int(interval)
        if iv <= 0:
            raise ValueError(
                f"delta.checkpointInterval must be >= 1, got {interval!r}"
            )
        lc = _read_last_checkpoint(delta_dir)
        ck_at = lc["version"] if lc else -1
        if latest - ck_at >= iv:
            write_delta_checkpoint(spark, table.path)
    # UniForm's enablement property (public Delta surface): with
    # 'iceberg' among delta.universalFormat.enabledFormats, the export
    # also refreshes the Iceberg metadata layer — Delta's async iceberg
    # conversion shape, both formats over the same parquet. O(live
    # files) metadata, the same cost class as this export itself.
    fmts = head.properties.get("delta.universalFormat.enabledFormats")
    if fmts and "iceberg" in [f.strip() for f in fmts.split(",")]:
        from .iceberg import export_iceberg_metadata

        export_iceberg_metadata(table)
    return latest


def _delta_pv_str(v) -> str | None:
    """One partition value in Delta's partitionValues string
    serialization (PROTOCOL.md): null stays null, booleans lowercase,
    dates ISO, timestamps space-separated with microseconds, everything
    else str()."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _export_partitioned_cdc(
    table_path: str, src_cdc: str, bn: str, pby: list[str]
) -> list[dict]:
    """Split one txlog change-data sidecar into Delta's PER-PARTITION
    ``_change_data`` files + AddCDCFile actions: group the sidecar's
    rows by partition tuple, write each group WITHOUT the partition
    columns (the data-file convention — values ride the action's
    partitionValues). Names derive from the sidecar's uuid + the sorted
    group ordinal, so re-exports are idempotent (skip-if-exists).
    Driver-side pyarrow over O(changed rows) bytes — the same cost
    class writing the sidecar had. Partition columns are never
    column-mapped (renames refuse), so sidecar column names match the
    logical partition names directly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(src_cdc)
    # TIMESTAMP partition columns: pyarrow reads the sidecar's inline
    # values UTC-normalized while the add actions' partitionValues come
    # from session-local hive dir strings — the two serializations would
    # disagree. Documented narrow limitation: such tables export WITHOUT
    # cdc actions (foreign CDF readers fall back to the commit's
    # remove+add file delta, coarser but correct).
    for c in pby:
        if pa.types.is_timestamp(tbl.schema.field(c).type):
            return []
    keep = [c for c in tbl.column_names if c not in pby]
    pv_cols = [tbl.column(c).to_pylist() for c in pby]
    groups: dict[tuple, list[int]] = {}
    for i, vals in enumerate(zip(*pv_cols)):
        groups.setdefault(tuple(_delta_pv_str(v) for v in vals), []).append(i)
    stem = bn[:-len(".parquet")] if bn.endswith(".parquet") else bn
    cd_dir = os.path.join(table_path, "_change_data")
    actions: list[dict] = []
    for gi, key in enumerate(
        sorted(groups, key=lambda k: tuple((v is None, v) for v in k))
    ):
        name = f"{stem}-p{gi:05d}.parquet"
        dst = os.path.join(cd_dir, name)
        if not os.path.exists(dst):
            # stage-complete-then-replace: a crash mid-write must never
            # leave a truncated file that skip-if-exists would then
            # treat as complete forever (the file's own publish rule)
            tmp = f"{dst}.tmp-{uuid.uuid4().hex}"
            pq.write_table(tbl.take(groups[key]).select(keep), tmp)
            os.replace(tmp, dst)
        actions.append(
            {
                "cdc": {
                    "path": f"_change_data/{name}",
                    "partitionValues": dict(zip(pby, key)),
                    "size": os.path.getsize(dst),
                    "dataChange": False,
                }
            }
        )
    return actions


def _prev_ict(delta_dir: str, v: int, cur: int | None) -> int | None:
    """Seed the strictly-monotonic in-commit-timestamp chain on an
    incremental export: when the run's first ICT emission is version
    ``v``, the floor is version ``v-1``'s recorded inCommitTimestamp
    (or its commitInfo timestamp for pre-enablement commits). No-op once
    the chain is running (``cur`` set) or at version 0."""
    if cur is not None or v == 0:
        return cur
    full = os.path.join(delta_dir, _delta_commit_name(v - 1))
    if not os.path.exists(full):
        return cur
    with open(full) as fh:
        for line in fh:
            if '"commitInfo"' not in line:
                continue
            try:
                a = json.loads(line)
            except json.JSONDecodeError:
                continue
            info = a.get("commitInfo") or {}
            ts = info.get("inCommitTimestamp", info.get("timestamp"))
            if ts is not None:
                return int(ts)
    return cur


def _proto_merge(a: dict, b: dict) -> dict:
    """Least upper bound of two protocol actions: versions max'd, feature
    lists unioned — the only legal direction (PROTOCOL.md requires
    protocols to be monotonically non-decreasing, and a feature once
    listed can never be dropped)."""
    out = {
        "minReaderVersion": max(
            a.get("minReaderVersion", 1), b.get("minReaderVersion", 1)
        ),
        "minWriterVersion": max(
            a.get("minWriterVersion", 1), b.get("minWriterVersion", 1)
        ),
    }
    rf = set(a.get("readerFeatures") or []) | set(b.get("readerFeatures") or [])
    wf = set(a.get("writerFeatures") or []) | set(b.get("writerFeatures") or [])
    if rf:
        out["readerFeatures"] = sorted(rf)
    if wf:
        out["writerFeatures"] = sorted(wf)
    return out


def _materialize_delta_dvs(table, need: dict[str, dict]) -> dict[str, dict]:
    """Re-encode txlog deletion-vector sidecars as ONE Delta DV file for
    an export version. ``need`` maps table-relative data-file paths to
    their txlog descriptors (``{"sidecar": rel, "cardinality": n}``);
    returns per-file Delta ``deletionVector`` descriptors (storageType
    ``u``, shared uuid-named ``.bin`` at the table root, per-file
    offset/sizeInBytes/cardinality).

    Cost shape: each referenced sidecar parquet is read ONCE driver-side
    via pyarrow (sidecar bytes are O(deleted rows) — the same payload any
    Delta writer materializes to build a bitmap); blobs are packed and
    the file published with write-tmp + atomic rename. A crash between
    bin write and commit publish leaves an unreferenced .bin orphan —
    never read by anyone (descriptors name exact uuids), cleanable by
    generic orphan sweeps."""
    import pyarrow.parquet as pq

    from . import roaring

    by_sidecar: dict[str, list[str]] = {}
    for f, d in need.items():
        by_sidecar.setdefault(d["sidecar"], []).append(f)
    rows_by_file: dict[str, list[int]] = {}
    for sc in sorted(by_sidecar):
        tbl = pq.read_table(
            os.path.join(table.path, sc), columns=["file", "row_index"]
        )
        # sidecar rows key files by the descriptor's recorded keying —
        # relative path (pathkey=rel) or legacy basename. Keying is per
        # DESCRIPTOR, never both-at-once: a dual mapping would let a
        # nested file's basename clobber a root file's relative path on
        # colliding-basename layouts (review finding, round 9)
        wanted: dict[str, str] = {}
        for f in by_sidecar[sc]:
            key = f if need[f].get("pathkey") == "rel" else os.path.basename(f)
            if key in wanted:
                raise ValueError(
                    f"ambiguous DV sidecar key {key!r}: files "
                    f"{wanted[key]!r} and {f!r} collide — cannot export"
                )
            wanted[key] = f
        for fb, ri in zip(
            tbl.column("file").to_pylist(), tbl.column("row_index").to_pylist()
        ):
            tgt = wanted.get(fb)
            if tgt is not None:
                rows_by_file.setdefault(tgt, []).append(int(ri))
    files_sorted = sorted(need)
    blobs = [
        roaring.serialize_rba(sorted(set(rows_by_file.get(f, []))))
        for f in files_sorted
    ]
    u = uuid.uuid4()
    raw, offsets = roaring.pack_dv_file(blobs)
    name = f"deletion_vector_{u}.bin"
    tmp = os.path.join(table.path, f".{name}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as fh:
        fh.write(raw)
    os.replace(tmp, os.path.join(table.path, name))
    enc = roaring.encode_uuid_b85(u)
    out: dict[str, dict] = {}
    for f, blob, off in zip(files_sorted, blobs, offsets):
        out[f] = {
            "storageType": "u",
            "pathOrInlineDv": enc,
            "offset": off,
            "sizeInBytes": len(blob),
            "cardinality": len(set(rows_by_file.get(f, []))),
        }
    return out


def write_delta_checkpoint(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    parts: int | None = None,
    v2: bool | None = None,
) -> int:
    """Write a parquet checkpoint of the Delta log at ``version`` (default:
    latest) plus ``_last_checkpoint`` — the protocol's log-compaction step,
    letting readers skip the JSON commits at/below the checkpoint. The
    checkpoint rows use the protocol's top-level ``add``/``remove``/
    ``metaData``/``protocol``/``txn`` struct columns; paths/sizes come
    from replaying the JSON log (via :func:`read_delta_snapshot`'s replay
    core). Returns the checkpointed version.

    ``parts`` writes a MULTI-PART checkpoint (the protocol's
    ``<v>.checkpoint.<p>.<parts>.parquet`` naming, ``_last_checkpoint``
    carrying ``parts``): at 100 TB a checkpoint holds millions of add
    rows, and a single-part write funnels them through one task — parts
    spread both the write and the reader's bootstrap scan.

    ``v2`` writes a V2 CHECKPOINT (PROTOCOL.md "V2 Checkpoints"): a
    UUID-named spec file ``<v>.checkpoint.<uuid>.json`` holding the
    ``checkpointMetadata`` action plus all non-file actions, with the
    add/remove file actions in parquet SIDECAR files under
    ``_delta_log/_sidecars/`` referenced by ``sidecar`` actions.
    ``parts`` then controls the sidecar count. Requires the
    ``v2Checkpoint`` table feature in the log's protocol (set the
    ``delta.checkpointPolicy=v2`` table property and re-export, which
    upgrades the protocol); ``v2=None`` derives the format from that
    property. V2's scale story over multi-part classic: sidecars need
    no rigid part naming, so they can be written in parallel and — on
    an unchanged partition range — REUSED by the next checkpoint
    instead of rewritten.

    At 100 TB this is what bounds snapshot resolution: O(live files) parquet
    rows read vectorized, instead of O(commits) JSON files."""
    path = path.rstrip("/")
    delta_dir = os.path.join(path, DELTA_DIR)
    state = _replay_delta_log(delta_dir, version)
    want = state.version
    if v2 is None:
        v2 = (state.metadata.get("configuration") or {}).get(
            "delta.checkpointPolicy"
        ) == "v2"
    if v2 and "v2Checkpoint" not in (state.protocol.get("readerFeatures") or []):
        raise ValueError(
            "v2 checkpoint refused: the log's protocol does not carry the "
            "v2Checkpoint reader feature, so classic readers would neither "
            "find the UUID-named checkpoint nor know to refuse — set the "
            "delta.checkpointPolicy=v2 table property and re-export first "
            "(PROTOCOL.md requires the table feature before a v2 "
            "checkpoint may be written)"
        )
    add_t = (
        "struct<path:string,partitionValues:map<string,string>,size:bigint,"
        "modificationTime:bigint,dataChange:boolean,stats:string,"
        "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
        "offset:int,sizeInBytes:int,cardinality:bigint>,"
        # row tracking: checkpoints must preserve the per-file base row
        # ids or every metadata-derived id dies with the JSON head
        "baseRowId:bigint,defaultRowCommitVersion:bigint>"
    )
    rm_t = (
        "struct<path:string,deletionTimestamp:bigint,dataChange:boolean,"
        "partitionValues:map<string,string>,size:bigint>"
    )
    meta_t = (
        "struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>,"
        "createdTime:bigint>"
    )
    # feature lists included: checkpointing a reader-v3 TABLE-FEATURES
    # table must not strip the lists the protocol's validity (and this
    # reader's acceptance) depends on
    proto_t = (
        "struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>"
    )
    txn_t = "struct<appId:string,version:bigint,lastUpdated:bigint>"
    if v2:
        return _write_v2_checkpoint(
            spark, delta_dir, state, want, parts, add_t, rm_t
        )
    blank = {
        "add": None, "remove": None, "metaData": None, "protocol": None,
        "txn": None, "domainMetadata": None,
    }
    rows = [json.dumps({**blank, "add": a}) for a in state.live.values()]
    # PROTOCOL.md: checkpoints must preserve unexpired remove tombstones
    # (VACUUM safety for external engines) and per-app txn versions
    # (streaming idempotence) — without them, log-head cleanup after a
    # checkpoint would silently discard that state
    rows += [json.dumps({**blank, "remove": r}) for r in state.tombstones.values()]
    rows += [json.dumps({**blank, "txn": t}) for t in state.txns.values()]
    # PROTOCOL.md "Domain Metadata": checkpoints preserve live domain
    # configurations (row tracking keeps its watermark there)
    rows += [
        json.dumps({**blank, "domainMetadata": d})
        for d in state.domains.values()
    ]
    rows.append(json.dumps({**blank, "metaData": state.metadata}))
    rows.append(json.dumps({**blank, "protocol": state.protocol}))
    dm_t = "STRUCT<domain: STRING, configuration: STRING, removed: BOOLEAN>"
    cp = (
        local_df(spark, [(r,) for r in rows], "value string")
        .selectExpr(
            "from_json(value, '"
            f"add {add_t}, remove {rm_t}, metaData {meta_t}, "
            f"protocol {proto_t}, txn {txn_t}, domainMetadata {dm_t}') AS a"
        )
        .select(
            "a.add", "a.remove", "a.metaData", "a.protocol", "a.txn",
            "a.domainMetadata",
        )
    )
    stage = os.path.join(delta_dir, f".ckpt-stage-{uuid.uuid4().hex}")
    n_parts = int(parts) if parts and parts > 1 else 1
    (cp.repartition(n_parts) if n_parts > 1 else cp.coalesce(1)).write.parquet(stage)
    part_files = [f for f in sorted(os.listdir(stage)) if f.endswith(".parquet")]
    # empty shuffle partitions produce no files — the actual part count is
    # whatever landed; names and _last_checkpoint must agree with reality
    n_parts = len(part_files)
    if n_parts == 1:
        target = os.path.join(delta_dir, f"{want:020d}.checkpoint.parquet")
        os.replace(os.path.join(stage, part_files[0]), target)
    else:
        for p, f in enumerate(part_files, start=1):
            target = os.path.join(
                delta_dir,
                f"{want:020d}.checkpoint.{p:010d}.{n_parts:010d}.parquet",
            )
            os.replace(os.path.join(stage, f), target)
    import shutil

    shutil.rmtree(stage)
    lc = {"version": want, "size": len(rows)}
    if n_parts > 1:
        lc["parts"] = n_parts
    tmp = os.path.join(delta_dir, f".lc-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(lc, fh)
    os.replace(tmp, os.path.join(delta_dir, "_last_checkpoint"))
    return want


def _write_v2_checkpoint(
    spark: SparkSession,
    delta_dir: str,
    state: "_DeltaState",
    want: int,
    parts: int | None,
    add_t: str,
    rm_t: str,
) -> int:
    """V2-checkpoint writer (PROTOCOL.md "V2 Checkpoints"): file actions
    go to UUID-named parquet SIDECARS under ``_delta_log/_sidecars/``;
    the spec file ``<v>.checkpoint.<uuid>.json`` carries exactly one
    ``checkpointMetadata`` action, the protocol/metaData/txn state, and
    one ``sidecar`` action per sidecar file. Everything publishes
    stage-complete-then-rename so a crash can never leave a truncated
    checkpoint a reader would trust."""
    blank = {"add": None, "remove": None}
    file_rows = [json.dumps({**blank, "add": a}) for a in state.live.values()]
    # PROTOCOL.md: checkpoints preserve unexpired remove tombstones
    # (VACUUM safety) — in v2 form they are file actions, so sidecar rows
    file_rows += [
        json.dumps({**blank, "remove": r}) for r in state.tombstones.values()
    ]
    sidecars: list[dict] = []
    sc_dir = os.path.join(delta_dir, SIDECAR_DIR)
    if file_rows:
        os.makedirs(sc_dir, exist_ok=True)
        cp = (
            local_df(spark, [(r,) for r in file_rows], "value string")
            .selectExpr(f"from_json(value, 'add {add_t}, remove {rm_t}') AS a")
            .select("a.add", "a.remove")
        )
        n_parts = int(parts) if parts and parts > 1 else 1
        stage = os.path.join(delta_dir, f".ckpt-stage-{uuid.uuid4().hex}")
        (cp.repartition(n_parts) if n_parts > 1 else cp.coalesce(1)).write.parquet(
            stage
        )
        for f in sorted(os.listdir(stage)):
            if not f.endswith(".parquet"):
                continue
            name = f"{uuid.uuid4().hex}.parquet"
            full = os.path.join(sc_dir, name)
            os.replace(os.path.join(stage, f), full)
            st = os.stat(full)
            sidecars.append(
                {
                    "path": name,
                    "sizeInBytes": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                }
            )
        import shutil

        shutil.rmtree(stage)
    lines = [json.dumps({"checkpointMetadata": {"version": want}})]
    lines.append(json.dumps({"protocol": state.protocol}))
    lines.append(json.dumps({"metaData": state.metadata}))
    lines += [json.dumps({"txn": t}) for t in state.txns.values()]
    lines += [
        json.dumps({"domainMetadata": d}) for d in state.domains.values()
    ]
    lines += [json.dumps({"sidecar": s}) for s in sidecars]
    manifest = f"{want:020d}.checkpoint.{uuid.uuid4().hex}.json"
    tmp = os.path.join(delta_dir, f".v2ckpt-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(delta_dir, manifest))
    lc = {"version": want, "size": len(lines) + len(file_rows)}
    tmp = os.path.join(delta_dir, f".lc-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(lc, fh)
    os.replace(tmp, os.path.join(delta_dir, "_last_checkpoint"))
    return want


def cleanup_delta_log(path: str, keep_after: int | None = None) -> list[str]:
    """Delta metadata cleanup (the log-retention step Delta runs after
    checkpointing): delete JSON commits, older checkpoints, and fully-
    covered compactions STRICTLY BELOW the newest checkpoint at/under
    ``keep_after`` (default: the newest checkpoint), then garbage-collect
    ``_sidecars/`` files no remaining v2 checkpoint references. Returns
    the deleted file names. Time travel below the horizon refuses loudly
    afterwards (the readers' existing continuity rule); the checkpoint
    itself is the horizon snapshot.

    At 100 TB this is what keeps the mirrored log O(retention window)
    instead of O(table lifetime) — same rationale as the txlog's own
    cleanup_log, applied to the Delta mirror and its sidecar files."""
    delta_dir = os.path.join(path.rstrip("/"), DELTA_DIR)
    lc = _read_last_checkpoint(delta_dir)
    if lc is None:
        raise FileNotFoundError(
            f"{delta_dir}: no checkpoint — write one first (cleanup below "
            "a checkpoint is the only safe deletion the protocol allows)"
        )
    horizon = lc["version"]
    if keep_after is not None:
        if keep_after > horizon:
            raise ValueError(
                f"keep_after={keep_after} is above the newest checkpoint "
                f"({horizon}) — state below it exists nowhere else"
            )
        # an older complete checkpoint can serve as the horizon
        cands = sorted(
            v
            for v in (
                _classic_checkpoint_versions(delta_dir)
                | {
                    int(f.split(".")[0])
                    for f in os.listdir(delta_dir)
                    if re.fullmatch(
                        r"\d{20}\.checkpoint\.[^.]+\.(json|parquet)", f
                    )
                }
            )
            if v <= keep_after
        )
        if not cands:
            raise FileNotFoundError(
                f"no checkpoint at or below version {keep_after}"
            )
        horizon = cands[-1]
    deleted: list[str] = []
    for f in sorted(os.listdir(delta_dir)):
        m1 = re.fullmatch(r"(\d{20})\.json", f)
        m2 = re.fullmatch(r"(\d{20})\.checkpoint\..+", f)
        m3 = re.fullmatch(r"(\d{20})\.(\d{20})\.compacted\.json", f)
        drop = False
        if m1 and int(m1.group(1)) < horizon:
            drop = True
        elif m2 and int(m2.group(1)) < horizon:
            drop = True
        elif m3 and int(m3.group(2)) < horizon:
            drop = True
        if drop:
            os.remove(os.path.join(delta_dir, f))
            deleted.append(f)
    # sidecar GC: keep exactly what the remaining v2 spec files reference
    sc_dir = os.path.join(delta_dir, SIDECAR_DIR)
    if os.path.isdir(sc_dir):
        referenced: set[str] = set()
        for f in os.listdir(delta_dir):
            if not re.fullmatch(
                r"\d{20}\.checkpoint\.[^.]+\.(json|parquet)", f
            ):
                continue
            full = os.path.join(delta_dir, f)
            if f.endswith(".json"):
                with open(full) as fh:
                    for line in fh:
                        if '"sidecar"' not in line:
                            continue
                        try:
                            a = json.loads(line)
                        except json.JSONDecodeError:
                            continue
                        if "sidecar" in a:
                            referenced.add(a["sidecar"]["path"])
            else:
                import pyarrow.parquet as pq

                have = set(pq.read_schema(full).names)
                if "sidecar" in have:
                    for sc in (
                        pq.read_table(full, columns=["sidecar"])
                        .column("sidecar")
                        .to_pylist()
                    ):
                        if sc and sc.get("path"):
                            referenced.add(sc["path"])
        for f in sorted(os.listdir(sc_dir)):
            if f not in referenced:
                os.remove(os.path.join(sc_dir, f))
                deleted.append(f"{SIDECAR_DIR}/{f}")
    return deleted


def _classic_checkpoint_versions(delta_dir: str) -> set[int]:
    out = set()
    for f in os.listdir(delta_dir):
        if re.fullmatch(
            r"\d{20}\.checkpoint\.parquet", f
        ) or re.fullmatch(r"\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet", f):
            out.add(int(f.split(".")[0]))
    return out


def write_delta_compaction(path: str, start: int, end: int) -> str:
    """Write a LOG COMPACTION ``<start>.<end>.compacted.json`` (Delta
    3.x / delta-kernel minor compaction): the NET actions of the single
    commits in ``[start, end]`` — latest add per live-at-end path, net
    removes, latest metaData/protocol/txn. Snapshot folds then open ONE
    file for the range instead of ``end-start+1``; single commits remain
    authoritative for time travel inside the range and for CDF (a
    compaction nets away per-commit deltas by design, so change readers
    never consume one). Returns the written file name.

    At 100 TB this is the cheap half of log maintenance: checkpoints
    rewrite O(live files) state, compactions cost O(actions in range)
    JSON and need no Spark job at all — a tailing reader catching up
    through a busy day folds hundreds of commits in tens of opens."""
    if not 0 <= start <= end:
        raise ValueError(f"invalid compaction range [{start}, {end}]")
    if start == end:
        raise ValueError(
            "a single-version compaction is the commit itself — refuse "
            "rather than write a redundant alias file"
        )
    delta_dir = os.path.join(path.rstrip("/"), DELTA_DIR)
    adds: dict[str, dict] = {}
    removes: dict[str, dict] = {}
    meta = proto = None
    txns: dict[str, dict] = {}
    for v in range(start, end + 1):
        full = os.path.join(delta_dir, _delta_commit_name(v))
        if not os.path.exists(full):
            raise FileNotFoundError(
                f"compaction [{start}, {end}] needs single commit {v}"
            )
        with open(full) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "add" in a:
                    adds[a["add"]["path"]] = a
                    removes.pop(a["add"]["path"], None)
                elif "remove" in a:
                    removes[a["remove"]["path"]] = a
                    adds.pop(a["remove"]["path"], None)
                elif "metaData" in a:
                    meta = a
                elif "protocol" in a:
                    proto = a
                elif "txn" in a:
                    app = a["txn"].get("appId")
                    if app is not None:
                        txns[app] = a
                # cdc / commitInfo net away: compactions serve snapshot
                # folds only, never change feeds
    lines = []
    if proto is not None:
        lines.append(json.dumps(proto))
    if meta is not None:
        lines.append(json.dumps(meta))
    lines += [json.dumps(a) for _, a in sorted(txns.items())]
    lines += [json.dumps(a) for _, a in sorted(removes.items())]
    lines += [json.dumps(a) for _, a in sorted(adds.items())]
    name = f"{start:020d}.{end:020d}.compacted.json"
    tmp = os.path.join(delta_dir, f".compact-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(delta_dir, name))
    return name


def read_delta_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Open a Delta table at ``path`` by replaying its ``_delta_log`` —
    a txlog-independent reader usable on ANY Delta table whose protocol
    is minReaderVersion 1 (plain parquet, JSON commits, optional parquet
    checkpoints). ``version`` gives ``VERSION AS OF`` time travel;
    ``timestamp_ms`` gives ``TIMESTAMP AS OF`` (the newest version whose
    commit timestamp is <= the requested instant — Delta's resolution
    rule; commit time comes from the in-commit ``commitInfo.timestamp``,
    falling back to the commit file's mtime exactly as Delta does for
    logs whose writers omit commitInfo).

    Replays the newest parquet checkpoint at/below the requested version
    (if any) then the JSON commits after it, applying ``add``/``remove``
    actions in order — the replay rule PROTOCOL.md specifies.

    PARTITIONED tables are reconstructed from the log's
    ``add.partitionValues`` (authoritative per the protocol — partition
    columns are not stored in the data files), typed by the
    ``metaData.schemaString``: see :func:`_read_live_files`.
    """
    path = path.rstrip("/")
    delta_dir = os.path.join(path, DELTA_DIR)
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp_ms, not both")
        version = _version_at_timestamp(delta_dir, timestamp_ms)
    state = _replay_delta_log(delta_dir, version)
    if not state.live:
        return _empty_snapshot(spark, state.metadata)
    return _read_live_files(spark, path, state.live, state.metadata)


def read_delta_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot plus ``_row_id`` computed from the ``_delta_log`` ALONE
    per the protocol's Row Tracking rules — the txlog-independent twin
    of ``TxLogTable.read_with_row_ids``: a row's id is the materialized
    row-id column (config ``delta.rowTracking.
    materializedRowIdColumnName``) when non-null, else its file's
    ``add.baseRowId`` plus the in-file row index. v1 scope:
    unpartitioned tables, columnMapping mode none (the fixture shapes
    the engine exports); deletion vectors are honored."""
    from pyspark.sql.types import LongType, StructField, StructType

    path = path.rstrip("/")
    delta_dir = os.path.join(path, DELTA_DIR)
    state = _replay_delta_log(delta_dir, version)
    md = state.metadata
    cfg = (md or {}).get("configuration") or {}
    if cfg.get("delta.enableRowTracking") != "true":
        raise ValueError(
            "delta.enableRowTracking is not set on this table's metaData"
        )
    if (md or {}).get("partitionColumns"):
        raise NotImplementedError(
            "read_delta_row_ids: partitioned tables are out of v1 scope"
        )
    if _require_supported_mapping(md) != "none":
        raise NotImplementedError(
            "read_delta_row_ids: column-mapped tables are out of v1 scope"
        )
    mat_col = cfg.get(
        "delta.rowTracking.materializedRowIdColumnName", "_rt_row_id"
    )
    schema = _logical_schema(md)
    if not state.live:
        return local_df(spark, 
            [], StructType(list(schema.fields)).add("_row_id", LongType())
        )
    ordered = sorted(state.live)
    basenames = [f.rsplit("/", 1)[-1] for f in ordered]
    if len(set(basenames)) != len(basenames):
        raise NotImplementedError(
            "read_delta_row_ids: colliding data-file basenames are out "
            "of v1 scope"
        )
    rows = []
    for f, b in zip(ordered, basenames):
        base = state.live[f].get("baseRowId")
        if base is None:
            raise ValueError(
                f"add action for {f!r} carries no baseRowId — the log "
                "was not written with row tracking"
            )
        rows.append((b, int(base)))
    bmap = F.broadcast(
        local_df(spark, rows, "__rtf string, __rtbase long")
    )
    read_schema = StructType(
        list(schema.fields) + [StructField(mat_col, LongType(), True)]
    )
    scan = spark.read.schema(read_schema).parquet(
        *[os.path.join(path, f) for f in ordered]
    ).select(
        *[F.col(f.name) for f in schema.fields],
        F.col(mat_col),
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("__rtf"),
        F.col("_metadata.row_index").alias("__rti"),
    )
    dv_live = {
        f: a["deletionVector"]
        for f, a in state.live.items()
        if a.get("deletionVector")
    }
    if dv_live:
        dv_df = _delta_dv_rows(spark, path, dv_live)
        keyed = dv_df.select(
            F.element_at(F.split(F.col("file"), "/"), -1).alias("__rtf"),
            F.col("row_index").alias("__rti"),
        )
        scan = scan.join(
            F.broadcast(keyed), ["__rtf", "__rti"], "left_anti"
        )
    return (
        scan.join(bmap, "__rtf", "left")
        .select(
            *[F.col(f.name) for f in schema.fields],
            F.coalesce(
                F.col(mat_col), F.col("__rtbase") + F.col("__rti")
            ).alias("_row_id"),
        )
    )


def delta_row_id_high_watermark(
    spark: SparkSession, path: str, version: int | None = None
) -> int | None:
    """The ``rowIdHighWaterMark`` from the ``delta.rowTracking``
    domainMetadata at ``version`` (None when the domain is absent) — the
    value an external writer must fence fresh base row ids beyond."""
    delta_dir = os.path.join(path.rstrip("/"), DELTA_DIR)
    state = _replay_delta_log(delta_dir, version)
    dm = state.domains.get("delta.rowTracking")
    if dm is None:
        return None
    return int(json.loads(dm["configuration"])["rowIdHighWaterMark"])


def _version_at_timestamp(delta_dir: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit
    timestamp <= ``timestamp_ms``, after adjusting raw timestamps to be
    MONOTONICALLY increasing in version order (ts_v := max(raw_v,
    ts_{v-1} + 1 ms)) — Delta's own rule. Without it, a foreign log with
    clock skew (or mtime-fallback commits mixed with commitInfo ones)
    could resolve to a version whose replay includes commits newer than
    the requested instant. Only JSON commits carry timestamps; versions
    compacted below the newest checkpoint after log-head cleanup are not
    resolvable by time (same envelope as Delta itself, which pins time
    travel to the available log head). Per commit only the commitInfo
    line is json-parsed (substring pre-filter) — resolution stays
    O(commits), not O(total log bytes), even though this exporter writes
    commitInfo last."""
    raw: list[tuple[int, int]] = []
    for f in sorted(os.listdir(delta_dir)):
        if not re.fullmatch(r"\d{20}\.json", f):
            continue
        v = int(f.split(".")[0])
        full = os.path.join(delta_dir, f)
        ts = None
        with open(full) as fh:
            for line in fh:
                if '"commitInfo"' not in line:
                    continue
                try:
                    action = json.loads(line)
                except json.JSONDecodeError:
                    continue
                info = action.get("commitInfo")
                if info is not None:
                    # in-commit timestamps win when present (the ICT
                    # feature's whole point: mtime/copy-proof history)
                    raw_ts = info.get(
                        "inCommitTimestamp", info.get("timestamp")
                    )
                    if raw_ts is not None:
                        ts = int(raw_ts)
                        break
        if ts is None:
            ts = int(os.path.getmtime(full) * 1000)
        raw.append((v, ts))
    # shared monotonize-and-select core (one place owns Delta's
    # resolution rule, incl. the loud after-latest refusal) — see
    # txlog.version_from_commit_times
    from .txlog import version_from_commit_times

    return version_from_commit_times(raw, timestamp_ms, delta_dir)


def _logical_schema(metadata: dict):
    """The user-facing StructType of a metaData action, with the
    delta.columnMapping.* field annotations stripped (they are physical
    plumbing, not part of the logical schema a query sees — keeping them
    would make an exported table's snapshot schema differ from the
    native reader's)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(metadata["schemaString"]))
    return StructType(
        [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {
                    k: v
                    for k, v in (f.metadata or {}).items()
                    if not k.startswith("delta.columnMapping.")
                },
            )
            for f in schema.fields
        ]
    )


def _empty_snapshot(spark: SparkSession, metadata: dict) -> DataFrame:
    """Zero-row DataFrame with the metaData schema (shared by both read
    paths so their empty-snapshot behavior cannot drift)."""
    return local_df(spark, [], _logical_schema(metadata))


def _read_live_files(
    spark: SparkSession, path: str, live: dict[str, dict], metadata: dict
) -> DataFrame:
    """ONE parquet scan over the live file list, reattaching partition
    columns for partitioned tables from the log's ``add.partitionValues``
    (the authoritative store per PROTOCOL.md — partition columns are not
    in the data files) cast to the ``schemaString`` types.

    Scale shape: the data stays a single explicit-file-list scan; the
    file→partition-values mapping is a driver-built DataFrame of
    O(live files) rows broadcast-joined on the file's basename (extracted
    with ``input_file_name``), so one scan + one broadcast regardless of
    partition count — no per-partition plan nodes. Basenames written by
    Spark/Delta/delta-rs embed UUIDs and are table-unique; if a foreign
    log violates that (duplicate basenames, or characters whose URI
    encoding in ``input_file_name`` could diverge from the raw name), we
    fall back to per-partition-group scans unioned together — correct for
    any log, with plan size O(distinct partition tuples); stated plainly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    schema = _logical_schema(metadata)
    phys = _physical_names(metadata)  # pv/stats keys in every mode
    pcols = metadata.get("partitionColumns") or []
    ordered = sorted(live)
    paths = [os.path.join(path, f) for f in ordered]
    # data columns are read under the schemaString's EXPLICIT schema, not
    # footer inference: PROTOCOL.md allows data files written before a
    # schema evolution to lack later-added columns (readers must null-fill
    # them from metaData), and footer sampling would resolve such a mixed
    # table nondeterministically — whichever file Spark samples wins.
    # Column-mapped files resolve through _data_read_schema (physical
    # names under mode=name, parquet field ids under mode=id) and ONE
    # select aliases back to logical names (files predating a re-add
    # simply null-fill the fresh physical column — dropped data can
    # never resurrect).
    data_fields = [f for f in schema.fields if f.name not in pcols]
    data_schema, src = _data_read_schema(spark, metadata, data_fields)
    # deletionVectors (table feature, reader v3): live adds carrying a
    # descriptor get their deleted row positions anti-joined out on
    # (file basename, _metadata.row_index) — the same JVM-side plan the
    # txlog reader uses; bitmap decoding runs inside mapInPandas tasks
    # (see _delta_dv_rows), never on the driver
    dv_live = {
        f: a["deletionVector"] for f, a in live.items() if a.get("deletionVector")
    }

    def _scan(some_paths: list[str], g: int = 0) -> DataFrame:
        df = spark.read.schema(data_schema).parquet(*some_paths)
        cols = [F.col(src[f.name]).alias(f.name) for f in data_fields]
        if dv_live:
            cols += [
                F.lit(g).alias("__dvg"),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__dvf"),
                F.col("_metadata.row_index").alias("__dvi"),
            ]
        return df.select(*cols)

    def _apply_dv(df: DataFrame, rel_groups: dict[str, int]) -> DataFrame:
        """Anti-join deleted positions out on (scan group, basename,
        row index): ``rel_groups`` maps each scanned file's relative
        path to the id its scan carried — basenames are unique WITHIN a
        group, so the key is exact even on colliding-basename foreign
        layouts (the pre-round-9 refusal is gone; same technique as the
        txlog reader's basename groups)."""
        if not dv_live:
            return df
        dv_df = _delta_dv_rows(spark, path, dv_live)
        mapping = local_df(spark, 
            [
                (f, rel_groups[f], f.rsplit("/", 1)[-1])
                for f in sorted(dv_live)
            ],
            "file string, __g int, __b string",
        )
        keyed = dv_df.join(F.broadcast(mapping), "file").select(
            "__g", "__b", "row_index"
        )
        return df.join(
            keyed,
            (df["__dvg"] == keyed["__g"])
            & (df["__dvf"] == keyed["__b"])
            & (df["__dvi"] == keyed["row_index"]),
            "left_anti",
        ).drop("__dvg", "__dvf", "__dvi")

    def _basename_groups(files: list[str]) -> list[list[str]]:
        seen: dict[str, int] = {}
        out: list[list[str]] = []
        for f in files:
            b = f.rsplit("/", 1)[-1]
            g = seen.get(b, 0)
            seen[b] = g + 1
            if len(out) <= g:
                out.append([])
            out[g].append(f)
        return out

    if not pcols:
        bgroups = _basename_groups(ordered)
        rel_groups = {f: g for g, fs in enumerate(bgroups) for f in fs}
        parts = [
            _scan([os.path.join(path, f) for f in fs], g)
            for g, fs in enumerate(bgroups)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return _apply_dv(out, rel_groups)
    fields = {fld.name: fld for fld in schema.fields}
    missing = [c for c in pcols if c not in fields]
    if missing:
        raise ValueError(f"partitionColumns {missing} absent from schemaString")
    basenames = [f.rsplit("/", 1)[-1] for f in ordered]
    plain = all(re.fullmatch(r"[A-Za-z0-9._=-]+", b) for b in basenames)
    if plain and len(set(basenames)) == len(basenames):
        data = _scan(paths)
        rows = []
        for f, b in zip(ordered, basenames):
            pv = live[f].get("partitionValues") or {}
            # columnMapping keys partitionValues by PHYSICAL name (the
            # spec's rule); identity-mapped and mode=none logs key by the
            # logical name — physical-first lookup serves both
            rows.append(
                (b, *[pv.get(phys.get(c, c), pv.get(c)) for c in pcols])
            )
        map_schema = "__base string" + "".join(
            f", __pv{i} string" for i in range(len(pcols))
        )
        mapping = local_df(spark, rows, map_schema)
        out = (
            data.withColumn(
                "__base", F.element_at(F.split(F.input_file_name(), "/"), -1)
            )
            .join(F.broadcast(mapping), "__base", "inner")
            .drop("__base")
        )
        for i, c in enumerate(pcols):
            out = out.withColumn(c, F.col(f"__pv{i}").cast(fields[c].dataType)).drop(
                f"__pv{i}"
            )
        return _apply_dv(out, {f: 0 for f in ordered}).select(
            *[fld.name for fld in schema.fields]
        )
    # fallback: group files by partition tuple, one scan per group.
    # Delta permits ARBITRARY file paths, so two files can share both a
    # partitionValues tuple and a basename (different directories) —
    # sub-split each tuple group with _basename_groups exactly like the
    # unpartitioned path, so basenames stay unique within every scan
    # group and the DV anti-join key (group id, basename) is exact
    groups: dict[tuple, list[str]] = {}
    for f in ordered:
        pv = live[f].get("partitionValues") or {}
        groups.setdefault(
            tuple(pv.get(phys.get(c, c), pv.get(c)) for c in pcols), []
        ).append(f)
    keep = [fld.name for fld in schema.fields] + (
        ["__dvg", "__dvf", "__dvi"] if dv_live else []
    )
    parts = []
    rel_groups: dict[str, int] = {}
    gi = 0
    for key in sorted(
        groups, key=lambda k: tuple((v is None, v) for v in k)
    ):
        for sub in _basename_groups(groups[key]):
            for f in sub:
                rel_groups[f] = gi
            g = _scan([os.path.join(path, f) for f in sub], gi)
            for c, v in zip(pcols, key):
                g = g.withColumn(c, F.lit(v).cast(fields[c].dataType))
            parts.append(g.select(*keep))
            gi += 1
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _apply_dv(out, rel_groups).select(
        *[fld.name for fld in schema.fields]
    )


def _delta_dv_rows(
    spark: SparkSession, table_path: str, dv_live: dict[str, dict]
) -> DataFrame:
    """(file RELATIVE path, row_index) rows deleted by the live
    deletion vectors — the anti-join side of the snapshot read. Descriptors ship
    as a tiny DataFrame; the RoaringBitmap blobs are fetched + decoded
    INSIDE mapInPandas tasks (operators/roaring.py pickled by value, so
    a vanilla external session needs no package install) — at 100 TB a
    table can carry thousands of vectors totalling far more positions
    than a driver should hold. Broadcast below the same cardinality
    threshold the txlog reader uses."""
    import json as _json

    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    from . import roaring

    cloudpickle.register_pickle_by_value(roaring)
    decode = roaring.decode_descriptor
    rows = [
        (f, _json.dumps(desc)) for f, desc in sorted(dv_live.items())
    ]
    desc_df = local_df(spark, rows, "file string, desc string")
    if len(rows) > 1:
        desc_df = desc_df.repartition(min(len(rows), 32))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for file, desc in zip(pdf["file"], pdf["desc"]):
                idx = decode(_json.loads(desc), table_path)
                yield pd.DataFrame({"file": file, "row_index": idx})

    out = desc_df.mapInPandas(gen, "file string, row_index long")
    total = sum(int(d.get("cardinality") or 0) for d in dv_live.values())
    return F.broadcast(out) if total <= 500_000 else out


def read_delta_where(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with FILE-LEVEL data skipping driven by the Delta
    log's ``add.stats`` (the numbers :func:`export_delta_log` writes and
    external Delta writers ship): only files whose stats envelope for
    ``column`` may overlap ``[lo, hi]`` are handed to the scan, with the
    residual row filter applied on top — skipping is an optimization,
    never a semantics change. The decision is
    ``txlog.overlapping_files``, the rule ``TxLogTable.read_where``
    applies to the txlog's recorded stats: string bounds parse as the
    column's type; files lacking stats, lacking min/max for the column,
    carrying malformed stats of ANY shape, or carrying NaN bounds are
    KEPT; a file whose column is all null (nullCount == numRecords) is
    skipped.

    On a PARTITION column the skip uses ``add.partitionValues`` instead:
    the string value is parsed to the schemaString type and compared
    driver-side, so untouched partitions' files are never listed in the
    scan at all — Delta-native partition pruning. Files whose
    partitionValues lack the column (foreign-log defect) are kept
    conservatively; a null partition value is skipped (null never
    satisfies the range residual).

    Here the log IS the statistics store, so skipping needs no footer
    reads at all — the 100 TB point of stats-in-log.
    """
    from pyspark.sql import functions as F

    from .txlog import overlapping_files

    path = path.rstrip("/")
    delta_dir = os.path.join(path, DELTA_DIR)
    state = _replay_delta_log(delta_dir, version)
    live, metadata = state.live, state.metadata
    # stats and partitionValues are keyed by PHYSICAL column name under
    # columnMapping (they describe the parquet layout); identity for
    # unmapped tables
    _require_supported_mapping(metadata)
    phys_col = _physical_names(metadata).get(column, column)
    partition = column in (metadata.get("partitionColumns") or [])
    schema = _logical_schema(metadata)
    dtype = schema[column].dataType if column in schema.fieldNames() else None

    def entry(f: str):
        add = live[f]
        if partition:
            pv = add.get("partitionValues") or {}
            # a foreign log may key the value by its logical name
            key = phys_col if phys_col in pv else column
            return {phys_col: pv[key]} if key in pv else {}
        try:
            return json.loads(add.get("stats") or "null")
        except (ValueError, TypeError):
            return None  # malformed stats of any shape: never skip

    ok, unknown = overlapping_files(
        sorted(live), phys_col, dtype, lo, hi, entry, partition
    )
    kept = {f: live[f] for f in sorted({*ok, *unknown})}
    residual = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    if not kept:
        # same residual filter on the empty frame so a typo'd column name
        # raises the same AnalysisException as the non-empty path
        return _empty_snapshot(spark, metadata).filter(residual)
    return _read_live_files(spark, path, kept, metadata).filter(residual)


# ------------------------------------------------- foreign change feed


def _pv_column(fields: dict, phys: dict, pv: dict, c: str):
    """One partition column as a typed literal — partitionValues are
    keyed by PHYSICAL name under columnMapping (physical-first lookup
    serves both)."""
    raw = pv.get(phys.get(c, c), pv.get(c))
    return F.lit(raw).cast(fields[c].dataType)


def _read_delta_cdc(
    spark: SparkSession, path: str, cdc_actions: list[dict],
    metadata: dict, v: int,
) -> DataFrame:
    """Rows of a commit's ``_change_data`` files (AddCDCFile actions) —
    the row-exact change set. Delta's ``update_preimage`` /
    ``update_postimage`` tags map to the engine's delete/insert feed
    contract (the same rule TxLogTable._read_cdc applies to native
    sidecars). Partition columns attach from each action's
    partitionValues (cdc files omit them, like data files)."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = _logical_schema(metadata)
    phys = _physical_names(metadata)  # pv keys in every mode
    pcols = metadata.get("partitionColumns") or []
    fields = {fl.name: fl for fl in schema.fields}
    data_fields = [fl for fl in schema.fields if fl.name not in pcols]
    data_schema, src = _data_read_schema(spark, metadata, data_fields)
    read_schema = StructType(
        list(data_schema.fields) + [StructField("_change_type", StringType())]
    )
    parts = []
    for a in cdc_actions:
        df = (
            spark.read.schema(read_schema)
            .parquet(os.path.join(path, a["path"]))
            .select(
                *[
                    F.col(src[fl.name]).alias(fl.name)
                    for fl in data_fields
                ],
                "_change_type",
            )
        )
        pv = a.get("partitionValues") or {}
        for c in pcols:
            df = df.withColumn(c, _pv_column(fields, phys, pv, c))
        parts.append(
            df.select(*[fl.name for fl in schema.fields], "_change_type")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    ct = (
        F.when(F.col("_change_type") == "update_preimage", F.lit("delete"))
        .when(F.col("_change_type") == "update_postimage", F.lit("insert"))
        .otherwise(F.col("_change_type"))
        .alias("_change_type")
    )
    return out.select(*[fl.name for fl in schema.fields], ct).withColumn(
        "_commit_version", F.lit(v).cast("int")
    )


def _dv_index_delta(
    spark: SparkSession, table_path: str, old_desc: dict | None,
    new_desc: dict | None, want: str,
):
    """Row indexes a DV change adds ('grown' = new - old: deletes) or
    removes ('shrunk' = old - new: restore re-inserts), or None when the
    minuend side is absent. RoaringBitmap decode runs INSIDE a
    mapInPandas task (roaring pickled by value), never on the driver —
    the same executor-side rule _delta_dv_rows follows."""
    import json as _json

    from pyspark import cloudpickle

    from . import roaring

    cloudpickle.register_pickle_by_value(roaring)
    decode = roaring.decode_descriptor
    minuend, subtrahend = (
        (new_desc, old_desc) if want == "grown" else (old_desc, new_desc)
    )
    if minuend is None:
        return None
    row = (
        _json.dumps(minuend),
        _json.dumps(subtrahend) if subtrahend is not None else None,
    )
    desc_df = local_df(spark, [row], "m string, s string")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for m, s in zip(pdf["m"], pdf["s"]):
                mi = decode(_json.loads(m), table_path)
                si = (
                    set(decode(_json.loads(s), table_path))
                    if s is not None
                    else set()
                )
                yield pd.DataFrame(
                    {
                        "row_index": pd.Series(
                            [i for i in mi if i not in si], dtype="int64"
                        )
                    }
                )

    out = desc_df.mapInPandas(gen, "row_index long")
    card = int(minuend.get("cardinality") or 0)
    return F.broadcast(out) if card <= 500_000 else out


def _delta_rows_at_indices(
    spark: SparkSession, path: str, f: str, add: dict, metadata: dict,
    idx_df: DataFrame,
) -> DataFrame:
    """The rows of ONE file at the given in-file row indexes — the
    row-exact read a DV-delta change feed needs: one scan of the file,
    one semi-join on ``_metadata.row_index``, partition columns from the
    add action's partitionValues."""
    schema = _logical_schema(metadata)
    phys = _physical_names(metadata)  # pv keys in every mode
    pcols = metadata.get("partitionColumns") or []
    fields = {fl.name: fl for fl in schema.fields}
    data_fields = [fl for fl in schema.fields if fl.name not in pcols]
    data_schema, src = _data_read_schema(spark, metadata, data_fields)
    df = (
        spark.read.schema(data_schema)
        .parquet(os.path.join(path, f))
        .select(
            *[F.col(src[fl.name]).alias(fl.name) for fl in data_fields],
            F.col("_metadata.row_index").alias("__ri"),
        )
    )
    pv = add.get("partitionValues") or {}
    for c in pcols:
        df = df.withColumn(c, _pv_column(fields, phys, pv, c))
    return df.join(
        idx_df, df["__ri"] == idx_df["row_index"], "left_semi"
    ).select(*[fl.name for fl in schema.fields])


def read_delta_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
    net: bool = True,
) -> DataFrame:
    """Per-commit Change Data Feed over a FOREIGN Delta log — Delta's
    ``table_changes`` computed straight from ``_delta_log`` JSON commits
    (public PROTOCOL.md), no adoption required. The independent half of
    CONVERT FROM DELTA's history story: an adopted table's
    ``read_changes`` serves pre-adoption versions through this reader,
    so the CDF horizon survives conversion.

    Per commit: AddCDCFile actions win (row-exact, O(changed rows));
    else added files are inserts and removed files deletes, with
    ``net=True`` cancelling copy-on-write rewrite noise per commit
    (EXCEPT ALL both ways — the same rule TxLogTable.read_changes
    applies); a deletion-vector change on a file live across the commit
    yields row-exact index-delta rows (grown = deletes, shrunk =
    restore re-inserts). Commits whose every action carries
    ``dataChange=false`` (OPTIMIZE) contribute nothing. All commits
    read under ``to_version``'s metadata — one feed schema."""
    delta_dir = os.path.join(path, "_delta_log")
    from_version, to_version = int(from_version), int(to_version)
    if from_version > to_version or from_version < 0:
        raise ValueError(
            f"invalid change range [{from_version}, {to_version}]"
        )
    st_hi = _replay_delta_log(delta_dir, to_version)
    metadata = st_hi.metadata
    schema = _logical_schema(metadata)
    prev = (
        {}
        if from_version == 0
        else dict(_replay_delta_log(delta_dir, from_version - 1).live)
    )
    parts: list[DataFrame] = []
    for v in range(from_version, to_version + 1):
        adds, removes, cdc, any_dc = _parse_delta_commit(delta_dir, v)
        cur = prev
        new = dict(prev)
        for p in removes:
            new.pop(p, None)
        new.update(adds)
        prev = new
        if not any_dc:
            continue  # dataChange=false rewrite (OPTIMIZE): not a change
        if cdc:
            parts.append(_read_delta_cdc(spark, path, cdc, metadata, v))
            continue
        added = {f: a for f, a in adds.items() if f not in cur}
        removed = {
            f: cur[f] for f in removes if f in cur and f not in adds
        }
        # added files read under the DV they carry AT v; removed files
        # under the DV they carried BEFORE v (already-deleted rows never
        # re-report) — both descriptors ride the live dicts
        ins = _read_live_files(spark, path, added, metadata) if added else None
        dels = (
            _read_live_files(spark, path, removed, metadata)
            if removed
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
        for f in sorted(set(adds) & set(cur)):
            old_dv = cur[f].get("deletionVector")
            new_dv = adds[f].get("deletionVector")
            if old_dv == new_dv:
                continue
            for want, ct in (("grown", "delete"), ("shrunk", "insert")):
                idx = _dv_index_delta(spark, path, old_dv, new_dv, want)
                if idx is None:
                    continue
                parts.append(
                    _delta_rows_at_indices(
                        spark, path, f, adds[f], metadata, idx
                    )
                    .withColumn("_change_type", F.lit(ct))
                    .withColumn("_commit_version", F.lit(v).cast("int"))
                )
    if not parts:
        return (
            _empty_snapshot(spark, metadata)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0).cast("int"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        *[fl.name for fl in schema.fields], "_change_type", "_commit_version"
    )
