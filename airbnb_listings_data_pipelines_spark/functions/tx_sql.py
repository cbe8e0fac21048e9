"""SQL front-end for the table-governance surface of ``operators/txlog``.

The reference's entire posture is SQL text (``design.sql`` /
``adhoc.sql`` run verbatim through ``snowflake_script.ScriptSession``);
the engine's table format grew a Python-only governance API (DML, MERGE,
OPTIMIZE, RESTORE, schema evolution, constraints, VACUUM). This module
closes that gap: a :class:`TxSqlSession` binds table names to
:class:`~..operators.txlog.TxLogTable` roots and routes governance
STATEMENT TEXT onto the existing APIs, so a SQL-speaking user drives the
same commits a Python caller would — byte-identical log history, by
construction, because the SQL layer parses only the statement SHAPE and
hands every condition / assignment / expression through to the same
Spark-SQL expression parser the Python API uses (``F.expr``). Statement
grammar follows Delta Lake's public SQL surface (delta.io docs) for the
operations Snowflake SQL has no equivalent of (OPTIMIZE, RESTORE,
VACUUM), and ANSI for the rest:

- ``CREATE TABLE t [PARTITIONED BY (c1, ...)] AS <select>`` (the name
  must be bound to a filesystem root — SQL cannot invent storage)
- ``INSERT INTO t <select> | VALUES (...)`` — positional full-arity
  alignment (standard SQL), lands as an append commit under the CHECK
  gate
- ``DELETE FROM t [WHERE cond]``
- ``UPDATE t SET c1 = e1, c2 = e2 [WHERE cond]``
- ``MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a] USING src [AS b]
  ON t.k = src.k [AND ...]
  {WHEN MATCHED [AND cond] THEN UPDATE SET * | UPDATE SET c = expr, ...
  | DELETE} ... {WHEN NOT MATCHED [AND cond] THEN INSERT * |
  INSERT (cols) VALUES (exprs)} ... {WHEN NOT MATCHED BY SOURCE
  [AND cond] THEN UPDATE SET c = expr, ... | DELETE} ...`` — Delta's
  FULL MERGE surface: conditional, ordered, multi-clause, whole-row
  and per-column, all three row classes (``merge_into_txlog``
  ``clauses=`` -> ``operators/merge.merge_clauses``). First clause
  whose condition holds wins per row; within each class every clause
  except the last needs a condition (later ones would be unreachable —
  refused). Expressions and conditions reference both sides via the
  statement's aliases (or raw names); unlisted columns keep target
  values on UPDATE and insert NULL on INSERT, Delta's rules. ``src``
  is a catalog/temp-view name or a parenthesized subquery.
- ``OPTIMIZE t [WHERE col = v | WHERE col BETWEEN lo AND hi]
  [ZORDER BY (c1, c2)] [FULL]`` — WHERE scopes the compaction to
  overlapping files (partition dirs / recorded stats), Delta's
  partition-scoped OPTIMIZE; on a clustered table the bare form is the
  INCREMENTAL liquid maintenance pass and ``FULL`` forces the global
  whole-snapshot recluster (Delta's ``OPTIMIZE ... FULL``)
- ``RESTORE TABLE t TO VERSION AS OF n`` / ``TO TIMESTAMP AS OF ts``
  (timestamps resolve via monotonized commit mtimes, Delta's fallback
  rule; numeric literals are epoch seconds, strings ISO-8601)
- ``ALTER TABLE t RENAME COLUMN a TO b`` / ``DROP COLUMN a`` /
  ``ADD COLUMN a type`` / ``ADD CONSTRAINT name CHECK (expr)`` /
  ``DROP CONSTRAINT name``
- ``ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)`` /
  ``UNSET TBLPROPERTIES [IF EXISTS] ('k', ...)`` — Delta's table
  properties, recorded as metadata commits, exported into the Delta
  ``configuration`` and adopted back by CONVERT FROM DELTA. Behavioral:
  ``delta.enableDeletionVectors`` 'true' routes DELETE/UPDATE/MERGE to
  merge-on-read (vectors + slivers, no touched-file rewrite);
  ``delta.appendOnly`` 'true' refuses row-modifying commits at the
  protocol chokepoint (insert-only merges and no-op DML stay legal,
  Delta's rule)
- ``CONVERT t FROM PARQUET [PARTITIONED BY (c1, ...)] | FROM DELTA |
  FROM ICEBERG`` — in-place adoption of whatever format sits at the
  bound root (zero data movement), the SQL twins of ``convert`` /
  ``convert_from_delta`` / ``convert_from_iceberg``; the binding is
  replaced with the adopted handle
- ``CALL expire_snapshots(t [, retain_last => n | , n])`` — Iceberg's
  procedure convention for the exported metadata layer's retention
  (deletes only snapshot artifacts, never data files)
- ``VACUUM t [RETAIN n VERSIONS] [DRY RUN]``
- ``SHOW TBLPROPERTIES t [('key')]`` (all properties as key/value rows,
  or the one named key)
- ``DESCRIBE HISTORY t`` (returns a DataFrame, newest first — Delta's
  shape: version, operation, and the commit's add/remove counts)
- ``DESCRIBE DETAIL t`` (one row: format, version, numFiles,
  sizeInBytes, partition columns, DV and CHECK counts)
- ``SELECT ... FROM t [VERSION AS OF n | TIMESTAMP AS OF ts]`` —
  snapshot / time-travel
  reads; each referenced (table, version) registers as a temp view and
  the statement runs through plain Spark SQL (Catalyst plans it; this
  layer only resolves names and versions)
- ``SELECT ... FROM table_changes(t, lo[, hi])`` — Delta's CDF TVF:
  the per-commit change feed (``read_changes``) as a relation, rows
  tagged ``_change_type``/``_commit_version``; ``hi`` defaults to the
  latest version

Scale shape: parsing is driver-side regex over statement text (O(bytes
of SQL), zero data work); every statement's execution cost is exactly
its Python twin's — this layer adds no plan nodes, no extra scans.
"""

from __future__ import annotations

import re

from ..localframe import local_df
from pyspark.sql import DataFrame, SparkSession

from ..operators.txlog import TxLogTable, merge_into_txlog
from .snowflake_script import _split_top_commas, split_statements

_IDENT = r"[A-Za-z_][A-Za-z0-9_.]*"


# ONE literal/paren scanner shared by every statement splitter below —
# the review flagged five hand-rolled divergent copies; this mask is
# now the single place that knows Spark SQL's literal forms (single-
# AND double-quoted, both string literals under Spark's default
# parser, backslash escapes honored).
_LITERAL_RE = re.compile(r"('(?:[^'\\]|\\.)*')|(\"(?:[^\"\\]|\\.)*\")")


def _sql_mask(text: str) -> tuple[list[bool], list[int]]:
    """Per-index ``(in_literal, paren_depth)`` for a SQL fragment:
    ``in_literal[i]`` is True when ``text[i]`` sits inside a string
    literal (quotes included); ``depth[i]`` is the parenthesis depth at
    ``i`` counting outside-literal parens only."""
    n = len(text)
    lit = [False] * n
    depth = [0] * n
    in_q: str | None = None
    d = 0
    i = 0
    while i < n:
        ch = text[i]
        if in_q:
            lit[i] = True
            depth[i] = d
            if ch == "\\" and i + 1 < n:
                lit[i + 1] = True
                depth[i + 1] = d
                i += 2
                continue
            if ch == in_q:
                in_q = None
            i += 1
            continue
        if ch in "'\"":
            in_q = ch
            lit[i] = True
        elif ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        depth[i] = d
        i += 1
    return lit, depth


def _sql_words(text: str, lit: list[bool], depth: list[int], start: int = 0):
    """(position, UPPERCASED word) for every identifier-shaped token at
    paren depth 0 outside literals, from ``start`` on."""
    for m in re.finditer(r"[A-Za-z_][\w]*", text):
        p = m.start()
        if p >= start and not lit[p] and depth[p] == 0:
            if p and text[p - 1] == ".":
                continue  # qualified member (t.case, s.where): not a keyword
            yield p, m.group(0).upper()


def _split_top_commas(text: str) -> list[str]:
    """Split on commas at paren depth 0 outside string literals — the
    column-definition splitter (types like DECIMAL(10,2) and generation
    expressions keep their inner commas). Angle brackets are tracked at
    paren depth 0 too: there they can only be TYPE brackets
    (MAP<STRING,INT>, STRUCT<...>) — comparison operators only occur
    inside parenthesized expressions, where angle depth is ignored."""
    lit, depth = _sql_mask(text)
    parts: list[str] = []
    start = 0
    angle = 0
    for i, ch in enumerate(text):
        if lit[i] or depth[i] != 0:
            continue
        if ch == "<":
            angle += 1
        elif ch == ">":
            angle = max(0, angle - 1)
        elif ch == "," and angle == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_where(text: str) -> tuple[str, str | None]:
    """Split ``text`` at its first top-level ``WHERE`` keyword — outside
    string literals AND outside parentheses — returning
    (head, condition|None). A naive regex split corrupts statements
    whose string literals contain the word (``SET note = 'kept where
    found'``) or whose expressions hold a parenthesized subquery
    (``SET v = (SELECT ... WHERE ...) WHERE k = 1``)."""
    lit, depth = _sql_mask(text)
    for p, w in _sql_words(text, lit, depth):
        if w == "WHERE":
            return text[:p].rstrip(), text[p + 5 :].strip()
    return text.rstrip(), None


_WHEN_CLAUSE = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED(\s+BY\s+SOURCE)?\s*(THEN|AND)\b",
    re.IGNORECASE,
)


def _scan_to_then(
    text: str, start: int, lit: list[bool], depth: list[int]
) -> int:
    """Index of the THEN that terminates a clause CONDITION starting at
    ``start``: the first THEN at paren depth 0, outside string literals,
    and outside any CASE...END (whose own THENs must not terminate the
    condition). Raises if none found."""
    case_depth = 0
    for p, w in _sql_words(text, lit, depth, start):
        if w == "CASE":
            case_depth += 1
        elif w == "END" and case_depth:
            case_depth -= 1
        elif w == "THEN" and case_depth == 0:
            return p
    raise ValueError(
        f"MERGE clause condition never reaches THEN: {text[start:]!r}"
    )


def _split_merge_clauses(text: str) -> list[tuple[str, str | None, str]]:
    """Split a MERGE statement's WHEN-clause tail into
    ``[(kind, condition_or_None, action_text), ...]`` where kind is
    ``'m'`` (WHEN MATCHED), ``'nm'`` (WHEN NOT MATCHED) or ``'nmbs'``
    (WHEN NOT MATCHED BY SOURCE) — Delta's full clause surface,
    including conditional ``AND cond`` forms. Clause starts are
    recognized at paren depth 0, outside string literals — a ``CASE
    WHEN cond THEN`` inside a SET expression never matches (its WHEN is
    not followed by the MATCHED keyword), and a CASE inside a clause
    CONDITION keeps its own THENs (see :func:`_scan_to_then`)."""
    # (clause_start, cond_or_None, action_at, kind)
    starts: list[tuple[int, str | None, int, str]] = []
    lit, depth = _sql_mask(text)
    case_depth = 0  # a CASE expression's own WHENs are never clauses —
    # even `CASE WHEN matched THEN ...` over a column literally named
    # `matched` (review finding: the MATCHED-keyword check alone does
    # not cover unqualified columns spelled like the keyword)
    resume = 0  # words consumed by a recognized clause head are skipped
    for p, word in _sql_words(text, lit, depth):
        if p < resume:
            continue
        if word == "CASE":
            case_depth += 1
        elif word == "END" and case_depth:
            case_depth -= 1
        elif word == "WHEN" and case_depth == 0:
            m = _WHEN_CLAUSE.match(text, p)
            if not m:
                continue
            if m.group(2) and not m.group(1):
                raise ValueError(
                    "WHEN MATCHED BY SOURCE is not a clause — "
                    "did you mean WHEN NOT MATCHED BY SOURCE?"
                )
            kind = (
                "m" if not m.group(1) else ("nmbs" if m.group(2) else "nm")
            )
            if m.group(3).upper() == "AND":
                then_at = _scan_to_then(text, m.end(), lit, depth)
                cond = text[m.end() : then_at].strip()
                if not cond:
                    raise ValueError("empty MERGE clause condition")
                starts.append((p, cond, then_at + len("THEN"), kind))
                resume = then_at + len("THEN")
            else:
                starts.append((p, None, m.end(), kind))
                resume = m.end()
    if not starts:
        raise ValueError(
            f"no WHEN [NOT] MATCHED [BY SOURCE] THEN clause found in: "
            f"{text!r}"
        )
    head = text[: starts[0][0]].strip()
    if head:
        raise ValueError(f"unsupported MERGE clause text: {head!r}")
    out = []
    for idx, (_start, cond, action_at, kind) in enumerate(starts):
        end = starts[idx + 1][0] if idx + 1 < len(starts) else len(text)
        out.append((kind, cond, text[action_at:end].strip()))
    return out


def _lit(tok: str):
    """A SQL literal token -> Python value: quoted string, int, float, or
    date-like string (partition values parse from their recorded type
    downstream, so '2024-01-01' stays a string here)."""
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        return tok


class TxSqlSession:
    """Bind table names to txlog roots; execute governance SQL against
    them. ``tables`` maps the name used in statements to a
    :class:`TxLogTable` or a filesystem path (opened lazily, default
    arbiter)."""

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, object],
        cdc: bool = False,
    ):
        """``cdc=True`` makes every COW DELETE/UPDATE/MERGE this session
        executes record a change-data sidecar — the session-scoped
        analog of Delta's ``delta.enableChangeDataFeed`` table property
        (this engine's tables carry no property store; the flag lives
        on the session that drives them)."""
        self.spark = spark
        self.cdc = bool(cdc)
        self._tables: dict[str, TxLogTable] = {}
        for name, t in tables.items():
            self._tables[name.lower()] = (
                t if isinstance(t, TxLogTable) else TxLogTable(spark, str(t))
            )

    def table(self, name: str) -> TxLogTable:
        t = self._tables.get(name.lower())
        if t is None:
            raise KeyError(
                f"unknown txlog table {name!r} (bound: {sorted(self._tables)})"
            )
        return t

    # ---------------------------------------------------------------- API

    def execute_script(self, text: str) -> list[object]:
        return [self.execute(stmt) for stmt in split_statements(text)]

    def execute(self, stmt: str):
        """Run one statement; returns the committed version (int) for
        write statements, a DataFrame for DESCRIBE HISTORY, a list of
        deleted files for VACUUM."""
        s = stmt.strip().rstrip(";").strip()
        head = re.sub(r"\s+", " ", s[:40].upper())
        for pat, fn in (
            (r"CREATE TABLE ", self._create),
            (r"INSERT INTO ", self._insert),
            (r"DELETE FROM ", self._delete),
            (r"UPDATE ", self._update),
            (r"MERGE (WITH SCHEMA EVOLUTION )?INTO ", self._merge),
            (r"OPTIMIZE ", self._optimize),
            (r"CONVERT ", self._convert),
            (r"CALL ", self._call),
            (r"RESTORE TABLE ", self._restore),
            (r"ALTER TABLE ", self._alter),
            (r"VACUUM ", self._vacuum),
            (r"DESCRIBE HISTORY ", self._history),
            (r"DESCRIBE DETAIL ", self._detail),
            (r"SHOW TBLPROPERTIES ", self._show_props),
            (r"SELECT ", self._select),
        ):
            if re.match(pat, head):
                return fn(s)
        raise ValueError(f"unsupported governance statement: {head!r}")

    # ----------------------------------------------------------- handlers

    def _create(self, s: str) -> int:
        """``CREATE TABLE t [PARTITIONED BY (c1, ...)] AS <select>``
        (CTAS), or the COLUMN-DEFINITION form
        ``CREATE TABLE t (c1 TYPE [GENERATED ALWAYS AS (expr)], ...)
        [PARTITIONED BY (...)]`` which creates an EMPTY table (commit 0,
        zero files) whose schema — including Delta's GENERATED ALWAYS AS
        columns — is recorded up front; INSERTs then compute/validate
        the generated columns through the append path. The name must
        already be bound (the session maps names to filesystem roots —
        SQL cannot invent storage locations)."""
        mh = re.match(
            rf"CREATE\s+TABLE\s+({_IDENT})\s*\(", s, re.IGNORECASE
        )
        if mh:
            return self._create_coldefs(s, mh)
        m = re.fullmatch(
            rf"CREATE\s+TABLE\s+({_IDENT})"
            r"(?:\s+PARTITIONED\s+BY\s+\(([^)]+)\))?"
            r"\s+AS\s+(.+)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE TABLE: {s!r}")
        name = m.group(1).lower()
        if name not in self._tables:
            raise KeyError(
                f"unknown txlog table {name!r} (bind a root for it first)"
            )
        t = self._tables[name]
        pby = (
            [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        )
        created = TxLogTable.create(
            self.spark,
            t.path,
            self.spark.sql(m.group(3)),
            partition_by=pby,
            arbiter=t.arbiter,
        )
        self._tables[name] = created
        return 0

    def _create_coldefs(self, s: str, mh: "re.Match") -> int:
        name = mh.group(1).lower()
        if name not in self._tables:
            raise KeyError(
                f"unknown txlog table {name!r} (bind a root for it first)"
            )
        lit, depth = _sql_mask(s)
        open_i = mh.end() - 1
        close_i = next(
            (
                i
                for i in range(open_i + 1, len(s))
                if s[i] == ")" and not lit[i] and depth[i] == 0
            ),
            None,
        )
        if close_i is None:
            raise ValueError(f"unbalanced column definitions: {s!r}")
        tail = s[close_i + 1 :].strip()
        pby = None
        cluster_cols: list[str] | None = None
        if tail:
            mc = re.search(
                r"CLUSTER\s+BY\s+\(([^)]+)\)\s*$", tail, re.IGNORECASE
            )
            if mc:
                cluster_cols = [c.strip() for c in mc.group(1).split(",")]
                tail = tail[: mc.start()].strip()
        if tail:
            mt = re.fullmatch(
                r"PARTITIONED\s+BY\s+\(([^)]+)\)", tail, re.IGNORECASE
            )
            if not mt:
                raise ValueError(
                    f"cannot parse CREATE TABLE suffix {tail!r} (the "
                    "column-definition form takes PARTITIONED BY or "
                    "CLUSTER BY; use CTAS to seed data)"
                )
            pby = [c.strip() for c in mt.group(1).split(",")]
        if pby and cluster_cols:
            # Delta disallows clustering AND partitioning on one table
            # entirely (either alone is fine) — accepting the combined
            # DDL would create a table the mirrored Delta log cannot
            # legally express (review finding, round 11)
            raise ValueError(
                "CREATE TABLE cannot combine PARTITIONED BY with "
                "CLUSTER BY — Delta tables take one or the other"
            )
        cols: list[tuple[str, str]] = []
        gen: dict[str, str] = {}
        identity: dict[str, tuple[int, int]] = {}
        for d in _split_top_commas(s[open_i + 1 : close_i]):
            mi = re.fullmatch(
                r"([A-Za-z_]\w*)\s+(.+?)\s+GENERATED\s+ALWAYS\s+AS\s+"
                r"IDENTITY(?:\s*\(([^)]*)\))?",
                d,
                re.IGNORECASE | re.DOTALL,
            )
            if mi:
                if mi.group(2).strip().upper() not in ("BIGINT", "LONG"):
                    raise ValueError(
                        f"identity column {mi.group(1)!r} must be BIGINT "
                        f"(got {mi.group(2).strip()!r})"
                    )
                # START WITH / INCREMENT BY are each optional, any order
                # (Delta's identity options grammar)
                opts = mi.group(3) or ""
                ms = re.search(r"START\s+WITH\s+(-?\d+)", opts, re.IGNORECASE)
                mb = re.search(
                    r"INCREMENT\s+BY\s+(-?\d+)", opts, re.IGNORECASE
                )
                rest = re.sub(
                    r"START\s+WITH\s+-?\d+|INCREMENT\s+BY\s+-?\d+",
                    "",
                    opts,
                    flags=re.IGNORECASE,
                ).strip()
                if rest:
                    raise ValueError(
                        f"unrecognized IDENTITY option(s) {rest!r} (takes "
                        "START WITH n and/or INCREMENT BY m)"
                    )
                cols.append((mi.group(1), mi.group(2).strip()))
                identity[mi.group(1)] = (
                    int(ms.group(1)) if ms else 1,
                    int(mb.group(1)) if mb else 1,
                )
                continue
            mc = re.fullmatch(
                r"([A-Za-z_]\w*)\s+(.+?)"
                r"(?:\s+GENERATED\s+ALWAYS\s+AS\s+\((.+)\))?",
                d,
                re.IGNORECASE | re.DOTALL,
            )
            if not mc:
                raise ValueError(f"cannot parse column definition {d!r}")
            cols.append((mc.group(1), mc.group(2).strip()))
            if mc.group(3) is not None:
                gen[mc.group(1)] = mc.group(3).strip()
        ddl = ", ".join(
            f"{c} {ty}" for c, ty in cols if c not in identity
        )
        t = self._tables[name]
        created = TxLogTable.create(
            self.spark,
            t.path,
            local_df(self.spark, [], ddl),
            partition_by=pby,
            arbiter=t.arbiter,
            generated=gen or None,
            identity=identity or None,
            # identity columns are excluded from the DDL (create assigns
            # them), but the committed schema must keep the DECLARED
            # position — `(row_id ... IDENTITY, k, v)` reads as
            # (row_id, k, v), not (k, v, row_id)
            column_order=[c for c, _ty in cols] if identity else None,
        )
        if cluster_cols:
            created.cluster_by(cluster_cols)
        self._tables[name] = created
        return 0

    def _insert(self, s: str) -> int:
        """``INSERT INTO t [(c1, ...)] <select|VALUES (...)>``: an append
        commit — column alignment, casts, and CHECK enforcement are the
        append path's (extra columns reject loudly, missing ones
        null-fill — and missing GENERATED columns compute). Without a
        column list the alignment is standard-SQL POSITIONAL at full
        arity; with one, the listed names bind positionally and the rest
        null-fill/compute via append()."""
        m = re.fullmatch(
            rf"INSERT\s+INTO\s+({_IDENT})\s*(.+)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse INSERT: {s!r}")
        body = m.group(2).strip()
        t = self.table(m.group(1))
        cols = t.read().columns
        listed: list[str] | None = None
        if body.startswith("("):
            # a leading paren is a column list ONLY when its content is a
            # bare identifier list — `INSERT INTO t (SELECT ...)` is a
            # parenthesized query, not columns
            lit, depth = _sql_mask(body)
            close = next(
                (
                    i
                    for i in range(1, len(body))
                    if body[i] == ")" and not lit[i] and depth[i] == 0
                ),
                None,
            )
            if close is not None:
                inner = body[1:close]
                if re.fullmatch(
                    r"\s*[A-Za-z_]\w*(\s*,\s*[A-Za-z_]\w*)*\s*", inner
                ):
                    listed = [c.strip() for c in inner.split(",")]
                    body = body[close + 1 :].strip()
        if re.match(r"VALUES\b", body, re.IGNORECASE):
            df = self.spark.sql(f"SELECT * FROM ({body})")
        else:
            df = self.spark.sql(body)
        if listed is not None:
            if len(set(listed)) != len(listed):
                dupes = sorted({c for c in listed if listed.count(c) > 1})
                raise ValueError(
                    f"INSERT INTO {m.group(1)}: duplicate column(s) "
                    f"{dupes} in the column list"
                )
            unknown = sorted(set(listed) - set(cols))
            if unknown:
                raise ValueError(
                    f"INSERT INTO {m.group(1)}: column(s) {unknown} "
                    "absent from table"
                )
            if len(df.columns) != len(listed):
                raise ValueError(
                    f"INSERT INTO {m.group(1)}: query produces "
                    f"{len(df.columns)} columns, list names {len(listed)}"
                )
            return t.append(df.toDF(*listed))
        # standard SQL INSERT alignment: POSITIONAL, full arity (the
        # by-name null-fill path belongs to append(), not to INSERT text)
        if len(df.columns) != len(cols):
            raise ValueError(
                f"INSERT INTO {m.group(1)}: query produces "
                f"{len(df.columns)} columns, table has {len(cols)}"
            )
        return t.append(df.toDF(*cols))

    def _delete(self, s: str) -> int:
        head, cond = _split_where(s)
        m = re.fullmatch(
            rf"DELETE\s+FROM\s+({_IDENT})", head, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"cannot parse DELETE: {s!r}")
        if cond is not None and not cond.strip():
            # a dangling WHERE is a broken statement, not a full-table
            # DELETE — silently widening the predicate would be the worst
            # possible recovery
            raise ValueError(f"WHERE with no condition: {s!r}")
        t = self.table(m.group(1))
        mode = self._dml_mode(t)
        return t.delete_where(
            cond if cond is not None else "true",
            mode=mode,
            cdc=self.cdc and mode == "cow",
        )

    def _update(self, s: str) -> int:
        head, cond = _split_where(s)
        m = re.fullmatch(
            rf"UPDATE\s+({_IDENT})\s+SET\s+(.+)",
            head,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse UPDATE: {s!r}")
        assignments: dict[str, str] = {}
        for item in _split_top_commas(m.group(2)):
            am = re.fullmatch(
                rf"\s*({_IDENT})\s*=\s*(.+?)\s*", item, re.DOTALL
            )
            if not am:
                raise ValueError(f"cannot parse SET item: {item!r}")
            assignments[am.group(1)] = am.group(2)
        if cond is not None and not cond.strip():
            raise ValueError(f"WHERE with no condition: {s!r}")
        t = self.table(m.group(1))
        mode = self._dml_mode(t)
        return t.update_where(
            cond if cond is not None else "true",
            assignments,
            mode=mode,
            cdc=self.cdc and mode == "cow",
        )

    def _merge(self, s: str) -> int:
        m = re.fullmatch(
            rf"MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+"
            rf"({_IDENT})(?:\s+AS\s+(\w+))?\s+USING\s+"
            rf"(\((?:[^()]|\([^()]*\))*\)|{_IDENT})(?:\s+AS\s+(\w+)|\s+(\w+))?"
            rf"\s+ON\s+(.+?)\s*((?:WHEN\s.+)?)",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse MERGE: {s!r}")
        evolve, tname, talias, src, salias1, salias2, on, clauses = m.groups()
        salias = salias1 or salias2
        t = self.table(tname)
        # shape validation FIRST, source resolution last: a malformed
        # statement must refuse on its own text, not on catalog state
        # ON must be a conjunction of key equalities (the engine merges
        # whole rows by key) — extract the key list, refusing anything else
        keys: list[str] = []
        for term in re.split(r"\s+AND\s+", on, flags=re.IGNORECASE):
            em = re.fullmatch(
                r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", term
            )
            if not em:
                raise ValueError(
                    f"MERGE ON term {term!r} is not a qualified key "
                    "equality (t.k = s.k) — only equi-key merges are "
                    "supported"
                )
            q1, c1, q2, c2 = em.groups()
            if c1.lower() != c2.lower():
                raise ValueError(
                    f"MERGE ON joins differently-named columns {term!r} — "
                    "alias the source column to the target name first"
                )
            keys.append(c1)
        # expressions in per-column clauses reference the statement's
        # aliases (or raw names); the merge core's join sides are
        # literally `t` and `s`, so alias-qualified references are
        # rewritten (outside string literals) before F.expr sees them
        qual_map: dict[str, str] = {}
        for q in (talias, tname):
            if q:
                qual_map[q.lower()] = "t"
        for q in (salias, src if not src.startswith("(") else None):
            if q:
                if qual_map.get(q.lower()) == "t":
                    raise ValueError(
                        f"MERGE qualifier {q!r} names BOTH sides — "
                        "alias the source differently"
                    )
                qual_map[q.lower()] = "s"

        # ONE combined pattern applied in ONE pass: sequential per-alias
        # substitution would re-scan already-rewritten text (a source
        # aliased 't' would hijack the canonical 't.' the target pass
        # just produced and silently swap join sides — review finding)
        qual_re = re.compile(
            r"\b(" + "|".join(re.escape(q) for q in qual_map) + r")\s*\.",
            re.IGNORECASE,
        ) if qual_map else None

        def _requalify(expr: str) -> str:
            if qual_re is None:
                return expr
            parts = _LITERAL_RE.split(expr)
            out = []
            for seg in parts:
                if seg and seg[0] in "'\"":
                    out.append(seg)  # literal span: untouched
                elif seg:
                    out.append(
                        qual_re.sub(
                            lambda m: qual_map[m.group(1).lower()] + ".",
                            seg,
                        )
                    )
            return "".join(out)

        def _strip_qualifier(col: str) -> str:
            col = col.strip()
            if "." in col:
                q, _, bare = col.partition(".")
                if q.strip().lower() not in qual_map and q.strip() not in (
                    "t",
                    "s",
                ):
                    raise ValueError(
                        f"SET/INSERT column {col!r} carries an unknown "
                        "qualifier"
                    )
                return bare.strip()
            return col

        def _parse_insert(a: str) -> dict | None:
            """INSERT action -> values dict (None = INSERT *)."""
            if re.fullmatch(r"INSERT\s+\*", a, re.IGNORECASE):
                return None
            im = re.fullmatch(
                r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.*)\)",
                a,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(
                    "WHEN NOT MATCHED supports INSERT * or "
                    f"INSERT (cols) VALUES (exprs), got: {a!r}"
                )
            cols = [
                _strip_qualifier(c) for c in _split_top_commas(im.group(1))
            ]
            exprs = [_requalify(e) for e in _split_top_commas(im.group(2))]
            if len(cols) != len(exprs) or not cols:
                raise ValueError(
                    f"INSERT column/value count mismatch: {len(cols)} "
                    f"columns, {len(exprs)} values"
                )
            dup = {c for c in cols if cols.count(c) > 1}
            if dup:
                raise ValueError(
                    f"INSERT lists column(s) {sorted(dup)} twice"
                )
            return dict(zip(cols, exprs))

        def _parse_action(a: str, kind: str) -> tuple[str, dict | None]:
            """UPDATE/DELETE action -> (action, set dict | None=SET *)."""
            if re.fullmatch(r"DELETE", a, re.IGNORECASE):
                return "delete", None
            if re.fullmatch(r"UPDATE\s+SET\s+\*", a, re.IGNORECASE):
                if kind == "nmbs":
                    raise ValueError(
                        "NOT MATCHED BY SOURCE cannot UPDATE SET * — "
                        "there is no source row; list the columns"
                    )
                return "update", None
            um = re.fullmatch(
                r"UPDATE\s+SET\s+(.+)", a, re.IGNORECASE | re.DOTALL
            )
            if not um:
                raise ValueError(
                    "MERGE action must be UPDATE SET * / "
                    f"UPDATE SET c = expr, ... / DELETE, got: {a!r}"
                )
            st: dict[str, str] = {}
            for item in _split_top_commas(um.group(1)):
                am = re.fullmatch(
                    r"\s*([\w.]+)\s*=\s*(.+?)\s*", item, re.DOTALL
                )
                if not am:
                    raise ValueError(f"cannot parse SET item: {item!r}")
                col = _strip_qualifier(am.group(1))
                if col in st:
                    raise ValueError(f"SET lists column {col!r} twice")
                st[col] = _requalify(am.group(2))
            return "update", st

        matched_cl: list[dict] = []
        nm_cl: list[dict] = []
        nmbs_cl: list[dict] = []
        for kind, cond, action in _split_merge_clauses(clauses.strip()):
            a = action.strip()
            cond_rq = _requalify(cond) if cond else None
            if kind == "nm":
                nm_cl.append({"cond": cond_rq, "values": _parse_insert(a)})
            else:
                act, st = _parse_action(a, kind)
                cl = {"cond": cond_rq, "action": act, "set": st}
                (matched_cl if kind == "m" else nmbs_cl).append(cl)
        # shape validation before catalog access (same rule as ON):
        # Delta's clause-order rule — an unconditional clause makes
        # every later clause of its class unreachable
        for kind_name, lst in (
            ("MATCHED", matched_cl),
            ("NOT MATCHED", nm_cl),
            ("NOT MATCHED BY SOURCE", nmbs_cl),
        ):
            for i, cl in enumerate(lst):
                if cl["cond"] is None and i != len(lst) - 1:
                    raise ValueError(
                        f"WHEN {kind_name} clause {i + 2} is unreachable "
                        f"— only the LAST {kind_name} clause may omit "
                        "its AND condition"
                    )
        source = (
            self.spark.sql(src[1:-1])
            if src.startswith("(")
            else self.spark.table(src)
        )
        simple = (
            not nmbs_cl
            and len(matched_cl) == 1
            and len(nm_cl) <= 1
            and all(
                c["cond"] is None for c in matched_cl + nm_cl
            )
        )
        mode = self._dml_mode(t)
        cdc = self.cdc and mode == "cow"
        if simple:
            # the one-unconditional-clause-per-side shape keeps the
            # original simple-form call (byte-identical commit history
            # with the Python twin API, pinned by the parity tests)
            mc = matched_cl[0]
            merge_into_txlog(
                self.spark, t, source, keys,
                when_matched=mc["action"],
                when_not_matched="insert" if nm_cl else "ignore",
                matched_set=mc["set"] or None,
                insert_values=(nm_cl[0]["values"] or None) if nm_cl else None,
                evolve_schema=bool(evolve),
                cdc=cdc,
                mode=mode,
            )
        else:
            # full Delta clause surface: conditional, ordered,
            # multi-clause, NOT MATCHED BY SOURCE, insert-only —
            # operators/merge.merge_clauses
            merge_into_txlog(
                self.spark, t, source, keys,
                clauses={
                    "matched": matched_cl,
                    "not_matched": nm_cl,
                    "not_matched_by_source": nmbs_cl,
                },
                evolve_schema=bool(evolve),
                cdc=cdc,
                mode=mode,
            )
        return t.version()

    def _convert(self, s: str) -> int:
        """``CONVERT t FROM PARQUET [PARTITIONED BY (c1, ...)] | FROM
        DELTA | FROM ICEBERG`` — adopt the format already on disk at
        the bound root IN PLACE (zero bytes moved): the SQL twins of
        :meth:`TxLogTable.convert`, :meth:`TxLogTable.convert_from_delta`
        and :func:`operators.iceberg.convert_from_iceberg`. Statement
        grammar follows Delta's ``CONVERT TO DELTA parquet.`path```
        posture with the format on the source side, because here the
        TARGET format is always the txlog and the session already binds
        the name to its storage root. Returns the adopted version. The
        binding is replaced with the adopted handle, so subsequent
        statements in the same script run against it."""
        m = re.fullmatch(
            rf"CONVERT\s+({_IDENT})\s+FROM\s+(PARQUET|DELTA|ICEBERG)"
            r"(?:\s+PARTITIONED\s+BY\s+\(([^)]+)\))?",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse CONVERT: {s!r}")
        name = m.group(1).lower()
        if name not in self._tables:
            raise KeyError(
                f"unknown txlog table {name!r} (bind a root for it first)"
            )
        src = m.group(2).upper()
        pby = (
            [c.strip() for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        if pby and src != "PARQUET":
            raise ValueError(
                "PARTITIONED BY applies to CONVERT ... FROM PARQUET "
                "only — DELTA/ICEBERG adoption reads the spec from the "
                "source metadata"
            )
        old = self._tables[name]
        if src == "PARQUET":
            t = TxLogTable.convert(
                self.spark, old.path, partition_by=pby
            )
        elif src == "DELTA":
            t = TxLogTable.convert_from_delta(self.spark, old.path)
        else:
            from ..operators.iceberg import convert_from_iceberg

            t = convert_from_iceberg(self.spark, old.path)
        t.arbiter = old.arbiter
        self._tables[name] = t
        return t.version()

    def _call(self, s: str):
        """``CALL expire_snapshots(t [, retain_last => n | , n])`` —
        Iceberg's Spark-procedure convention for the exported metadata
        layer's retention maintenance
        (:func:`operators.iceberg.expire_iceberg_snapshots`). Returns
        the deleted artifact paths, the VACUUM-statement shape."""
        m = re.fullmatch(
            rf"CALL\s+expire_snapshots\s*\(\s*({_IDENT})"
            r"(?:\s*,\s*(?:retain_last\s*=>\s*)?(\d+))?\s*\)",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse CALL: {s!r}")
        from ..operators.iceberg import expire_iceberg_snapshots

        t = self.table(m.group(1))
        keep = int(m.group(2)) if m.group(2) else 1
        return expire_iceberg_snapshots(t.path, keep_last=keep)

    def _optimize(self, s: str) -> int:
        m = re.fullmatch(
            rf"OPTIMIZE\s+({_IDENT})"
            r"(?:\s+WHERE\s+(.+?))?"
            r"(?:\s+ZORDER\s+BY\s+\(([^)]+)\))?"
            r"(?:\s+(FULL))?",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse OPTIMIZE: {s!r}")
        if m.group(4) and m.group(3):
            raise ValueError(
                "OPTIMIZE FULL applies to clustered tables' bare "
                "maintenance pass — it cannot combine with ZORDER BY"
            )
        prune = None
        if m.group(2):
            # Delta's OPTIMIZE ... WHERE takes file-selection predicates;
            # the engine's file-scoping primitive is a range, so accept
            # the two range shapes and refuse anything else loudly
            w = m.group(2).strip()
            bm = re.fullmatch(
                r"(\w+)\s+BETWEEN\s+('[^']*'|[\w.-]+)\s+AND\s+('[^']*'|[\w.-]+)",
                w,
                re.IGNORECASE,
            )
            em = re.fullmatch(r"(\w+)\s*=\s*('[^']*'|[\w.-]+)", w)
            if bm:
                prune = (bm.group(1), _lit(bm.group(2)), _lit(bm.group(3)))
            elif em:
                v = _lit(em.group(2))
                prune = (em.group(1), v, v)
            else:
                raise ValueError(
                    f"OPTIMIZE WHERE supports 'col = v' and 'col BETWEEN "
                    f"lo AND hi' (file-range scoping), got: {w!r}"
                )
        z = (
            [c.strip() for c in m.group(3).split(",")] if m.group(3) else None
        )
        return self.table(m.group(1)).optimize(
            zorder_by=z, prune=prune, full=bool(m.group(4))
        )

    def _restore(self, s: str) -> int:
        m = re.fullmatch(
            rf"RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)",
            s,
            re.IGNORECASE,
        )
        if m:
            return self.table(m.group(1)).restore(int(m.group(2)))
        m = re.fullmatch(
            rf"RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+TIMESTAMP\s+AS\s+OF\s+"
            r"('[^']*'|\"[^\"]*\"|[\d.]+)",
            s,
            re.IGNORECASE,
        )
        if m:
            t = self.table(m.group(1))
            return t.restore(
                t.version_at_timestamp(self._parse_timestamp_ms(m.group(2)))
            )
        raise ValueError(f"cannot parse RESTORE: {s!r}")

    def _dml_mode(self, t: TxLogTable) -> str:
        """Delta's behavioral property: ``delta.enableDeletionVectors``
        'true' routes SQL DELETE/UPDATE/MERGE to merge-on-read (the DML
        writes vectors + slivers instead of rewriting touched files) —
        exactly how the property drives Delta's own DML. The session cdc
        flag is moot under dv (a DV commit's feed is already row-exact)."""
        return (
            "dv"
            if t.properties().get("delta.enableDeletionVectors") == "true"
            else "cow"
        )

    @staticmethod
    def _parse_tblprops(body: str, with_values: bool) -> dict | list:
        def unq(x: str) -> str:
            x = x.strip()
            return x[1:-1] if x and x[0] in "'\"" and x[-1] == x[0] else x

        items = _split_top_commas(body)
        if with_values:
            out: dict = {}
            for item in items:
                m = re.fullmatch(
                    r"\s*('[^']*'|\"[^\"]*\"|[\w.-]+)\s*=\s*"
                    r"('[^']*'|\"[^\"]*\"|[\w.-]+)\s*",
                    item,
                )
                if not m:
                    raise ValueError(
                        f"cannot parse TBLPROPERTIES item: {item!r}"
                    )
                out[unq(m.group(1))] = unq(m.group(2))
            return out
        keys = []
        for item in items:
            m = re.fullmatch(
                r"\s*('[^']*'|\"[^\"]*\"|[\w.-]+)\s*", item
            )
            if not m:
                raise ValueError(
                    f"cannot parse TBLPROPERTIES key: {item!r}"
                )
            keys.append(unq(m.group(1)))
        return keys

    def _alter(self, s: str) -> int:
        forms = (
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+SET\s+TBLPROPERTIES\s*"
                r"\((.+)\)",
                lambda t, kv: self.table(t).set_properties(
                    self._parse_tblprops(kv, with_values=True)
                ),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+UNSET\s+TBLPROPERTIES\s*"
                r"(?:IF\s+EXISTS\s*)?\((.+)\)",
                lambda t, ks: self.table(t).unset_properties(
                    self._parse_tblprops(ks, with_values=False)
                ),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)",
                lambda t, a, b: self.table(t).rename_column(a, b),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+COLUMN\s+(\w+)",
                lambda t, a: self.table(t).drop_column(a),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+COLUMN\s+(\w+)\s+([\w()\s,]+)",
                lambda t, a, ty: self.table(t).add_column(a, ty.strip().lower()),
            ),
            (
                # Delta's type-widening DDL: ALTER COLUMN c TYPE <wider>
                rf"ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+(\w+)\s+"
                r"TYPE\s+([\w()\s,]+)",
                lambda t, a, ty: self.table(t).alter_column_type(
                    a, ty.strip().lower()
                ),
            ),
            (
                # clustered tables: ALTER TABLE t CLUSTER BY (a, b) /
                # CLUSTER BY NONE un-clusters
                rf"ALTER\s+TABLE\s+({_IDENT})\s+CLUSTER\s+BY\s+NONE",
                lambda t: self.table(t).cluster_by([]),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+CLUSTER\s+BY\s*"
                r"\(([\w\s,]+)\)",
                lambda t, cs: self.table(t).cluster_by(
                    [c.strip() for c in cs.split(",")]
                ),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
                r"CHECK\s*\((.+)\)",
                lambda t, n, e: self.table(t).add_check(n, e),
            ),
            (
                rf"ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+CONSTRAINT\s+(\w+)",
                lambda t, n: self.table(t).drop_check(n),
            ),
        )
        for pat, fn in forms:
            m = re.fullmatch(pat, s, re.IGNORECASE | re.DOTALL)
            if m:
                return fn(*m.groups())
        raise ValueError(f"cannot parse ALTER TABLE: {s!r}")

    def _vacuum(self, s: str) -> list[str]:
        m = re.fullmatch(
            rf"VACUUM\s+({_IDENT})(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
            r"(\s+DRY\s+RUN)?",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse VACUUM: {s!r}")
        retain = int(m.group(2)) if m.group(2) else 1
        return self.table(m.group(1)).vacuum(
            retain_versions=retain, dry_run=bool(m.group(3))
        )

    @staticmethod
    def _parse_timestamp_ms(raw: str) -> int:
        """A TIMESTAMP AS OF literal -> epoch milliseconds: BARE numeric
        literals are epoch SECONDS (fractions allowed); QUOTED strings
        always parse as ISO-8601 — '2026' must not silently become
        epoch-second 2026 (naive values use the local clock, matching
        datetime.timestamp(), the same convention file mtimes carry)."""
        import datetime as _dt

        v = raw.strip()
        quoted = bool(v) and v[0] in "'\""
        if quoted:
            v = v[1:-1]
        else:
            try:
                return int(float(v) * 1000)
            except ValueError:
                pass
        return int(_dt.datetime.fromisoformat(v).timestamp() * 1000)

    def _select(self, s: str) -> DataFrame:
        """Run a SELECT whose FROM references bound txlog tables, with
        Delta's time-travel clause: ``FROM t [VERSION AS OF n]``. Each
        referenced table's snapshot registers as a temp view named after
        its binding, then the (clause-stripped) statement runs through
        plain Spark SQL — the query plan IS Spark's, this layer only
        resolves the table names and versions."""
        import uuid as _uuid

        # every snapshot registers under a UNIQUE internal view name and
        # the statement is rewritten to reference it — a plain
        # createOrReplaceTempView(binding_name) would silently clobber
        # any pre-existing user temp view of the same name in the shared
        # SparkSession. The internal views are dropped after analysis
        # (spark.sql resolves the plan eagerly; execution later does not
        # re-resolve the view names).
        tag = _uuid.uuid4().hex[:8]
        versioned: set[tuple[str, int]] = set()

        def _strip(m: re.Match) -> str:
            name = m.group(1)
            if name.lower() in self._tables:
                v = int(m.group(2))
                versioned.add((name.lower(), v))
                # distinct view per (table, version): the same table may
                # appear at several versions in one query (e.g. a
                # current-vs-v0 self-join)
                return f" {name.lower()}__v{v}__{tag} "
            return m.group(0)

        def _guard_literals(text: str, fn):
            """Suppress a sub-callback for matches whose TABLE NAME sits
            inside a string literal — the shared-mask discipline every
            scanner in this module follows (a prior review flagged an
            unmasked scanner corrupting literals; the time-travel
            clauses can't use plain _LITERAL_RE segmentation because a
            TIMESTAMP AS OF match legitimately ENDS in a literal)."""
            lit, _d = _sql_mask(text)

            def wrapped(m: re.Match) -> str:
                if lit[m.start(1)]:
                    return m.group(0)
                return fn(m)

            return wrapped

        def _ts_to_version(m: re.Match) -> str:
            name = m.group(1)
            if name.lower() not in self._tables:
                return m.group(0)
            v = self.table(name).version_at_timestamp(
                self._parse_timestamp_ms(m.group(2))
            )
            return f" {name} VERSION AS OF {v} "

        # TIMESTAMP AS OF resolves to a version FIRST, then rides the
        # same versioned-view machinery as VERSION AS OF
        padded = f" {s} "
        pre = re.sub(
            rf"\s({_IDENT})\s+TIMESTAMP\s+AS\s+OF\s+"
            r"('[^']*'|\"[^\"]*\"|[\d.]+)",
            _guard_literals(padded, _ts_to_version),
            padded,
            flags=re.IGNORECASE,
        )
        body = re.sub(
            rf"\s({_IDENT})\s+VERSION\s+AS\s+OF\s+(\d+)\b",
            _guard_literals(pre, _strip),
            pre,
            flags=re.IGNORECASE,
        ).strip()
        # Delta's table_changes(name, lo[, hi]) TVF: each call resolves
        # to a read_changes view under a unique internal name (function
        # calls cannot be left for Spark SQL to resolve; literals are
        # protected by the shared mask regex)
        tc_views: list[tuple[str, int, int | None]] = []

        def _strip_tc(text: str) -> str:
            parts = _LITERAL_RE.split(text)
            out = []
            for seg in parts:
                if seg is None:
                    continue
                if seg and seg[0] in "'\"":
                    out.append(seg)
                    continue

                def sub(m: re.Match) -> str:
                    name = m.group(1).lower()
                    if name not in self._tables:
                        return m.group(0)
                    lo = int(m.group(2))
                    hi = int(m.group(3)) if m.group(3) else None
                    tc_views.append((name, lo, hi))
                    tail = "latest" if hi is None else str(hi)
                    return f" {name}__tc{lo}_{tail}__{tag} "

                out.append(
                    re.sub(
                        r"TABLE_CHANGES\s*\(\s*'?(\w+)'?\s*,\s*(\d+)"
                        r"\s*(?:,\s*(\d+))?\s*\)",
                        sub,
                        seg,
                        flags=re.IGNORECASE,
                    )
                )
            return "".join(out)

        body = _strip_tc(body)
        # bound names the statement mentions as a WORD outside string
        # literals (single- or double-quoted — Spark's default parser
        # treats both as literals). Used only to decide WHICH snapshots
        # to register; the statement text itself is never rewritten, so
        # a column or alias spelled like a bound table cannot be
        # corrupted (review finding: the previous rewrite broke
        # `SELECT status FROM events` with a table bound as `status`
        # and mangled double-quoted literals).
        stripped = _LITERAL_RE.sub(" ", body)
        words = {w.lower() for w in re.findall(r"[A-Za-z_][\w]*", stripped)}
        bare = [n for n in self._tables if n.lower() in words]
        views = []
        saved: list[tuple[str, DataFrame]] = []
        temp_names = {
            tb.name.lower()
            for tb in self.spark.catalog.listTables()
            if tb.isTemporary
        }
        try:
            for name, v in versioned:
                vn = f"{name}__v{v}__{tag}"
                self._tables[name].read_version(v).createOrReplaceTempView(vn)
                views.append(vn)
            for name, lo, hi in tc_views:
                t = self._tables[name]
                tail = "latest" if hi is None else str(hi)
                vn = f"{name}__tc{lo}_{tail}__{tag}"
                t.read_changes(
                    lo, t.version() if hi is None else hi
                ).createOrReplaceTempView(vn)
                views.append(vn)
            for name in bare:
                # the binding name itself hosts the snapshot for this
                # statement; a pre-existing USER temp view of that name
                # is captured (analyzed plan) and re-registered after —
                # spark.sql resolves eagerly, so the returned DataFrame
                # never sees the restore
                if name.lower() in temp_names:
                    saved.append((name, self.spark.table(name)))
                self._tables[name].read().createOrReplaceTempView(name)
                views.append(name)
            return self.spark.sql(body)
        finally:
            for vn in views:
                self.spark.catalog.dropTempView(vn)
            for name, df in saved:
                df.createOrReplaceTempView(name)

    def _detail(self, s: str) -> DataFrame:
        """Delta's ``DESCRIBE DETAIL``: one row of table facts — format,
        current version, live file count and bytes, partition columns,
        active deletion-vector count, CHECK-constraint count. All
        driver-side metadata (log fold + getsize over live files)."""
        import os as _os

        m = re.fullmatch(
            rf"DESCRIBE\s+DETAIL\s+({_IDENT})", s, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"cannot parse DESCRIBE DETAIL: {s!r}")
        t = self.table(m.group(1))
        # ONE log fold yields version, live files, and DV state — three
        # separate accessor calls would re-parse the whole log (and
        # re-read a sidecar'd checkpoint) per field
        version, files, dvs = t._replay_full()
        size = sum(
            _os.path.getsize(_os.path.join(t.path, f))
            for f in files
            if _os.path.exists(_os.path.join(t.path, f))
        )
        row = (
            "txlog",
            t.path,
            int(version),
            len(files),
            int(size),
            list(t.partition_meta()[0]),
            len(dvs),
            len(t.checks()),
            t.properties(),
        )
        return local_df(self.spark, 
            [row],
            "format string, location string, version int, numFiles int, "
            "sizeInBytes bigint, partitionColumns array<string>, "
            "numDeletionVectors int, numCheckConstraints int, "
            "properties map<string,string>",
        )

    def _show_props(self, s: str) -> DataFrame:
        """Delta's ``SHOW TBLPROPERTIES t [('key')]``: all properties as
        (key, value) rows, or one row for the named key (value null when
        unset — Delta returns an error message string there; a typed
        null is the honest relational form)."""
        m = re.fullmatch(
            rf"SHOW\s+TBLPROPERTIES\s+({_IDENT})"
            r"(?:\s*\(\s*('[^']*'|\"[^\"]*\"|[\w.-]+)\s*\))?",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse SHOW TBLPROPERTIES: {s!r}")
        props = self.table(m.group(1)).properties()
        if m.group(2):
            k = m.group(2).strip()
            if k and k[0] in "'\"":
                k = k[1:-1]
            rows = [(k, props.get(k))]
        else:
            rows = sorted(props.items())
        return local_df(self.spark, 
            rows, "key string, value string"
        )

    def _history(self, s: str) -> DataFrame:
        m = re.fullmatch(
            rf"DESCRIBE\s+HISTORY\s+({_IDENT})", s, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"cannot parse DESCRIBE HISTORY: {s!r}")
        rows = [
            (int(c["version"]), str(c["op"]), int(c["n_adds"]), int(c["n_removes"]))
            for c in self.table(m.group(1)).history()
        ][::-1]
        return local_df(self.spark, 
            rows, "version int, operation string, n_adds int, n_removes int"
        )
