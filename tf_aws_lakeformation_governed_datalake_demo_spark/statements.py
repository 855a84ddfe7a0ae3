"""Governed SQL-statement grammar — the mutation + introspection verbs.

The reference's entire query modality is SQL strings submitted to a
workgroup (``validate.sh:74-87``), and Athena engine v3 executes
``MERGE INTO`` / ``UPDATE`` / ``DELETE`` / ``OPTIMIZE`` / ``VACUUM``
(plus ``SHOW``/``DESCRIBE`` introspection) against governed Iceberg
tables through that same interface. This module parses those verbs so
:meth:`Engine.sql` can route them to the engine's existing governed
implementations (``sources.lake`` mutations, ``Engine.maintain``'s
grant gate + audit, the materialized-view lifecycle) — closing the
last modality gap with the reference: a reference user's DML strings
run here unchanged.

Design decisions:

- **One grammar table, loud failures.** ``_GRAMMAR`` maps each verb to
  its forms: the form text shown to users, one pattern, and a builder
  that returns the statement dataclass. Each form accepts exactly the
  shape the governed implementation supports (e.g. MERGE requires
  ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` —
  replace-by-key, which is :func:`sources.lake.merge_into`'s
  semantics). Anything else raises :class:`UnsupportedStatementError`
  listing the verb's form texts from the same table, so a refusal
  never drifts from what the parser accepts. A statement the engine
  half-understands must never silently execute something else.
- **Parse only; no execution here.** The module returns frozen
  statement dataclasses; ``Engine._run_statement`` owns dispatch, so
  every gate/audit stays in one place (the engine).
- **Queries pass through.** :func:`parse_statement` returns ``None``
  for SELECT/WITH/VALUES — the existing governance rewrite path
  (catalog._rewrite_sql) handles those.
- **Unknown mutation verbs fail closed.** ``INSERT`` / ``CREATE
  TABLE`` / ``ALTER`` / ``GRANT`` … raise instead of falling through
  to raw ``spark.sql`` where they would run UNGOVERNED against the
  Spark session catalog.

String literals are respected everywhere (a ``WHERE`` inside a quoted
string never splits a clause); comments are blanked before parsing.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, fields
from datetime import datetime, timezone
from typing import Callable, NamedTuple


class UnsupportedStatementError(ValueError):
    """Statement verb or shape outside the governed grammar."""


# Same span rules as the governance rewriter (catalog._SKIP_SPANS):
# single/double-quoted literals (with '' and backslash escapes), line
# comments, block comments.
_SPANS = re.compile(
    r"'(?:[^'\\]|\\.|'')*'" r'|"(?:[^"\\]|\\.)*"' r"|--[^\n]*" r"|/\*.*?\*/",
    re.S,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_QUALIFIED = rf"{_IDENT}\.{_IDENT}"


def _blank_comments(sql: str) -> str:
    """Replace comments with spaces (string literals untouched)."""
    out: list[str] = []
    pos = 0
    for m in _SPANS.finditer(sql):
        out.append(sql[pos : m.start()])
        g = m.group(0)
        out.append(g if g[0] in "'\"" else " " * len(g))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _top_level(text: str):
    """Yield (index, char) at paren AND bracket depth 0, outside string
    literals. Brackets count so the documented multi-element property
    form ``partitioned_by = ARRAY['a','b']`` never splits at the comma
    inside ``ARRAY[...]`` (round-10 ADVICE)."""
    depth = 0
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            m = _SPANS.match(text, i)
            if m is None:  # unterminated literal: stop scanning
                return
            i = m.end()
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            yield i, ch
        i += 1


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on top-level ``sep`` (paren- and literal-aware)."""
    parts: list[str] = []
    last = 0
    for i, ch in _top_level(text):
        if ch == sep:
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return [p.strip() for p in parts]


def _find_keyword(text: str, word: str) -> int:
    """Index of the first top-level, word-boundary ``word`` (case-
    insensitive), or -1."""
    w = word.lower()
    k = len(w)
    for i, ch in _top_level(text):
        if ch.lower() == w[0] and text[i : i + k].lower() == w:
            before_ok = i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
            after = text[i + k : i + k + 1]
            after_ok = after == "" or not (after.isalnum() or after == "_")
            if before_ok and after_ok:
                return i
    return -1


def _balanced_paren_span(text: str, start: int) -> int:
    """``text[start]`` must be '('; return the index just past its
    matching ')'. Literal-aware."""
    if text[start] != "(":
        raise RuntimeError("a balanced span must start at '('")
    depth = 0
    i = start
    n = len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            m = _SPANS.match(text, i)
            if m is None:
                break
            i = m.end()
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise UnsupportedStatementError("unbalanced parentheses in statement")


# ------------------------------------------------------------------ AST
@dataclass(frozen=True)
class MergeStatement:
    target: str  # qualified table
    source_sql: str  # governed SELECT producing the update batch
    key_cols: tuple  # equality key columns from the ON clause


@dataclass(frozen=True)
class DeleteStatement:
    target: str
    predicate: str


@dataclass(frozen=True)
class UpdateStatement:
    target: str
    assignments: tuple  # ((col, expr_sql), ...) in statement order
    predicate: str


@dataclass(frozen=True)
class OptimizeStatement:
    target: str
    mode: str  # "binpack" | "cluster"
    cluster_by: tuple = ()
    # partition-scoped bin-pack (Delta's OPTIMIZE ... WHERE): a
    # predicate over partition columns only; binpack mode only
    where: str | None = None


@dataclass(frozen=True)
class VacuumStatement:
    target: str
    # no default: the parser requires an explicit retention scope —
    # RETAIN n SNAPSHOTS and/or OLDER THAN — history truncation must
    # be asked for (round-10 ADVICE; round-15 adds the age form)
    keep_last: int
    # DRY RUN reports what would be removed without unlinking anything
    dry_run: bool = False
    # age horizon (round-15): exactly one may be set — a relative
    # INTERVAL in seconds (resolved against now at EXECUTION time,
    # the engine computes the epoch) or an absolute TIMESTAMP epoch.
    # None on the pure count form.
    older_than_seconds: float | None = None
    older_than_epoch: float | None = None


@dataclass(frozen=True)
class CreateMVStatement:
    mv: str
    source: str
    group_by: tuple
    measures: tuple  # ((out_col, agg, src_col|None), ...)
    where: str | None = None  # optional source row filter


@dataclass(frozen=True)
class RefreshMVStatement:
    mv: str


@dataclass(frozen=True)
class DropMVStatement:
    mv: str
    purge: bool = False


@dataclass(frozen=True)
class ExplainStatement:
    query_sql: str
    mode: str = "formatted"
    # EXPLAIN ANALYZE (round-15): execute the governed query and
    # return per-operator RUNTIME metrics (the Athena verb; Trino
    # semantics — the query really runs)
    analyze: bool = False


@dataclass(frozen=True)
class RenameColumnStatement:
    target: str
    old: str
    new: str


@dataclass(frozen=True)
class DropColumnStatement:
    """``ALTER TABLE <db.t> DROP COLUMN <col>`` — metadata-only on
    schema-on-read (catalog.drop_column: data untouched, declared
    schema shrinks; referencing views/MVs/filters/constraints refuse,
    partition keys refuse)."""

    target: str
    column: str


@dataclass(frozen=True)
class DescribeFilesStatement:
    """``DESCRIBE FILES <db.t>`` — the Iceberg ``files`` metadata-table
    analog: one row per live data file (relative path, partition dir,
    exact footer row count, on-disk size, adding snapshot version),
    from the manifest for committed tables or the MSCK index / a live
    listing for declared locations — never a data scan."""

    target: str


@dataclass(frozen=True)
class MsckRepairStatement:
    """``MSCK REPAIR TABLE <db.t>`` — index a declared-location
    table's hive layout (catalog.repair_table): nested SHOW
    PARTITIONS + footer row counts that let the metadata-only COUNT
    serve schema-on-read tables, drift falling open to the scan."""

    target: str


@dataclass(frozen=True)
class TruncateTableStatement:
    """``TRUNCATE TABLE <db.t>`` — one zero-file snapshot commit on a
    manifest table (sources.lake.truncate_table): a mutation, not
    erasure — time travel to the pre-truncate version still serves
    every row until vacuum reclaims it."""

    target: str


@dataclass(frozen=True)
class AddConstraintStatement:
    """``ALTER TABLE <db.t> ADD CONSTRAINT <name> CHECK (<expr>)`` —
    Delta's named CHECK constraint: existing data validates FIRST,
    then a metadata-only commit makes every later batch validate
    against it (sources.lake.add_constraint)."""

    target: str
    name: str
    expr: str


@dataclass(frozen=True)
class DropConstraintStatement:
    """``ALTER TABLE <db.t> DROP CONSTRAINT <name>``."""

    target: str
    name: str


@dataclass(frozen=True)
class DropPartitionStatement:
    """``ALTER TABLE <db.t> DROP [IF EXISTS] PARTITION (col=<lit>,
    ...)`` — the hive/Athena partition-retirement verb (the Glue
    partition surface the reference's IAM anticipates,
    main.tf:177-178). Routes to the static-overwrite machinery with
    an EMPTY batch: one atomic manifest commit drops the named
    partition's files from the snapshot (a mutation, not erasure —
    time travel serves the old cut until vacuum). The spec must
    cover every partition key; partition-evolved tables refuse with
    the OPTIMIZE cure."""

    target: str
    spec: tuple  # ((col, literal), ...)
    if_exists: bool = False


@dataclass(frozen=True)
class AddFilesStatement:
    """``ALTER TABLE <db.t> ADD FILES '<dir>'`` — import bulk-landed
    parquet into the manifest layout as one O(new files) commit
    (sources.lake.add_files: layout/schema validated, CHECK
    constraints verified over the new data, footer stats + row counts
    recorded at import)."""

    target: str
    location: str


@dataclass(frozen=True)
class WidenColumnStatement:
    """``ALTER TABLE <db.t> ALTER COLUMN <col> TYPE <type>`` (also the
    Iceberg-flavored ``SET DATA TYPE`` spelling) — safe type widening
    as a metadata-only commit (catalog.widen_column: integral
    up-chain / float->double / decimal precision-up; narrowing and
    cross-family changes refuse; partition keys refuse)."""

    target: str
    column: str
    ddl_type: str


@dataclass(frozen=True)
class AddColumnsStatement:
    target: str
    # ((name, ddl_type, comment|None), ...) — types stay strings here;
    # the engine parses them with Spark's own DDL parser at dispatch
    columns: tuple


@dataclass(frozen=True)
class ShowDatabasesStatement:
    pass


@dataclass(frozen=True)
class ShowViewsStatement:
    database: str | None = None


@dataclass(frozen=True)
class CtasStatement:
    target: str
    select_sql: str
    location: str
    partitioned_by: tuple = ()


@dataclass(frozen=True)
class UnloadStatement:
    select_sql: str
    path: str
    format: str = "parquet"
    partitioned_by: tuple = ()


@dataclass(frozen=True)
class CreateViewStatement:
    view: str  # qualified view name
    select_sql: str  # the view body (stored verbatim in the catalog)
    or_replace: bool = False


@dataclass(frozen=True)
class DropViewStatement:
    view: str
    if_exists: bool = False


@dataclass(frozen=True)
class InsertStatement:
    target: str  # qualified table
    columns: tuple  # () = positional against the full declared schema
    source_sql: str  # SELECT/WITH/VALUES producing the batch
    # INSERT OVERWRITE (dynamic-partition overwrite): replace exactly
    # the hive partitions present in the batch, atomically. Full-width
    # only (no column list) — an overwrite writes whole rows.
    overwrite: bool = False
    # static-partition form (round-13): PARTITION (col='val', ...) —
    # the named partition is replaced, the select supplies the
    # NON-partition columns (hive semantics), and the spec must cover
    # every partition key (mixed static/dynamic refuses)
    static_partition: tuple = ()


@dataclass(frozen=True)
class PrepareStatement:
    name: str
    statement_sql: str  # template with ? placeholders


@dataclass(frozen=True)
class ExecuteStatement:
    name: str
    params: tuple  # parsed literal values, statement order


@dataclass(frozen=True)
class ShowTablesStatement:
    database: str | None = None


@dataclass(frozen=True)
class ShowPartitionsStatement:
    target: str


@dataclass(frozen=True)
class ShowStatsStatement:
    """SHOW STATS [FOR] <db.table> (round-15; r14 What's missing #2):
    the governed READ surface for what ANALYZE computes — Trino's
    ``SHOW STATS FOR`` / the Athena console's table-stats panel.
    Metadata-only by construction (TableDef.stats + manifest footer
    counts); the engine applies DESCRIBE's column redaction plus the
    ANALYZE reasoning for row-filtered principals."""

    target: str


@dataclass(frozen=True)
class DescribeStatement:
    target: str


@dataclass(frozen=True)
class DescribeHistoryStatement:
    target: str


@dataclass(frozen=True)
class DescribeDetailStatement:
    """``DESCRIBE DETAIL <db.table>`` — Delta's one-row table-metadata
    summary (format, location, layout, current snapshot facts),
    answered from the catalog + manifest alone (metadata-only)."""

    target: str


@dataclass(frozen=True)
class ShowGrantsStatement:
    """``SHOW GRANTS [FOR <principal>] ON <db.table-or-view>`` — the
    Lake Formation permissions-console view. A non-admin may list only
    their OWN grants (omitting FOR, or naming themselves); an admin may
    inspect any principal's."""

    target: str
    principal: str | None = None


@dataclass(frozen=True)
class CloneStatement:
    """``CREATE TABLE <db.t> CLONE <db.src> [VERSION AS OF <n>] WITH
    (external_location = '<path>')`` — zero-copy snapshot clone
    (Engine.clone_table). Location is explicit like CTAS: this
    engine's tables are external."""

    target: str
    source: str
    version: int | None
    location: str


@dataclass(frozen=True)
class AnalyzeStatement:
    """``ANALYZE TABLE <db.t> COMPUTE STATISTICS [FOR COLUMNS c, ...
    | FOR ALL COLUMNS]`` — Spark's own CBO-stats verb, routed to
    Engine.analyze_table. ``columns=()`` computes the row count only;
    ``("*",)`` is the FOR ALL COLUMNS marker."""

    target: str
    columns: tuple = ()


@dataclass(frozen=True)
class DescribeDatabaseStatement:
    """``DESCRIBE DATABASE|SCHEMA <db>`` — name, comment, and the
    principal's VISIBLE table count (the SHOW TABLES rule: governance
    hides what they hold no grant on)."""

    name: str


@dataclass(frozen=True)
class ShowCreateTableStatement:
    """``SHOW CREATE TABLE <db.t-or-view>`` — the console's
    copy-the-DDL verb: reconstructs the column-list CREATE EXTERNAL
    TABLE (or the stored CREATE VIEW) from catalog metadata. Redaction
    follows DESCRIBE: columns outside every grant rectangle are
    omitted for conditioned principals."""

    target: str


@dataclass(frozen=True)
class ShowColumnsStatement:
    """``SHOW COLUMNS IN|FROM <db.t>`` — column names only, DESCRIBE's
    redaction rules."""

    target: str


@dataclass(frozen=True)
class CreateDatabaseStatement:
    """``CREATE DATABASE [IF NOT EXISTS] <name> [COMMENT '<text>']`` —
    the reference's provisioning object (``aws_glue_catalog_database``,
    main.tf:291-300) as the DDL a console user pastes. Admin-gated:
    database creation is lake provisioning."""

    name: str
    if_not_exists: bool = False
    comment: str | None = None


@dataclass(frozen=True)
class CreateTableStatement:
    """Column-list ``CREATE [EXTERNAL] TABLE [IF NOT EXISTS] <db.t>
    (col type [COMMENT '...'], ...) [PARTITIONED BY (col type, ...)]
    [STORED AS PARQUET] LOCATION '<path>'`` — the reference's own
    table object (``aws_glue_catalog_table``, main.tf:303-372) as
    Athena DDL. Schema-on-read: declares catalog metadata only; data
    arrives out-of-band (upload_sample.sh:27). Partition columns are
    declared separately with types, hive-style, and append to the
    declared schema."""

    target: str
    columns: tuple  # ((name, type_ddl, comment|None), ...)
    location: str
    partitioned_by: tuple = ()  # ((name, type_ddl, comment|None), ...)
    if_not_exists: bool = False


@dataclass(frozen=True)
class CreateTableLikeStatement:
    """``CREATE TABLE [IF NOT EXISTS] <db.t> LIKE <db.src> LOCATION
    '<path>'`` — declare a new EMPTY external table with the source's
    structure (schema, partition keys, comments, column tags, pending
    quarantine — the CLONE rule: classification travels with the
    schema; policy objects and data do not copy)."""

    target: str
    source: str
    location: str
    if_not_exists: bool = False


@dataclass(frozen=True)
class DropTableStatement:
    """``DROP TABLE [IF EXISTS] <db.t>`` — Glue DeleteTable: removes
    the catalog entry (and every grant on it — a later re-register
    must not resurrect old access); EXTERNAL semantics leave the data
    files untouched."""

    target: str
    if_exists: bool = False


@dataclass(frozen=True)
class GrantStatement:
    """``GRANT <SELECT|ALL> ON <db.obj> TO <principal>`` — the Lake
    Formation permission mutation (``aws_lakeformation_permissions``,
    main.tf:460-487) as governed SQL. Admin-gated, audited verbatim."""

    permission: str
    target: str
    principal: str


@dataclass(frozen=True)
class RevokeStatement:
    """``REVOKE [<perm>] ON <db.obj> FROM <principal>`` — routed to
    catalog.revoke; enforcement is immediate (fingerprint churn kills
    every cached result). Omitting the permission revokes every grant
    the principal holds on the object."""

    permission: str | None
    target: str
    principal: str


Statement = (
    AnalyzeStatement,
    DescribeDetailStatement,
    CreateDatabaseStatement,
    CreateTableStatement,
    CreateTableLikeStatement,
    DropTableStatement,
    GrantStatement,
    RevokeStatement,
    ShowCreateTableStatement,
    ShowColumnsStatement,
    DescribeDatabaseStatement,
    DropColumnStatement,
    CloneStatement,
    ShowGrantsStatement,
    AddColumnsStatement,
    ShowDatabasesStatement,
    ShowViewsStatement,
    CreateViewStatement,
    DropViewStatement,
    InsertStatement,
    PrepareStatement,
    ExecuteStatement,
    CtasStatement,
    UnloadStatement,
    ExplainStatement,
    RenameColumnStatement,
    MergeStatement,
    DeleteStatement,
    UpdateStatement,
    OptimizeStatement,
    VacuumStatement,
    CreateMVStatement,
    RefreshMVStatement,
    DropMVStatement,
    ShowTablesStatement,
    ShowPartitionsStatement,
    ShowStatsStatement,
    DescribeStatement,
    DescribeHistoryStatement,
)


# ------------------------------------------------------------- parsers
def _parse_merge(m: re.Match) -> MergeStatement:
    target, t_alias, rest = m["target"], m["alias"], m["rest"]
    if rest.startswith("("):
        end = _balanced_paren_span(rest, 0)
        source_sql = rest[1 : end - 1].strip()
        rest = rest[end:].lstrip()
    else:
        ms = re.match(rf"({_QUALIFIED})", rest)
        if not ms:
            raise _refusal("merge")
        source_sql = f"SELECT * FROM {ms.group(1)}"
        rest = rest[ms.end() :].lstrip()
    ma = re.match(rf"(?:as\s+)?({_IDENT})\s+on\s+", rest, re.I)
    if not ma:
        raise _refusal("merge", "MERGE source needs an alias before ON")
    s_alias = ma.group(1)
    rest = rest[ma.end() :]
    when_at = _find_keyword(rest, "when")
    if when_at < 0:
        raise _refusal("merge")
    cond, clauses = rest[:when_at].strip(), rest[when_at:].strip()
    if not re.fullmatch(
        r"when\s+matched\s+then\s+update\s+set\s*\*\s*"
        r"when\s+not\s+matched\s+then\s+insert\s*\*",
        clauses,
        re.I,
    ):
        raise UnsupportedStatementError(
            "MERGE supports exactly WHEN MATCHED THEN UPDATE SET * WHEN "
            "NOT MATCHED THEN INSERT * (replace-by-key, merge_into's "
            "semantics); conditional/partial clauses are not in the "
            "governed grammar"
        )
    t_names = {target.split(".", 1)[1].lower()}
    if t_alias:
        t_names.add(t_alias.lower())
    keys: list[str] = []
    for conj in re.split(r"\s+and\s+", cond, flags=re.I):
        me = re.fullmatch(
            rf"\s*({_IDENT})\.({_IDENT})\s*=\s*({_IDENT})\.({_IDENT})\s*",
            conj,
        )
        if not me:
            raise UnsupportedStatementError(
                f"MERGE ON must be a conjunction of alias.col = alias.col "
                f"equalities (got {conj.strip()!r})"
            )
        a1, c1, a2, c2 = me.groups()
        if c1.lower() != c2.lower():
            raise UnsupportedStatementError(
                f"MERGE key columns must have the same name on both sides "
                f"(got {c1} = {c2}); alias the source select accordingly"
            )
        sides = {a1.lower(), a2.lower()}
        if not (sides & t_names) or s_alias.lower() not in sides:
            raise UnsupportedStatementError(
                f"MERGE ON term {conj.strip()!r} must compare the target "
                f"({'/'.join(sorted(t_names))}) with the source ({s_alias})"
            )
        keys.append(c1)
    return MergeStatement(target, source_sql, tuple(keys))


def _parse_update(m: re.Match) -> UpdateStatement:
    target, rest = m["target"], m["rest"]
    where_at = _find_keyword(rest, "where")
    if where_at < 0:
        raise UnsupportedStatementError(
            "UPDATE requires an explicit WHERE (use WHERE TRUE for the "
            "whole table — a full-table rewrite must be asked for)"
        )
    set_text, predicate = rest[:where_at], rest[where_at + 5 :].strip()
    if not predicate:
        raise UnsupportedStatementError("empty WHERE predicate")
    assignments: list[tuple] = []
    for item in _split_top(set_text):
        ma = re.fullmatch(rf"({_IDENT})\s*=\s*(.+)", item, re.S)
        if not ma:
            raise UnsupportedStatementError(
                f"SET item {item!r} is not <col> = <expr>"
            )
        assignments.append((ma.group(1), ma.group(2).strip()))
    cols = [c for c, _ in assignments]
    if len(set(cols)) != len(cols):
        raise UnsupportedStatementError("duplicate column in SET list")
    return UpdateStatement(target, tuple(assignments), predicate)


def _parse_create_mv(m: re.Match) -> CreateMVStatement:
    mv, rest = m["mv"], m["rest"]
    from_at = _find_keyword(rest, "from")
    if from_at < 0:
        raise _refusal("create")
    select_list = rest[:from_at]
    rest = rest[from_at + 4 :].strip()
    mf = re.match(rf"({_QUALIFIED})\s+", rest)
    if not mf:
        raise _refusal("create", "MV source must be one table with GROUP BY")
    source = mf.group(1)
    tail = rest[mf.end() :]
    gb_at = _find_keyword(tail, "group")
    if gb_at < 0:
        raise _refusal("create", "MV needs GROUP BY")
    where_clause = None
    head_part = tail[:gb_at].strip()
    if head_part:
        mw = re.match(r"where\s+(.+)$", head_part, re.I | re.S)
        if not mw:
            raise _refusal(
                "create",
                f"unrecognized clause {head_part!r} between FROM and GROUP BY",
            )
        where_clause = mw.group(1).strip()
    mg = re.match(r"group\s+by\s+(.+)$", tail[gb_at:], re.I | re.S)
    if not mg:
        raise _refusal("create", "MV needs GROUP BY <cols>")
    group_by = tuple(
        g.strip() for g in _split_top(mg.group(1)) if g.strip()
    )
    for g in group_by:
        if not re.fullmatch(_IDENT, g):
            raise UnsupportedStatementError(
                f"GROUP BY must name plain columns (got {g!r})"
            )
    seen_group: list[str] = []
    measures: list[tuple] = []
    for item in _split_top(select_list):
        if re.fullmatch(_IDENT, item):
            if item not in group_by:
                raise UnsupportedStatementError(
                    f"bare select column {item!r} must appear in GROUP BY"
                )
            seen_group.append(item)
            continue
        ma = re.fullmatch(
            rf"(count)\s*\(\s*\*\s*\)\s+as\s+({_IDENT})"
            rf"|(sum|avg|approx_count_distinct)\s*\(\s*({_IDENT})\s*\)"
            rf"\s+as\s+({_IDENT})",
            item,
            re.I,
        )
        if not ma:
            raise UnsupportedStatementError(
                f"MV measures are count(*)/sum(col)/avg(col)/"
                f"approx_count_distinct(col) AS alias — the "
                f"incrementally-refreshable set (got {item!r}); min/max "
                f"need a full re-create by design"
            )
        if ma.group(1):
            measures.append((ma.group(2), "count", None))
        else:
            measures.append((ma.group(5), ma.group(3).lower(), ma.group(4)))
    if sorted(seen_group) != sorted(group_by):
        raise UnsupportedStatementError(
            "the select list must carry exactly the GROUP BY columns"
        )
    if not measures:
        raise UnsupportedStatementError("MV needs at least one measure")
    # duplicate output aliases would silently drop all but one measure
    # in the engine's {out: (agg, col)} dispatch — loud failure instead
    # (round-10 ADVICE); group-column collisions are ambiguous the same way
    aliases = [out for out, _agg, _col in measures]
    dupes = sorted(
        {a for a in aliases if aliases.count(a) > 1}
        | (set(aliases) & set(group_by))
    )
    if dupes:
        raise UnsupportedStatementError(
            f"duplicate MV output name(s) {dupes}: every measure alias "
            "must be unique and distinct from the GROUP BY columns"
        )
    return CreateMVStatement(
        mv, source, group_by, tuple(measures), where_clause
    )


def _parse_props(text: str) -> dict:
    """Athena WITH-property list: ``k = 'v'`` or ``k = ARRAY['a','b']``
    items, comma-separated (paren/literal-aware). Keys lowercase;
    ARRAY values become tuples."""
    props: dict = {}
    if not text.strip():
        return props
    for item in _split_top(text):
        m = re.fullmatch(
            r"(\w+)\s*=\s*(?:'([^']*)'"
            r"|array\s*\[([^\]]*)\])",
            item,
            re.I | re.S,
        )
        if not m:
            raise UnsupportedStatementError(
                f"WITH property {item!r} is not k = 'v' or k = "
                "ARRAY['a', ...]"
            )
        key = m.group(1).lower()
        if m.group(3) is not None:
            props[key] = tuple(
                v.strip().strip("'") for v in m.group(3).split(",") if v.strip()
            )
        else:
            props[key] = m.group(2)
    return props


def _partition_prop(pby) -> tuple:
    """Validate a parsed ``partitioned_by`` property value: it must be
    the ARRAY form (a tuple from :func:`_parse_props`). A scalar
    ``partitioned_by = 'lang'`` would otherwise iterate per-CHARACTER
    into ``('l','a','n','g')`` and surface as a confusing downstream
    unknown-column error (round-10 ADVICE) — reject at the grammar."""
    if not isinstance(pby, tuple):
        raise UnsupportedStatementError(
            f"partitioned_by must be the ARRAY form — partitioned_by = "
            f"ARRAY['col', ...] (got the scalar {pby!r})"
        )
    return pby


def _parse_ctas(m: re.Match) -> CtasStatement:
    target, rest = m["target"], m["rest"]
    end = _balanced_paren_span(rest, 0)
    props = _parse_props(rest[1 : end - 1])
    rest = rest[end:].strip()
    ma = re.match(r"as\s+(.+)$", rest, re.I | re.S)
    if not ma:
        raise _refusal("create")
    location = props.pop("external_location", None)
    if not location:
        raise UnsupportedStatementError(
            "CTAS requires external_location = '<path>' (this engine's "
            "tables are external, like the reference's Glue tables)"
        )
    fmt = (props.pop("format", "parquet") or "parquet").lower()
    if fmt != "parquet":
        raise UnsupportedStatementError(
            f"CTAS format {fmt!r} unsupported (parquet only)"
        )
    pby = _partition_prop(props.pop("partitioned_by", ()))
    if props:
        raise UnsupportedStatementError(
            f"unsupported CTAS propert(ies) {sorted(props)}"
        )
    return CtasStatement(target, ma.group(1).strip(), location, pby)


_COLUMN_ITEM = re.compile(
    # ':' admits struct field lists (struct<a:int,b:string>)
    rf"({_IDENT})\s+([A-Za-z0-9_<>,():\s]+?)"
    r"(?:\s+comment\s+'((?:[^']|'')*)')?",
    re.I | re.S,
)


def _split_columns(body: str) -> list[str]:
    """Split a column list on commas OUTSIDE parens, brackets, angle
    brackets, and string literals — ``map<string,int>`` and
    ``decimal(10,2)`` are one item each."""
    parts: list[str] = []
    depth = 0
    last = 0
    i = 0
    n = len(body)
    while i < n:
        ch = body[i]
        if ch in "'\"":
            m = _SPANS.match(body, i)
            if m is None:
                break
            i = m.end()
            continue
        if ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[last:i])
            last = i + 1
        i += 1
    parts.append(body[last:])
    return [p.strip() for p in parts]


def _parse_column_list(body: str, context: str) -> list[tuple]:
    """Parse ``col type [COMMENT '<text>']`` items (the ADD COLUMNS
    item grammar) from the inside of a parenthesized list."""
    cols: list[tuple] = []
    for item in _split_columns(body):
        mc = _COLUMN_ITEM.fullmatch(item)
        if not mc:
            raise UnsupportedStatementError(
                f"{context} item {item!r} is not <col> <type> "
                "[COMMENT '<text>']"
            )
        comment = (
            mc.group(3).replace("''", "'") if mc.group(3) is not None else None
        )
        cols.append((mc.group(1), mc.group(2).strip(), comment))
    if not cols:
        raise UnsupportedStatementError(f"{context} needs columns")
    return cols


def _parse_create_table(m: re.Match) -> CreateTableStatement:
    """Column-list CREATE [EXTERNAL] TABLE (the reference's own table
    DDL — main.tf:303-372 declares exactly this object; README.md's
    Athena flow pastes it)."""
    body, tail = _paren_body(m["rest"], "CREATE TABLE", trailing=True)
    cols = _parse_column_list(body, "CREATE TABLE column")
    pby: list[tuple] = []
    mp = re.match(r"partitioned\s+by\s*", tail, re.I)
    if mp:
        # hive-style: partition columns are declared OUTSIDE the data
        # column list, with types (main.tf would put sales_region here
        # if the reference partitioned); comments allowed, same item
        # grammar
        body, tail = _paren_body(
            tail[mp.end() :], "PARTITIONED BY", trailing=True
        )
        pby = _parse_column_list(body, "PARTITIONED BY")
    ms = re.match(r"stored\s+as\s+(\w+)\s*", tail, re.I)
    if ms:
        if ms.group(1).lower() != "parquet":
            raise UnsupportedStatementError(
                f"STORED AS {ms.group(1).upper()} unsupported (parquet "
                "only — the reference's lake is parquet throughout, "
                "main.tf:311-328)"
            )
        tail = tail[ms.end() :].strip()
    ml = re.fullmatch(r"location\s+'([^']+)'", tail, re.I)
    if not ml:
        raise _refusal(
            "create",
            "CREATE TABLE requires a LOCATION '<path>' tail (external "
            "schema-on-read tables only)",
        )
    names = [c[0].lower() for c in cols] + [p[0].lower() for p in pby]
    if len(set(names)) != len(names):
        raise UnsupportedStatementError(
            "duplicate column name in CREATE TABLE"
        )
    return CreateTableStatement(
        m["target"],
        tuple(cols),
        ml.group(1),
        tuple(pby),
        m["if_not_exists"] is not None,
    )


_BARE_COUNT = re.compile(
    rf"select\s+count\s*\(\s*\*\s*\)(?:\s+as\s+({_IDENT}))?"
    rf"\s+from\s+({_QUALIFIED})",
    re.I,
)


def parse_bare_count(sql: str):
    """Match the exactly-servable metadata-count shape (round-13;
    closes r12 What's missing #3): ``SELECT count(*) [AS alias] FROM
    <db.t>`` with NOTHING else — no WHERE, joins, grouping, set ops,
    time travel. Returns ``(alias | None, qualified_table)`` or
    ``None`` (caller plans the ordinary scan). The shape mirrors what
    Athena/Iceberg/Delta answer from statistics."""
    try:
        text = _blank_comments(sql).strip()
    except Exception:
        return None
    while text.endswith(";"):
        text = text[:-1].rstrip()
    m = _BARE_COUNT.fullmatch(text)
    if not m:
        return None
    return m.group(1), m.group(2)


_QUERY_VERBS = ("select", "with", "values")


def parse_aggregate_query(sql: str):
    """Best-effort parse of the MV-SERVABLE aggregate shape (round-11
    transparent MV rewrite):

        SELECT <group cols>, count(*)/sum(col)/avg(col) AS alias [...]
        FROM <db.table> [WHERE <pred>] GROUP BY <group cols>

        [ORDER BY <col [ASC|DESC]>, ...] [LIMIT <n>]

    Returns ``(source, group_by, measures, where, order_by, limit)``
    with ``measures`` = ``((alias, agg, col|None), ...)`` and
    ``order_by`` = ``((col, ascending), ...)`` over group columns or
    measure aliases — or ``None`` for ANY other shape: HAVING,
    subqueries, joins, expression sort keys, and
    approx_count_distinct (Spark's HLL++ and the MV's Datasketches
    sketch estimate differently, so serving one for the other would be
    silently wrong). Never raises: the caller falls back to the
    ordinary governed scan.
    """
    try:
        text = _blank_comments(sql).strip()
        while text.endswith(";"):
            text = text[:-1].rstrip()
        m = re.match(r"select\s+", text, re.I)
        if not m:
            return None
        rest = text[m.end() :]
        from_at = _find_keyword(rest, "from")
        if from_at < 0:
            return None
        select_list = rest[:from_at]
        rest = rest[from_at + 4 :].strip()
        mf = re.match(rf"({_QUALIFIED})(\s|$)", rest)
        if not mf:
            return None
        source = mf.group(1)
        tail = rest[mf.end() :]
        gb_at = _find_keyword(tail, "group")
        if gb_at < 0:
            return None
        where = None
        head_part = tail[:gb_at].strip()
        if head_part:
            mw = re.match(r"where\s+(.+)$", head_part, re.I | re.S)
            if not mw:
                return None
            where = mw.group(1).strip()
        gb_text = tail[gb_at:]
        order_by: tuple = ()
        limit = None
        ml = re.search(r"\s+limit\s+(\d+)\s*$", gb_text, re.I)
        if ml:
            limit = int(ml.group(1))
            gb_text = gb_text[: ml.start()]
        ob_at = _find_keyword(gb_text, "order")
        if ob_at >= 0:
            mo = re.fullmatch(
                r"order\s+by\s+(.+?)\s*", gb_text[ob_at:], re.I | re.S
            )
            if not mo:
                return None
            items = []
            for it in _split_top(mo.group(1)):
                mi = re.fullmatch(
                    rf"({_IDENT})(?:\s+(asc|desc))?", it.strip(), re.I
                )
                if not mi:
                    return None
                items.append(
                    (mi.group(1), (mi.group(2) or "asc").lower() == "asc")
                )
            order_by = tuple(items)
            gb_text = gb_text[:ob_at]
        mg = re.fullmatch(r"group\s+by\s+(.+?)\s*", gb_text, re.I | re.S)
        if not mg:
            return None
        group_by = tuple(
            g.strip() for g in _split_top(mg.group(1)) if g.strip()
        )
        if not group_by or not all(
            re.fullmatch(_IDENT, g) for g in group_by
        ):
            return None
        seen_group: list[str] = []
        measures: list[tuple] = []
        for item in _split_top(select_list):
            if re.fullmatch(_IDENT, item):
                if item not in group_by:
                    return None
                seen_group.append(item)
                continue
            ma = re.fullmatch(
                rf"(count)\s*\(\s*\*\s*\)\s+as\s+({_IDENT})"
                rf"|(sum|avg)\s*\(\s*({_IDENT})\s*\)\s+as\s+({_IDENT})",
                item,
                re.I,
            )
            if not ma:
                return None
            if ma.group(1):
                measures.append((ma.group(2), "count", None))
            else:
                measures.append(
                    (ma.group(5), ma.group(3).lower(), ma.group(4))
                )
        if sorted(seen_group) != sorted(group_by) or not measures:
            return None
        aliases = [out for out, _a, _c in measures]
        if len(set(aliases)) != len(aliases) or set(aliases) & set(group_by):
            return None
        if any(
            c not in group_by and c not in aliases for c, _asc in order_by
        ):
            return None
        return source, group_by, tuple(measures), where, order_by, limit
    except UnsupportedStatementError:
        return None


_SQL_PRED_KEYWORDS = frozenset(
    "and or not in between like is null true false".split()
)

# an IN-list whose every element is a literal, seen AFTER string
# literals are blanked to spaces: only spaces, commas, and plain
# numerics may remain between the parens (no exponents — '1e5' would
# shed an 'e5' token into the identifier scan below; refusing keeps
# the grammar fail-closed)
_LITERAL_IN_LIST = re.compile(r"\bin\s*\(([\s,\-0-9.]*)\)", re.I)


def _blank_literal_in_lists(blanked: str) -> str:
    """Blank ``IN ( <literals only> )`` spans in an already
    literal-blanked predicate, so the finite-disjunction shape passes
    the no-parentheses structural checks (round-13: IN-lists on group
    columns are sound MV residuals — a finite OR served by filtering
    the state). IN-lists containing anything else (subqueries, column
    refs, function calls) keep their parens and fail closed."""
    return _LITERAL_IN_LIST.sub(lambda m: " " * len(m.group(0)), blanked)


def predicate_columns(pred: str) -> set | None:
    """Identifiers a WHERE predicate references, excluding bare SQL
    keywords/literals — or ``None`` when the predicate contains any
    function call or other shape whose semantics we will not guess
    (e.g. ``upper(lang)``). A literal-only ``col IN (...)`` list is
    understood (the list content is data, not structure). Used by the
    MV rewrite to decide whether a predicate filters on group columns
    alone; None = not servable."""
    # blank literals AND comments before ANY structural check — the
    # content of 'de' in ``lang = 'de'`` (parens included) is data,
    # not a column reference or a function call
    blanked = _blank_literal_in_lists(
        _SPANS.sub(lambda m: " " * len(m.group(0)), pred)
    )
    if _find_keyword(pred, "select") >= 0 or "(" in blanked:
        return None
    cols: set = set()
    for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_.]*", blanked):
        if tok.lower() in _SQL_PRED_KEYWORDS:
            continue
        if "." in tok:
            return None  # qualified refs: ambiguous against state cols
        cols.add(tok)
    return cols


def _norm_sql(text: str) -> str:
    """Whitespace-collapsed, lowercased-OUTSIDE-string-literals form of
    a predicate — literals stay byte-exact ('DE' is data, not syntax)."""
    out: list[str] = []
    pos = 0
    for m in _SPANS.finditer(text):
        out.append(re.sub(r"\s+", " ", text[pos : m.start()]).lower())
        g = m.group(0)
        out.append(g if g[0] in "'\"" else " ")
        pos = m.end()
    out.append(re.sub(r"\s+", " ", text[pos:]).lower())
    return "".join(out).strip()


def _split_and_conjuncts(pred: str) -> list | None:
    """Top-level AND conjuncts of a predicate, or ``None`` when the
    shape is outside the provable grammar: any parenthesis other than
    a literal-only IN-list (function calls, subqueries, grouping —
    structure we will not reason about), or a top-level OR/NOT.
    ``col IN ('a','b')`` is admitted (round-13): a finite disjunction
    of literals is one atomic conjunct — the AND split below cannot
    cut inside it because _find_keyword only looks at paren depth 0."""
    blanked = _blank_literal_in_lists(
        _SPANS.sub(lambda m: " " * len(m.group(0)), pred)
    )
    if "(" in blanked or ")" in blanked:
        return None
    if _find_keyword(pred, "or") >= 0 or _find_keyword(pred, "not") >= 0:
        return None
    # BETWEEN's internal AND would shear one conjunct into fragments —
    # refuse the whole predicate (textual-equality serving, which
    # normalizes BEFORE splitting, still covers the exact-match case)
    if _find_keyword(pred, "between") >= 0:
        return None
    parts: list[str] = []
    text = pred
    while True:
        at = _find_keyword(text, "and")
        if at < 0:
            parts.append(text.strip())
            break
        parts.append(text[:at].strip())
        text = text[at + 3 :]
    return parts if all(parts) else None


_CMP_CONJUNCT = re.compile(
    rf"^({_IDENT})\s*(<=|>=|=|<|>)\s*(-?\d+(?:\.\d+)?)$"
)


def _conjunct_implies(q: str, m: str) -> bool:
    """True only when conjunct ``q`` PROVABLY implies conjunct ``m``:
    both must be the simple numeric comparison ``col op literal`` on
    the SAME column, with ``q``'s range contained in ``m``'s. String
    comparisons are refused (collation differs across engines);
    anything unparsed is not implied."""
    pq, pm = _CMP_CONJUNCT.match(q.strip()), _CMP_CONJUNCT.match(m.strip())
    if not pq or not pm or pq.group(1).lower() != pm.group(1).lower():
        return False
    a, opq = float(pq.group(3)), pq.group(2)
    b, opm = float(pm.group(3)), pm.group(2)
    if opm == ">=":
        return opq in (">=", ">", "=") and a >= b
    if opm == ">":
        return (opq == ">" and a >= b) or (opq in (">=", "=") and a > b)
    if opm == "<=":
        return opq in ("<=", "<", "=") and a <= b
    if opm == "<":
        return (opq == "<" and a <= b) or (opq in ("<=", "=") and a < b)
    if opm == "=":
        return opq == "=" and a == b
    return False


def filtered_mv_residual(
    query_where: str | None, mv_where: str, group_cols
) -> str | None:
    """Restricted SOUND predicate implication for filtered-MV serving
    (round-12; closes round-11 What's missing #2).

    A filtered MV's state aggregates exactly the source rows matching
    ``mv_where``; serving a query from it requires the query predicate
    to decompose EXACTLY as ``mv_where AND residual`` with the residual
    constant per state row. Proven shapes only:

    - textual equality (whitespace/identifier-case-normalized, string
      literals byte-exact) — residual ``""``;
    - conjunction superset: every query conjunct either textually
      matches an MV conjunct or references MV GROUP columns only (the
      residual, applied to the state); every MV conjunct is textually
      matched — or numerically implied by a residual conjunct via
      same-column range subsumption (``x > 7`` serves from an
      ``x >= 5`` MV when x is a group column). A residual conjunct
      may be a literal-only ``col IN (...)`` list on a group column
      (round-13; closes r12 What's missing #4): a finite disjunction
      of literals is constant per state row, so serving = filtering
      the state by the same list — the second-most-common dashboard
      predicate after equality.

    Soundness: query_where == AND(matched MV conjuncts) AND residual,
    and mv_where AND residual collapses to the same formula because
    every unmatched MV conjunct is implied by the residual — so
    per group the state's row set equals the query's row set exactly.
    Everything else (OR, NOT, parentheses beyond literal IN-lists,
    function calls, BETWEEN, string ranges, non-group residual
    columns) returns ``None`` and the caller falls back to the
    governed scan.
    """
    if query_where is None:
        return None  # query wants the whole source; the MV is a slice
    if _norm_sql(query_where) == _norm_sql(mv_where):
        return ""
    q_parts = _split_and_conjuncts(query_where)
    m_parts = _split_and_conjuncts(mv_where)
    if not q_parts or not m_parts:
        return None
    m_norm = {_norm_sql(m) for m in m_parts}
    residual: list[str] = []
    matched: set = set()
    for q in q_parts:
        qn = _norm_sql(q)
        if qn in m_norm:
            matched.add(qn)
            continue
        cols = predicate_columns(q)
        if cols is None or not cols <= set(group_cols):
            return None
        residual.append(q)
    for m in m_parts:
        if _norm_sql(m) in matched:
            continue
        if not any(_conjunct_implies(q, m) for q in residual):
            return None
    return " AND ".join(residual)


def _require_query(body: str, context: str) -> str:
    """Validate that ``body`` is a query (SELECT/WITH/VALUES or a
    parenthesized one) and return it stripped."""
    body = body.strip()
    h = re.match(r"[A-Za-z]+", body)
    if not (
        body.startswith("(")
        or (h and h.group(0).lower() in _QUERY_VERBS)
    ):
        raise UnsupportedStatementError(
            f"{context} must be a query (SELECT/WITH/VALUES)"
        )
    return body


def _parse_literal(text: str, what: str = "EXECUTE parameter"):
    """One EXECUTE ... USING parameter or PARTITION value (``what``
    names it in the refusal): a SQL literal only — numbers,
    '...'-quoted strings ('' escapes), TRUE/FALSE/NULL. Expressions are
    refused: parameters are VALUES, and keeping them values is what
    makes the prepared-statement surface injection-proof (the filled
    text re-renders them through the literal-escaping writer)."""
    t = text.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", t, re.S)
    if m:
        return m.group(1).replace("''", "'")
    low = t.lower()
    if low == "null":
        return None
    if low in ("true", "false"):
        return low == "true"
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)(e[+-]?\d+)?", t, re.I):
        return float(t)
    raise UnsupportedStatementError(
        f"{what} {t!r} is not a literal (number, 'string', "
        "TRUE/FALSE, NULL)"
    )


def _paren_body(rest: str, form: str, trailing: bool = False):
    """``rest`` must open with a balanced, non-empty ``(...)``: return
    ``(body, text after the ')')``, both stripped. Text after the span
    refuses unless the form continues (``trailing``)."""
    if not rest.startswith("("):
        raise UnsupportedStatementError(
            f"{form} must be followed by a parenthesized (...) list"
        )
    end = _balanced_paren_span(rest, 0)
    body, after = rest[1 : end - 1].strip(), rest[end:].strip()
    if after and not trailing:
        raise UnsupportedStatementError(
            f"unexpected trailing text after {form} (...)"
        )
    if not body:
        raise UnsupportedStatementError(f"empty {form} (...)")
    return body, after


def _partition_spec(inner: str) -> tuple:
    """The ``col = <literal>, ...`` items of a PARTITION (...) spec —
    one grammar for the static INSERT OVERWRITE and DROP PARTITION."""
    items = []
    for it in _split_top(inner):
        ms = re.fullmatch(rf"({_IDENT})\s*=\s*(.+)", it, re.S)
        if not ms:
            raise UnsupportedStatementError(
                f"PARTITION item {it!r} is not col = <literal>"
            )
        items.append(
            (ms.group(1), _parse_literal(ms.group(2), "PARTITION value"))
        )
    names = [c.lower() for c, _v in items]
    if len(set(names)) != len(names):
        raise UnsupportedStatementError("duplicate column in PARTITION spec")
    return tuple(items)


def _parse_insert_overwrite(m: re.Match) -> InsertStatement:
    # dynamic-partition overwrite: whole rows only — a column list
    # would imply NULL-filling unnamed columns into REPLACED
    # partitions, which is almost never what an overwrite means
    rest = m["rest"]
    static: tuple = ()
    mp = re.match(r"partition\s*", rest, re.I)
    if mp:
        # static-partition form (hive/Athena): PARTITION (col='val',
        # ...) — literals only, the select supplies the remaining columns
        spec, rest = _paren_body(rest[mp.end() :], "PARTITION", trailing=True)
        static = _partition_spec(spec)
    body = _require_query(rest, "the INSERT source")
    return InsertStatement(
        m["target"], (), body, overwrite=True, static_partition=static
    )


def _parse_insert(m: re.Match) -> InsertStatement:
    rest = m["rest"]
    columns: tuple = ()
    if rest.startswith("("):
        # a leading paren is EITHER a column list or a parenthesized
        # query — peek inside: a comma-separated identifier list is the
        # former
        end = _balanced_paren_span(rest, 0)
        inner = rest[1 : end - 1]
        items = _split_top(inner)
        if all(re.fullmatch(_IDENT, it) for it in items):
            columns = tuple(items)
            if len(set(c.lower() for c in columns)) != len(columns):
                raise UnsupportedStatementError(
                    "duplicate column in INSERT column list"
                )
            rest = rest[end:].lstrip()
    body = _require_query(rest, "the INSERT source")
    return InsertStatement(m["target"], columns, body)


_AS_OF_CLAUSE = re.compile(
    rf"({_QUALIFIED})\s+for\s+(?:system_)?(version|timestamp)\s+as\s+of\s+"
    rf"(?:(\d+)|(?:timestamp\s+)?'([^']*)')",
    re.I,
)


def extract_as_of(sql: str):
    """Inline time-travel syntax (the Athena/Iceberg form):

        SELECT ... FROM <db.table> FOR VERSION AS OF <n>
        SELECT ... FROM <db.table> FOR TIMESTAMP AS OF [TIMESTAMP] '<ts>'

    Returns ``(clean_sql, clauses)`` where every clause is stripped down
    to the bare table name and ``clauses`` maps the qualified name to
    ``("version", n)`` or ``("timestamp", iso_string)``. References
    inside string literals/comments are left alone. Naming one table in
    two different AS OF clauses raises (ambiguous pin). SYSTEM_VERSION /
    SYSTEM_TIME spellings are accepted via the SYSTEM_ prefix."""
    spans = [(m.start(), m.end()) for m in _SPANS.finditer(sql)]

    def _in_span(i: int) -> bool:
        return any(a <= i < b for a, b in spans)

    clauses: dict = {}
    out: list[str] = []
    pos = 0
    for m in _AS_OF_CLAUSE.finditer(sql):
        if _in_span(m.start()):
            continue
        q = m.group(1)
        kind = m.group(2).lower()
        val = (
            ("version", int(m.group(3)))
            if kind == "version"
            else ("timestamp", m.group(4))
        )
        if kind == "version" and m.group(3) is None:
            raise UnsupportedStatementError(
                "FOR VERSION AS OF takes an integer snapshot version"
            )
        if kind == "timestamp" and m.group(4) is None:
            raise UnsupportedStatementError(
                "FOR TIMESTAMP AS OF takes a quoted timestamp"
            )
        if q in clauses and clauses[q] != val:
            raise UnsupportedStatementError(
                f"{q} is pinned by two different AS OF clauses"
            )
        clauses[q] = val
        out.append(sql[pos : m.start()])
        out.append(q)
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out), clauses


def split_statements(script: str) -> list[str]:
    """Split a ``;``-separated statement script into its statements
    (literal- and comment-aware: a ``;`` inside a quoted string or a
    comment never splits). Comments are blanked, empty segments
    dropped. Athena runs scripts one statement at a time; this is the
    grammar half of :meth:`Engine.sql_script`."""
    text = _blank_comments(script)
    parts: list[str] = []
    last = 0
    for i, ch in _top_level(text):
        if ch == ";":
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return [p.strip() for p in parts if p.strip()]


# ------------------------------------------------------------- grammar
def _parse_instant(raw: str, clause: str) -> float:
    """Epoch seconds from a quoted instant: epoch seconds, or an ISO
    datetime (naive means UTC)."""
    try:
        return float(raw)
    except ValueError:
        pass
    try:
        dt = datetime.fromisoformat(raw)
    except ValueError as exc:
        raise UnsupportedStatementError(
            f"{clause} takes an ISO datetime or epoch seconds (got {raw!r})"
        ) from exc
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _fields(cls, **convert) -> Callable:
    """Builder for a form whose named groups are ``cls``'s fields. A
    flag field (default ``False``) is set when its group matched;
    ``convert[name]`` maps a matched group's text."""
    flags = {f.name for f in fields(cls) if f.default is False}

    def build(m: re.Match):
        kw = {}
        for name, val in m.groupdict().items():
            if name in flags:
                val = val is not None
            elif val is not None and name in convert:
                val = convert[name](val)
            kw[name] = val
        return cls(**kw)

    return build


def _explain(m: re.Match) -> ExplainStatement:
    # Athena returns the plan as result rows; the plan shown is of the
    # REWRITTEN query (engine.explain), so a principal sees exactly
    # what their governed scan reads
    head = re.match(r"[A-Za-z]+", m["query_sql"])
    if not head or head.group(0).lower() not in _QUERY_VERBS:
        raise UnsupportedStatementError(
            "EXPLAIN supports queries only (SELECT/WITH/VALUES); "
            "statements execute through their own audited verbs"
        )
    return ExplainStatement(m["query_sql"], (m["mode"] or "formatted").lower())


def _add_constraint(m: re.Match) -> AddConstraintStatement:
    expr, _ = _paren_body(m["rest"], "CHECK")
    return AddConstraintStatement(m["target"], m["name"], expr)


def _drop_partition(m: re.Match) -> DropPartitionStatement:
    spec, _ = _paren_body(m["rest"], "PARTITION")
    return DropPartitionStatement(
        m["target"], _partition_spec(spec), m["if_exists"] is not None
    )


def _add_columns(m: re.Match) -> AddColumnsStatement:
    # the Athena/Glue schema-evolution verb — routes to the catalog's
    # fail-closed evolution (new columns land PENDING)
    body, _ = _paren_body(m["rest"], "ADD COLUMNS")
    cols = _parse_column_list(body, "ADD COLUMNS")
    names = [c[0].lower() for c in cols]
    if len(set(names)) != len(names):
        raise UnsupportedStatementError("duplicate column in ADD COLUMNS")
    return AddColumnsStatement(m["target"], tuple(cols))


def _optimize_cluster(m: re.Match) -> OptimizeStatement:
    cols = tuple(c.strip() for c in m["cluster_by"].split(","))
    if not all(re.fullmatch(_IDENT, c) for c in cols):
        raise UnsupportedStatementError("CLUSTER BY takes plain column names")
    return OptimizeStatement(m["target"], "cluster", cols)


_SECONDS = {
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def _vacuum(m: re.Match) -> VacuumStatement:
    if m["keep"] is None and m["interval"] is None and m["instant"] is None:
        # a bare VACUUM would default to keep_last=1 and silently
        # expire ALL time-travel history in one statement; the most
        # destructive setting must be asked for explicitly — the same
        # fail-closed posture as UPDATE's mandatory WHERE. OLDER THAN
        # alone is an equally explicit scope: it keeps the head
        # snapshot plus everything at-or-after the horizon.
        raise UnsupportedStatementError(
            "VACUUM requires an explicit retention scope: RETAIN "
            "<n> SNAPSHOTS and/or OLDER THAN <interval/timestamp> "
            "(destructive retention must be asked for)"
        )
    keep = int(m["keep"]) if m["keep"] is not None else 1
    if keep < 1:
        raise UnsupportedStatementError(
            "VACUUM RETAIN must keep at least 1 snapshot"
        )
    return VacuumStatement(
        m["target"],
        keep,
        m["dry_run"] is not None,
        older_than_seconds=(
            float(m["interval"]) * _SECONDS[m["unit"].lower()]
            if m["interval"] is not None
            else None
        ),
        older_than_epoch=(
            _parse_instant(m["instant"], "VACUUM OLDER THAN TIMESTAMP")
            if m["instant"] is not None
            else None
        ),
    )


def _execute(m: re.Match) -> ExecuteStatement:
    raw = m["params"]
    params = () if raw is None else tuple(map(_parse_literal, _split_top(raw)))
    return ExecuteStatement(m["name"], params)


def _clone(m: re.Match) -> CloneStatement:
    rest = m["rest"]
    version = None
    mv = re.match(r"version\s+as\s+of\s+(\d+)\s*", rest, re.I)
    if mv:
        version = int(mv.group(1))
        rest = rest[mv.end() :]
    mw = re.fullmatch(r"with\s*\((.*)\)", rest, re.I | re.S)
    if not mw:
        raise _refusal("create")
    props = _parse_props(mw.group(1))
    location = props.pop("external_location", None)
    if not location:
        raise UnsupportedStatementError(
            "CLONE requires external_location = '<path>' (clone "
            "tables are external, like CTAS results)"
        )
    if props:
        raise UnsupportedStatementError(
            f"unsupported CLONE propert(ies) {sorted(props)}"
        )
    return CloneStatement(m["target"], m["source"], version, location)


def _unload(m: re.Match) -> UnloadStatement:
    select_sql, tail = _paren_body(m["rest"], "UNLOAD", trailing=True)
    mt = re.fullmatch(
        r"to\s+'([^']+)'\s*(?:with\s*\((.*)\))?", tail, re.I | re.S
    )
    if not mt:
        raise _refusal("unload")
    props = _parse_props(mt.group(2) or "")
    fmt = (props.pop("format", "parquet") or "parquet").lower()
    pby = _partition_prop(props.pop("partitioned_by", ()))
    if props:
        raise UnsupportedStatementError(
            f"unsupported UNLOAD propert(ies) {sorted(props)}"
        )
    return UnloadStatement(select_sql, mt.group(1), fmt, pby)


def _analyze(m: re.Match) -> AnalyzeStatement:
    tail = m["columns"]
    if tail is None:
        return AnalyzeStatement(m["target"])
    if re.fullmatch(r"all\s+columns", tail, re.I):
        return AnalyzeStatement(m["target"], ("*",))
    cols = tuple(_split_top(re.sub(r"^columns\s+", "", tail, flags=re.I)))
    if not all(re.fullmatch(_IDENT, c) for c in cols):
        raise UnsupportedStatementError("FOR COLUMNS takes plain column names")
    if len({c.lower() for c in cols}) != len(cols):
        raise UnsupportedStatementError("duplicate column in FOR COLUMNS")
    return AnalyzeStatement(m["target"], cols)


class _Form(NamedTuple):
    text: str  # the form as shown to users in refusals
    pattern: re.Pattern  # must match the whole (normalised) statement
    build: Callable  # match -> statement dataclass; may refuse


def _form(text: str, pattern: str, build: Callable) -> _Form:
    return _Form(text, re.compile(pattern, re.I | re.S), build)


# pattern pieces shared by many forms; a form whose builder parses the
# tail of the statement itself captures it as the ``rest`` group
_T = rf"(?P<target>{_QUALIFIED})"
_REST = r"(?P<rest>.*)"
_ALTER = rf"alter\s+table\s+{_T}\s+"
_DESC = r"(?:describe|desc)\s+"

# verb -> its forms, tried in order; the first whose pattern matches
# the whole statement owns it
_GRAMMAR: dict[str, tuple[_Form, ...]] = {
    "explain": (
        _form(
            "EXPLAIN ANALYZE <query>",
            r"explain\s+(?P<analyze>analyze)\s+(?P<query_sql>.+)",
            _fields(ExplainStatement),
        ),
        _form(
            "EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST|SIMPLE] <query>",
            r"explain\s+(?:(?P<mode>formatted|extended|codegen|cost|simple)"
            r"\s+)?(?P<query_sql>.+)",
            _explain,
        ),
    ),
    "msck": (
        _form(
            "MSCK REPAIR TABLE <db.table>",
            rf"msck\s+repair\s+table\s+{_T}",
            _fields(MsckRepairStatement),
        ),
    ),
    "truncate": (
        _form(
            "TRUNCATE TABLE <db.table>",
            rf"truncate\s+table\s+{_T}",
            _fields(TruncateTableStatement),
        ),
    ),
    "alter": (
        _form(
            "ALTER TABLE <db.table> RENAME COLUMN <old> TO <new>",
            rf"{_ALTER}rename\s+column\s+(?P<old>{_IDENT})\s+to\s+"
            rf"(?P<new>{_IDENT})",
            _fields(RenameColumnStatement),
        ),
        _form(
            "ALTER TABLE <db.table> DROP COLUMN <col>",
            rf"{_ALTER}drop\s+column\s+(?P<column>{_IDENT})",
            _fields(DropColumnStatement),
        ),
        _form(
            "ALTER TABLE <db.table> ADD FILES '<dir>'",
            rf"{_ALTER}add\s+files\s+'(?P<location>[^']+)'",
            _fields(AddFilesStatement),
        ),
        _form(
            "ALTER TABLE <db.table> ADD CONSTRAINT <name> CHECK (<expr>)",
            rf"{_ALTER}add\s+constraint\s+(?P<name>{_IDENT})\s+check\s*"
            rf"(?P<rest>\(.*)",
            _add_constraint,
        ),
        _form(
            "ALTER TABLE <db.table> DROP CONSTRAINT <name>",
            rf"{_ALTER}drop\s+constraint\s+(?P<name>{_IDENT})",
            _fields(DropConstraintStatement),
        ),
        _form(
            "ALTER TABLE <db.table> DROP [IF EXISTS] PARTITION "
            "(col = <literal>, ...)",
            rf"{_ALTER}drop\s+(?P<if_exists>if\s+exists\s+)?partition\s*"
            rf"(?P<rest>\(.*)",
            _drop_partition,
        ),
        _form(
            "ALTER TABLE <db.table> ALTER COLUMN <col> TYPE <type>",
            # the type text is validated by Spark's own DDL parser at
            # dispatch (catalog.widen_column), same as ADD COLUMNS
            rf"{_ALTER}alter\s+column\s+(?P<column>{_IDENT})\s+"
            r"(?:type|set\s+data\s+type)\s+(?P<ddl_type>.+)",
            _fields(WidenColumnStatement),
        ),
        _form(
            "ALTER TABLE <db.table> ADD COLUMNS "
            "(<col> <type> [COMMENT '<text>'], ...)",
            rf"{_ALTER}add\s+columns\s*(?P<rest>\(.*)",
            _add_columns,
        ),
    ),
    "merge": (
        _form(
            "MERGE INTO <db.table> [AS <t>] USING (<select>) [AS <s>] "
            "ON <t.col = s.col [AND ...]> "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            rf"merge\s+into\s+{_T}\s*(?:as\s+)?(?P<alias>{_IDENT})?\s*"
            rf"using\s*{_REST}",
            _parse_merge,
        ),
    ),
    "update": (
        _form(
            "UPDATE <db.table> SET col = expr[, ...] WHERE <predicate>",
            rf"update\s+{_T}\s+set\s+{_REST}",
            _parse_update,
        ),
    ),
    "delete": (
        _form(
            "DELETE FROM <db.table> WHERE <predicate>",
            rf"delete\s+from\s+{_T}\s+where\s+(?P<predicate>.+)",
            _fields(DeleteStatement),
        ),
    ),
    "optimize": (
        _form(
            "OPTIMIZE <db.table> [REWRITE DATA USING BIN_PACK] "
            "[WHERE <partition predicate>]",
            rf"optimize\s+{_T}"
            r"(?:\s+rewrite\s+data\s+using\s+bin_pack|\s+binpack)?"
            r"(?:\s+where\s+(?P<where>.+))?",
            lambda m: OptimizeStatement(
                m["target"], "binpack", where=m["where"]
            ),
        ),
        _form(
            "OPTIMIZE <db.table> CLUSTER BY (col, ...)",
            rf"optimize\s+{_T}\s+cluster\s+by\s*\((?P<cluster_by>[^)]+)\)",
            _optimize_cluster,
        ),
    ),
    "vacuum": (
        _form(
            "VACUUM <db.table> [RETAIN <n> SNAPSHOTS] [OLDER THAN "
            "INTERVAL '<n>' <unit> | OLDER THAN TIMESTAMP "
            "'<iso-or-epoch>'] [DRY RUN]",
            rf"vacuum\s+{_T}(?:\s+retain\s+(?P<keep>\d+)\s+snapshots)?"
            r"(?:\s+older\s+than\s+(?:interval\s+'(?P<interval>\d+)'\s+"
            r"(?P<unit>second|minute|hour|day|week)s?"
            r"|timestamp\s+'(?P<instant>[^']+)'))?"
            r"(?P<dry_run>\s+dry\s+run)?",
            _vacuum,
        ),
    ),
    "insert": (
        _form(
            "INSERT OVERWRITE [TABLE] <db.table> "
            "[PARTITION (col = <literal>, ...)] <query>",
            rf"insert\s+overwrite\s+(?:table\s+)?{_T}\s*{_REST}",
            _parse_insert_overwrite,
        ),
        _form(
            "INSERT INTO <db.table> [(col, ...)] <query>",
            rf"insert\s+into\s+{_T}\s*{_REST}",
            _parse_insert,
        ),
    ),
    "prepare": (
        _form(
            "PREPARE <name> FROM <statement>",
            rf"prepare\s+(?P<name>{_IDENT})\s+from\s+(?P<statement_sql>.+)",
            _fields(PrepareStatement),
        ),
    ),
    "execute": (
        _form(
            "EXECUTE <name> [USING <literal>, ...]",
            rf"execute\s+(?P<name>{_IDENT})(?:\s+using\s+(?P<params>.+))?",
            _execute,
        ),
    ),
    "create": (
        _form(
            "CREATE DATABASE|SCHEMA [IF NOT EXISTS] <name> "
            "[COMMENT '<text>']",
            r"create\s+(?:database|schema)\s+"
            rf"(?P<if_not_exists>if\s+not\s+exists\s+)?(?P<name>{_IDENT})"
            r"(?:\s+comment\s+'(?P<comment>(?:[^']|'')*)')?",
            _fields(
                CreateDatabaseStatement,
                comment=lambda c: c.replace("''", "'"),
            ),
        ),
        _form(
            "CREATE MATERIALIZED VIEW <db.mv> AS SELECT <group cols>, "
            "count(*) AS a [, sum(col) AS b, avg(col) AS c, "
            "approx_count_distinct(col) AS d ...] "
            "FROM <db.table> [WHERE <predicate>] GROUP BY <group cols>",
            rf"create\s+materialized\s+view\s+(?P<mv>{_QUALIFIED})\s+as\s+"
            rf"select\s+{_REST}",
            _parse_create_mv,
        ),
        _form(
            # the reference's masked-view flow is exactly this DDL
            # pasted into Athena (outputs.tf:44-53, README.md:159-197)
            "CREATE [OR REPLACE] VIEW <db.view> AS <query>",
            r"create\s+(?P<or_replace>or\s+replace\s+)?view\s+"
            rf"(?P<view>{_QUALIFIED})\s+as\s+(?P<select_sql>.*)",
            _fields(
                CreateViewStatement,
                select_sql=lambda b: _require_query(b, "the view body"),
            ),
        ),
        _form(
            "CREATE TABLE <db.table> CLONE <db.source> [VERSION AS OF <n>] "
            "WITH (external_location = '<path>')",
            rf"create\s+table\s+{_T}\s+clone\s+(?P<source>{_QUALIFIED})\s*"
            rf"{_REST}",
            _clone,
        ),
        _form(
            "CREATE [EXTERNAL] TABLE [IF NOT EXISTS] <db.table> "
            "LIKE <db.source> LOCATION '<path>'",
            r"create\s+(?:external\s+)?table\s+"
            rf"(?P<if_not_exists>if\s+not\s+exists\s+)?{_T}\s+like\s+"
            rf"(?P<source>{_QUALIFIED})\s+location\s+'(?P<location>[^']+)'",
            _fields(CreateTableLikeStatement),
        ),
        _form(
            "CREATE [EXTERNAL] TABLE [IF NOT EXISTS] <db.table> "
            "(col type [COMMENT '<text>'], ...) "
            "[PARTITIONED BY (col type, ...)] [STORED AS PARQUET] "
            "LOCATION '<path>'",
            r"create\s+(?:external\s+)?table\s+"
            rf"(?P<if_not_exists>if\s+not\s+exists\s+)?{_T}\s*"
            r"(?P<rest>\(.*)",
            _parse_create_table,
        ),
        _form(
            "CREATE TABLE <db.table> WITH (external_location = '<path>'"
            "[, format = 'PARQUET', partitioned_by = ARRAY['col', ...]]) "
            "AS <query>",
            rf"create\s+table\s+{_T}\s+with\s*(?P<rest>\(.*)",
            _parse_ctas,
        ),
    ),
    "unload": (
        _form(
            "UNLOAD (<query>) TO '<path>' [WITH (format = "
            "'PARQUET'|'CSV'|'JSON'|'ORC'[, partitioned_by = "
            "ARRAY['col', ...]])]",
            r"unload\s*(?P<rest>\(.*)",
            _unload,
        ),
    ),
    "refresh": (
        _form(
            "REFRESH MATERIALIZED VIEW <db.mv>",
            rf"refresh\s+materialized\s+view\s+(?P<mv>{_QUALIFIED})",
            _fields(RefreshMVStatement),
        ),
    ),
    "drop": (
        _form(
            "DROP MATERIALIZED VIEW <db.mv> [PURGE]",
            rf"drop\s+materialized\s+view\s+(?P<mv>{_QUALIFIED})"
            r"(?P<purge>\s+purge)?",
            _fields(DropMVStatement),
        ),
        _form(
            # the reference's cleanup step (README.md:320)
            "DROP VIEW [IF EXISTS] <db.view>",
            r"drop\s+view\s+(?P<if_exists>if\s+exists\s+)?"
            rf"(?P<view>{_QUALIFIED})",
            _fields(DropViewStatement),
        ),
        _form(
            "DROP TABLE [IF EXISTS] <db.table>",
            rf"drop\s+table\s+(?P<if_exists>if\s+exists\s+)?{_T}",
            _fields(DropTableStatement),
        ),
    ),
    "show": (
        _form(
            "SHOW CREATE TABLE <db.table>",
            rf"show\s+create\s+table\s+{_T}",
            _fields(ShowCreateTableStatement),
        ),
        _form(
            "SHOW COLUMNS IN|FROM <db.table>",
            rf"show\s+columns\s+(?:in|from)\s+{_T}",
            _fields(ShowColumnsStatement),
        ),
        _form(
            "SHOW TABLES [IN <db>]",
            rf"show\s+tables(?:\s+in\s+(?P<database>{_IDENT}))?",
            _fields(ShowTablesStatement),
        ),
        _form(
            "SHOW VIEWS [IN <db>]",
            rf"show\s+views(?:\s+in\s+(?P<database>{_IDENT}))?",
            _fields(ShowViewsStatement),
        ),
        _form(
            "SHOW DATABASES|SCHEMAS",
            r"show\s+(?:databases|schemas)",
            _fields(ShowDatabasesStatement),
        ),
        _form(
            "SHOW PARTITIONS <db.table>",
            rf"show\s+partitions\s+{_T}",
            _fields(ShowPartitionsStatement),
        ),
        _form(
            "SHOW STATS [FOR] <db.table>",
            rf"show\s+stats\s+(?:for\s+)?{_T}",
            _fields(ShowStatsStatement),
        ),
        _form(
            "SHOW GRANTS [FOR <principal>] ON <db.table>",
            rf"show\s+grants(?:\s+for\s+(?P<principal>{_IDENT}))?\s+on\s+{_T}",
            _fields(ShowGrantsStatement),
        ),
    ),
    "grant": (
        _form(
            # conditioned grants (data-cells filters, tag excludes)
            # attach through the catalog API, which names the filter
            "GRANT SELECT|ALL ON [TABLE] <db.obj> TO <principal>",
            r"grant\s+(?P<permission>select|all)\s+on\s+(?:table\s+)?"
            rf"{_T}\s+to\s+(?P<principal>{_IDENT})",
            _fields(GrantStatement, permission=str.upper),
        ),
    ),
    "revoke": (
        _form(
            # omitting the permission revokes every grant the principal
            # holds on the object
            "REVOKE [SELECT|ALL] ON [TABLE] <db.obj> FROM <principal>",
            r"revoke\s+(?:(?P<permission>select|all)\s+)?on\s+(?:table\s+)?"
            rf"{_T}\s+from\s+(?P<principal>{_IDENT})",
            _fields(RevokeStatement, permission=str.upper),
        ),
    ),
    "analyze": (
        _form(
            "ANALYZE TABLE <db.table> COMPUTE STATISTICS "
            "[FOR COLUMNS <col>, ... | FOR ALL COLUMNS]",
            rf"analyze\s+table\s+{_T}\s+compute\s+statistics"
            r"(?:\s+for\s+(?P<columns>all\s+columns|columns\s+.+))?",
            _analyze,
        ),
    ),
    "describe": (
        _form(
            "DESCRIBE DATABASE|SCHEMA <db>",
            rf"{_DESC}(?:database|schema)\s+(?P<name>{_IDENT})",
            _fields(DescribeDatabaseStatement),
        ),
        _form(
            "DESCRIBE HISTORY <db.table>",
            rf"{_DESC}history\s+{_T}",
            _fields(DescribeHistoryStatement),
        ),
        _form(
            "DESCRIBE DETAIL <db.table>",
            rf"{_DESC}detail\s+{_T}",
            _fields(DescribeDetailStatement),
        ),
        _form(
            "DESCRIBE FILES <db.table>",
            rf"{_DESC}files\s+{_T}",
            _fields(DescribeFilesStatement),
        ),
        _form(
            "DESCRIBE [TABLE] <db.table>",
            rf"{_DESC}(?:table\s+)?{_T}",
            _fields(DescribeStatement),
        ),
    ),
}
_GRAMMAR["desc"] = _GRAMMAR["describe"]

_ALL_FORMS = " | ".join(
    dict.fromkeys(f.text for forms in _GRAMMAR.values() for f in forms)
)


def _refusal(verb: str, detail: str = "") -> UnsupportedStatementError:
    """The refusal for a ``verb`` statement outside its forms; every
    form text comes from its ``_GRAMMAR`` row."""
    forms = " | ".join(f.text for f in _GRAMMAR[verb])
    return UnsupportedStatementError(
        f"{detail + '; ' if detail else ''}supported {verb.upper()} forms: "
        f"{forms}"
    )


def parse_statement(sql: str):
    """Parse a governed statement.

    Returns ``None`` when ``sql`` is a query (SELECT / WITH / VALUES /
    parenthesized query) — those flow through the governance rewrite.
    Returns a statement dataclass for the forms in ``_GRAMMAR``. Raises
    :class:`UnsupportedStatementError` for anything else: letting an
    unrecognized mutation fall through to raw ``spark.sql`` would run
    it UNGOVERNED against the session catalog (fail closed).
    """
    text = _blank_comments(sql).strip()
    while text.endswith(";"):
        text = text[:-1].rstrip()
    if not text:
        raise UnsupportedStatementError("empty statement")
    head = re.match(r"[A-Za-z]+", text)
    verb = head.group(0).lower() if head else ""
    if text.startswith("(") or verb in (*_QUERY_VERBS, "table"):
        return None
    forms = _GRAMMAR.get(verb)
    if forms is None:
        raise UnsupportedStatementError(
            f"statement verb {verb.upper()!r} is outside the governed "
            f"grammar (supported: SELECT/WITH/VALUES queries | {_ALL_FORMS})"
            "; raw DDL does not run through the governed engine"
        )
    for form in forms:
        m = form.pattern.fullmatch(text)
        if m:
            return form.build(m)
    raise _refusal(verb)
