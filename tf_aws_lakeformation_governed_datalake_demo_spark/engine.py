"""Engine — Athena-like query lifecycle over the governed catalog.

Reproduces the reference's client protocol (``validate.sh:74-163``):
submit (L1) -> status (L2) -> fetch (L3, with row cap O4/S6) -> CSV
results sink (S5), plus the error surface (L4: missing column vs
"not authorized") and per-query audit events (G10).

Execution is synchronous — Spark is in-process — but the query-id /
state-enum API is kept for parity so a reference user can port their
polling client unchanged.
"""

from __future__ import annotations

import enum
import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import statements as _st
from .catalog import GovernedCatalog
from .governance import ALL, PermissionDeniedError, Principal
from .session import is_local, local_frame
from .sources import lake as _lake

# Equi-height histogram resolution for ANALYZE ... FOR COLUMNS
# (Spark CBO's spark.sql.statistics.histogram.numBins defaults to 254;
# 16 keeps the stored stats dict compact while a value holding >=1/16
# of the rows — the skew that matters — still spans >=2 bounds).
HISTOGRAM_BINS = 16


class QueryState(str, enum.Enum):
    """Athena state enum (validate.sh:97-110)."""

    QUEUED = "QUEUED"
    RUNNING = "RUNNING"
    SUCCEEDED = "SUCCEEDED"
    FAILED = "FAILED"
    # Athena's state for a query killed by workgroup enforcement
    # (bytes-scanned cutoff) or user cancel
    CANCELLED = "CANCELLED"


class QueryCapExceededError(RuntimeError):
    """The workgroup's per-query bytes-scanned cutoff would be exceeded
    (Athena ``bytes_scanned_cutoff_per_query`` under
    ``enforce_workgroup_configuration = true``, main.tf:501). Athena
    cancels the query at runtime once the metered bytes cross the cap;
    this engine enforces at PLAN time from the governed scan's planned
    input files — strictly earlier (zero bytes are ever read) and never
    more permissive: planned bytes are what a full read of the pruned
    file set costs, the ceiling of Athena's metered number."""


@dataclass
class QueryExecution:
    query_id: str
    sql: str
    principal: str | None
    state: QueryState = QueryState.QUEUED
    state_change_reason: str | None = None
    result: DataFrame | None = None
    results_path: str | None = None
    tables: list[str] = field(default_factory=list)
    filters_applied: list[str] = field(default_factory=list)
    # what result pages read from: the result itself when it is a local
    # relation, else a lazily-pinned snapshot (never the live plan — see
    # Engine.results_page)
    page_source: DataFrame | None = None
    # query id this execution's result was reused from (L7 result reuse)
    reused_from: str | None = None
    # planned scan bytes (Athena DataScannedInBytes analog) — computed
    # only when the workgroup sets a bytes-scanned cutoff
    bytes_scanned: int | None = None



def _principal_name(principal) -> str | None:
    return principal.name if isinstance(principal, Principal) else principal


def _structure_copy(src, database: str, name: str, location: str):
    """A new table's catalog entry with ``src``'s structure — declared
    schema, format, comments, column tags, partition keys AND its
    pending-column quarantine (a copy must not launder unapproved
    evolved columns into visibility). Policy objects (filters, grants,
    LF tags on the resource) do not travel: the copy is a NEW resource."""
    from .catalog import TableDef

    return TableDef(
        database=database,
        name=name,
        location=location,
        schema=src.schema,
        format=src.format,
        column_comments=dict(src.column_comments),
        column_tags={c: dict(v) for c, v in src.column_tags.items()},
        partition_keys=tuple(src.partition_keys),
        pending_columns=set(src.pending_columns),
    )


class _Action(NamedTuple):
    """One :meth:`Engine.maintain` action's contract: the kwargs it
    requires (passed and not None); the suffix of its audit line,
    rendered from the call's kwargs once every required one is there;
    and, for a verb that must not rewrite derived materialized-view
    state, the verb that refusal names."""

    required: tuple = ()
    suffix: Callable[[dict], str] | None = None
    refuse_mv: str | None = None


def _where(kw: dict) -> str:
    # the erasure/update predicate is recorded VERBATIM: a
    # right-to-be-forgotten trail must show exactly WHAT was deleted,
    # and a denied attempt must show what was attempted
    p = kw.get("predicate")
    return f" WHERE {p}" if p is not None else ""


def _named_at(kw: dict) -> str:
    v = kw.get("to_version")
    return f" {kw['name']}" + (f" AT VERSION {v}" if v is not None else "")


def _constraint(kw: dict) -> str:
    expr = f" CHECK ({kw['expr']})" if "expr" in kw else ""
    return f" {kw['constraint']}{expr}"


_MAINTAIN_ACTIONS = {
    "compact": _Action(),
    "optimize_binpack": _Action(
        suffix=lambda kw: (
            f" WHERE {kw['partition_where']}"
            if kw.get("partition_where")
            else ""
        )
    ),
    "expire_versions": _Action(),
    "vacuum_artifacts": _Action(),
    "delete_rows": _Action((), _where, "maintain('delete_rows')"),
    "delete_rows_mor": _Action((), _where, "maintain('delete_rows_mor')"),
    "update_rows": _Action(
        ("assignments", "predicate"),
        lambda kw: " SET "
        + ", ".join(f"{c} = {e}" for c, e in kw["assignments"].items())
        + _where(kw),
        "maintain('update_rows')",
    ),
    "purge_deletes": _Action(),
    "expire_snapshots": _Action(
        suffix=lambda kw: (
            f" OLDER THAN {kw['older_than']:.3f}"
            if kw.get("older_than") is not None
            else ""
        )
        + (" DRY RUN" if kw.get("dry_run") else "")
    ),
    "rollback": _Action(
        ("to_version",), lambda kw: f" TO VERSION {kw['to_version']}"
    ),
    "evolve_partitioning": _Action(
        ("new_partition_by",),
        lambda kw: f" TO ({', '.join(kw['new_partition_by'])})",
    ),
    "tag": _Action(("name",), _named_at),
    "drop_tag": _Action(("name",), _named_at),
    "create_branch": _Action(("name",)),
    "fast_forward": _Action(("name",)),
    "drop_branch": _Action(("name",)),
    "retrain_ivf": _Action(),
    "rename_column": _Action(
        ("old", "new"), lambda kw: f" {kw['old']} TO {kw['new']}"
    ),
    "drop_column": _Action(("column",), lambda kw: f" {kw['column']}"),
    "widen_column": _Action(
        ("column", "ddl_type"),
        lambda kw: f" {kw['column']} TYPE {kw['ddl_type']}",
        "ALTER COLUMN TYPE",
    ),
    "add_files": _Action(
        ("source",), lambda kw: f" '{kw['source']}'", "ALTER TABLE ADD FILES"
    ),
    "msck_repair": _Action(),
    "truncate": _Action(refuse_mv="TRUNCATE TABLE"),
    "add_constraint": _Action(
        ("constraint", "expr"), _constraint, "ALTER TABLE ADD CONSTRAINT"
    ),
    "drop_constraint": _Action(
        ("constraint",), _constraint, "ALTER TABLE DROP CONSTRAINT"
    ),
    "drop_partition": _Action(
        ("spec",),
        # verbatim-spec trail: the audit shows exactly WHICH partition
        # was retired (or attempted)
        lambda kw: " PARTITION ("
        + ", ".join(f"{c} = {v!r}" for c, v in kw["spec"])
        + ")"
        + (" IF EXISTS" if kw.get("if_exists") else ""),
        "ALTER TABLE DROP PARTITION",
    ),
}


class Engine:
    """Governed SQL execution: ``engine.sql(sql, principal)``.

    ``results_dir`` mirrors the Athena results bucket (main.tf:504-510):
    when set, every successful query's result set is persisted as headered
    CSV under ``<results_dir>/<query_id>/``.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: GovernedCatalog | None = None,
        results_dir: str | Path | None = None,
        bytes_scanned_cutoff_per_query: int | None = None,
    ):
        self.spark = spark
        self.catalog = catalog or GovernedCatalog(spark)
        self.results_dir = Path(results_dir) if results_dir else None
        # L5-ext (round-15): Athena workgroup cost control —
        # ``bytes_scanned_cutoff_per_query`` under
        # ``enforce_workgroup_configuration = true`` (main.tf:501).
        # None = no cap (the reference's own workgroup sets none).
        # Enforced at PLAN time over the governed scan's planned input
        # files (post partition-pruning / manifest skipping), so
        # metadata-served answers (zero-file COUNT, MV state) bill ~0
        # exactly as Athena's metering does.
        self.bytes_scanned_cutoff_per_query = bytes_scanned_cutoff_per_query
        self.executions: dict[str, QueryExecution] = {}
        self._prepared: dict[str, str] = {}
        # L5 — workgroup metrics counters (CloudWatch-metrics analog,
        # main.tf:502 publish_cloudwatch_metrics_enabled)
        self.metrics: dict[str, int] = {
            "queries_submitted": 0,
            "queries_succeeded": 0,
            "queries_failed": 0,
            "queries_denied": 0,
            "queries_reused": 0,
            "queries_cancelled": 0,
            "rows_fetched": 0,
        }
        # L7 result-reuse cache: (principal, RAW sql) -> (query_id,
        # completed_at, governance_fingerprint, {base table: storage
        # fingerprint}). Raw-SQL keying is safe ONLY because a hit also
        # requires the governance fingerprint to be unchanged since the
        # producing run (whose rewrite enforced the then-current grants).
        self._reuse_cache: dict[tuple, tuple] = {}

    # ------------------------------------------------------------- L1-L4
    def submit(
        self,
        sql: str,
        principal: Principal | str | None = None,
        reuse_max_age: float | None = None,
    ) -> str:
        """L1 — submit a query; returns its query id (validate.sh:74-87).

        ``reuse_max_age`` (seconds) opts into L7 result reuse — the
        Athena ``ResultReuseByAgeConfiguration`` analog."""
        qe = self._execute(sql, principal, reuse_max_age=reuse_max_age)
        return qe.query_id

    def status(self, query_id: str) -> QueryState:
        """L2 — poll state (validate.sh:92-110). Synchronous, so terminal."""
        return self.executions[query_id].state

    def state_change_reason(self, query_id: str) -> str | None:
        """L4 — failure reason (validate.sh:170-187)."""
        return self.executions[query_id].state_change_reason

    def results(self, query_id: str, max_rows: int = 100) -> list:
        """L3/S6 — fetch rows, capped like ``--max-items 100``
        (validate.sh:126)."""
        rows, _ = self.results_page(query_id, max_rows)
        return rows

    def results_page(
        self, query_id: str, max_rows: int = 100, next_token: str | None = None
    ) -> tuple[list, str | None]:
        """L3 with pagination — the ``--max-items``/``NextToken`` protocol
        (validate.sh:123-158): returns (rows, next_token), where a
        non-None token resumes the fetch at the next page.

        The token is a plain row offset, applied as ``offset().limit()``
        so only one page ever collects to the client. Pages never read the
        LIVE plan — an unordered plan re-executed per page can duplicate
        or skip rows across pages (round-3 ADVICE). Pages read a one-time
        ``localCheckpoint`` of the result pinned on first fetch, never
        the persisted CSV: a CSV round-trip is lossy at the edges
        (embedded newlines split rows unless multiLine is set; empty
        string vs NULL collapse under the default nullValue — round-4
        ADVICE), while the checkpoint is bit-exact and every page sees
        the same frozen row order. The CSV stays what it is in Athena:
        the durable result artifact (S5), not the paging source.

        A result whose optimized plan is a ``LocalRelation`` (a
        statement result or a metadata answer, built on the driver by
        :func:`~.session.local_frame`) is served without the pin: its
        rows already sit on the driver in a fixed order, and a page
        over them runs no Spark job.
        """
        qe = self.executions[query_id]
        if qe.state is not QueryState.SUCCEEDED or qe.result is None:
            raise RuntimeError(
                f"query {query_id} is {qe.state.value}: {qe.state_change_reason}"
            )
        if qe.page_source is None:
            qe.page_source = (
                qe.result
                if is_local(qe.result)
                else qe.result.localCheckpoint(eager=False)
            )
        offset = int(next_token) if next_token is not None else 0
        # fetch one extra row to learn whether another page exists without
        # a separate count() job over the full result
        rows = qe.page_source.offset(offset).limit(max_rows + 1).collect()
        has_more = len(rows) > max_rows
        rows = rows[:max_rows]
        self.metrics["rows_fetched"] += len(rows)
        return rows, (str(offset + max_rows) if has_more else None)

    def cleanup_results(self, query_id: str | None = None) -> int:
        """Destroy-time cleanup analog (main.tf:518-530: the results-bucket
        destroy provisioner): delete persisted result CSVs for one query
        (or all), returning the number of result directories removed.
        Execution records stay for audit; only their files go."""
        import shutil

        removed = 0
        targets = (
            [self.executions[query_id]] if query_id else list(self.executions.values())
        )
        for qe in targets:
            if qe.results_path is not None:
                # L7 reuse shares the producer's CSV path. A TARGETED
                # cleanup of a reused execution only detaches its own
                # pointer — it must not destroy the producer's durable
                # artifact; the producer (or a cleanup-all) deletes the
                # files, and the sweep below detaches every sharer.
                if query_id is not None and qe.reused_from is not None:
                    qe.results_path = None
                    continue
                path = qe.results_path
                shutil.rmtree(path, ignore_errors=True)
                for other in self.executions.values():
                    if other.results_path == path:
                        other.results_path = None
                removed += 1
        return removed

    def sql(
        self,
        sql: str,
        principal: Principal | str | None = None,
        reuse_max_age: float | None = None,
        as_of_versions: dict[str, int] | None = None,
        as_of_timestamps: dict[str, float] | None = None,
        as_of_tags: dict[str, str] | None = None,
        as_of_branches: dict[str, str] | None = None,
        use_mvs: bool = False,
        mv_allow_stale: bool = False,
    ) -> DataFrame:
        """Execute governed SQL and return the DataFrame (raises on deny).

        Accepts queries (SELECT/WITH/VALUES, routed through the
        governance rewrite) AND the statement grammar (statements.py —
        MERGE/UPDATE/DELETE/OPTIMIZE/VACUUM/MV lifecycle/CTAS/UNLOAD/
        EXPLAIN/RENAME COLUMN/SHOW/DESCRIBE, each dispatched to its
        governed implementation); unknown verbs raise instead of
        reaching ungoverned spark.sql. DML statements return their
        operation metrics as a one-row DataFrame (the Athena shape).

        Time travel can also be written INLINE in the SQL (round-11,
        the Athena/Iceberg syntax): ``FROM db.t FOR VERSION AS OF 3``
        or ``FOR TIMESTAMP AS OF '2024-01-01 00:00:00'`` (naive ISO =
        UTC; quoted epoch seconds accepted) — stripped and merged into
        the AS OF maps below; pinning a table both inline and in a map
        is an error.

        ``as_of_versions`` maps qualified table names to manifest
        snapshot versions — the governed SQL AS OF surface (round-7
        VERDICT #8): the named tables resolve to that retained snapshot
        with the principal's row/column security applied to the
        historical rows exactly as to current ones.
        ``as_of_timestamps`` is the TIMESTAMP AS OF form: each entry
        resolves to the newest retained snapshot committed at or
        before the instant (sources.lake.version_at_timestamp — pre-
        history timestamps raise) and then behaves exactly like
        ``as_of_versions``; ``as_of_tags`` is the TAG AS OF form
        (tag_snapshot names resolve to their pinned versions — the
        governed read of a retention-pinned training corpus);
        ``as_of_branches`` is the BRANCH AS OF form (branch names
        resolve to their head versions — the governed AUDIT read of a
        staged ingest before fast_forward publishes it, with the
        auditor's row/column security applied). Naming a table in more
        than one AS OF map is an error.

        ``use_mvs=True`` opts into TRANSPARENT MV-backed rewrite
        (round-11): a SELECT whose shape a registered materialized
        view can answer exactly — group-by ⊆ the MV's group-by,
        measures derivable from its stored/derived measures, WHERE on
        group columns only — is served from the MV state WITHOUT
        scanning the source (query acceleration, the reason MVs
        exist). Grants of the SOURCE still gate, and any conditioned
        (row/column-secured) access falls back to the real scan — the
        MV state aggregates ALL rows, so serving it to a row-filtered
        principal would be a governance bypass. Staleness fails OPEN:
        when the MV's watermark is behind the source, the query runs
        against the source (``mv_allow_stale=True`` explicitly accepts
        the stale state instead). AS OF maps disable the rewrite (the
        MV state carries no history of the source's versions)."""
        from .statements import _parse_instant, extract_as_of

        clean_sql, inline = extract_as_of(sql)
        if inline:
            # inline Athena/Iceberg time-travel syntax: FOR VERSION AS
            # OF n / FOR TIMESTAMP AS OF '<ts>' — merged into the AS OF
            # maps (naming a table in both is the usual double-AS-OF
            # error)
            sql = clean_sql
            as_of_versions = dict(as_of_versions or {})
            as_of_timestamps = dict(as_of_timestamps or {})
            for q, (kind, val) in inline.items():
                maps = (
                    as_of_versions,
                    as_of_timestamps,
                    as_of_tags or {},
                    as_of_branches or {},
                )
                if any(q in mm for mm in maps):
                    raise ValueError(
                        f"{q} is pinned both inline (FOR ... AS OF) and "
                        "in an as_of_* map"
                    )
                if kind == "version":
                    as_of_versions[q] = val
                else:
                    as_of_timestamps[q] = _parse_instant(
                        val, "FOR TIMESTAMP AS OF"
                    )
        if as_of_timestamps or as_of_tags or as_of_branches:
            from .sources import lake as _lake

            as_of_versions = dict(as_of_versions or {})
            for given, selector, pins in (
                ("as_of_timestamps", "as_of_timestamp", as_of_timestamps),
                ("as_of_tags", "tag", as_of_tags),
                ("as_of_branches", "branch", as_of_branches),
            ):
                for q, value in (pins or {}).items():
                    if q in as_of_versions:
                        raise ValueError(
                            f"{q} given in both {given} and another AS OF map"
                        )
                    table = self.catalog.tables[q]  # KeyError: fail closed
                    as_of_versions[q] = _lake.resolve_version(
                        table.location, **{selector: value}
                    )
        qe = self._execute(
            sql,
            principal,
            raise_on_error=True,
            reuse_max_age=reuse_max_age,
            as_of_versions=as_of_versions,
            use_mvs=use_mvs and not as_of_versions,
            mv_allow_stale=mv_allow_stale,
        )
        if qe.result is None:
            raise RuntimeError(f"query produced no result: {sql[:200]}")
        return qe.result

    def sql_script(
        self,
        script: str,
        principal: Principal | str | None = None,
    ) -> list[DataFrame]:
        """Execute a ``;``-separated statement SCRIPT sequentially under
        one audit span — the natural unit for the MERGE-then-REFRESH
        cadence (Athena runs scripts one statement at a time; so does
        this, with the same per-statement gates and audit lines as
        :meth:`sql`).

        Stops at the FIRST failure: earlier statements' effects stand
        (each statement commits individually — a script is a cadence,
        not a transaction; cross-table atomicity is
        :meth:`stage_and_publish`), the span line records exactly how
        far the script got, and the failure re-raises. Returns one
        result DataFrame per executed statement."""
        import uuid as _uuid

        from .statements import split_statements

        name = _principal_name(principal)
        stmts = split_statements(script)
        if not stmts:
            raise ValueError("empty script")
        span = _uuid.uuid4().hex[:12]
        results: list[DataFrame] = []
        for i, stmt_sql in enumerate(stmts):
            try:
                results.append(self.sql(stmt_sql, principal))
            except Exception as exc:  # noqa: BLE001 — span-audit then surface
                self.catalog.audit.record(
                    principal=name or "<none>",
                    query=(
                        f"SCRIPT span={span} statements={len(stmts)} "
                        f"stopped_at={i + 1}"
                    ),
                    tables=[],
                    filters_applied=[],
                    status="failed",
                    error=f"statement {i + 1}/{len(stmts)} failed: {exc}",
                )
                raise
        self.catalog.audit.record(
            principal=name or "<none>",
            query=f"SCRIPT span={span} statements={len(stmts)}",
            tables=[],
            filters_applied=[],
            status="ok",
        )
        return results

    # ------------------------------------------------- L7 result reuse
    def _storage_tables(self, qualified: str, _seen: set | None = None) -> set:
        """Base TABLES whose storage backs ``qualified``: the name itself
        for a table; for a VIEW, every known table reachable through its
        (possibly nested) SQL body — so view-query reuse is gated on the
        same file fingerprints a direct table query would be. Unknown
        names resolve to themselves and fingerprint as None (fail
        closed: a None fingerprint never validates a hit)."""
        seen = _seen if _seen is not None else set()
        if qualified in seen:
            return set()
        seen.add(qualified)
        vdef = self.catalog.views.get(qualified)
        if vdef is None:
            return {qualified}
        import re

        out: set = set()
        for name in list(self.catalog.tables) + list(self.catalog.views):
            if name == qualified:
                continue
            if re.search(
                r"(?<![A-Za-z0-9_.])" + re.escape(name) + r"(?![A-Za-z0-9_])",
                vdef.sql,
            ):
                out |= self._storage_tables(name, seen)
        return out

    def _table_fingerprint(self, qualified: str) -> tuple | None:
        """Cheap freshness token for a table's storage — the Glue
        table-version analog: any data change changes it. A manifest
        table's is its current snapshot (version and ``txid``, one
        pointer read); a plain directory's is (file count, max mtime ns)
        under its location. Unknown names return None, which the hit
        check treats as never-fresh."""
        import os

        td = self.catalog.tables.get(qualified)
        if td is None:
            return None
        m = _lake.read_manifest(td.location)
        if m is not None:
            return (qualified, m["version"], m.get("txid"))
        n, mx = 0, 0
        for root, _dirs, files in os.walk(td.location):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                n += 1
                mx = max(mx, os.stat(os.path.join(root, f)).st_mtime_ns)
        return (qualified, n, mx)

    def _storage_fingerprints(self, touched: list[str]) -> dict:
        tables: set = set()
        for q in touched:
            tables |= self._storage_tables(q)
        return {t: self._table_fingerprint(t) for t in sorted(tables)}

    def _enforce_scan_cap(self, qe: QueryExecution, df: DataFrame) -> None:
        """Workgroup bytes-scanned enforcement (round-15; Athena
        ``bytes_scanned_cutoff_per_query``). Sums the on-disk size of
        the governed plan's input files — the POST-PRUNING set, so a
        partition-pruned or manifest-skipped query bills only the files
        it would actually read, and metadata-served answers (zero-file
        COUNT, MV state) bill ~0. No-op when the workgroup sets no cap
        (the per-query ``os.stat`` walk is not a cost every deployment
        should pay)."""
        cap = self.bytes_scanned_cutoff_per_query
        if cap is None:
            return
        total = 0
        try:
            # Sum selectedPartitions().totalFileSize() over the plan's
            # file scans: the POST-static-pruning listing (partition
            # predicates already applied), computed at planning time
            # without reading a byte. df.inputFiles() would NOT do —
            # it returns the relation's unpruned listing, billing a
            # partition-pruned query for the whole table. Runtime-only
            # pruning (DPP) is not credited — conservative, never
            # more permissive than Athena's metered number.
            stack = [df._jdf.queryExecution().executedPlan()]
            while stack:
                node = stack.pop()
                cls = node.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    stack.append(node.initialPlan())
                    continue
                if "FileSourceScan" in cls:
                    total += int(
                        node.selectedPartitions().totalFileSize()
                    )
                ch = node.children()
                for i in range(ch.size()):
                    stack.append(ch.apply(i))
                try:
                    sq = node.subqueries()
                    for i in range(sq.size()):
                        stack.append(sq.apply(i))
                except Exception:
                    pass
        except Exception:
            # reflection fallback: the unpruned listing via os.stat —
            # strictly conservative (bills more, never less)
            import os as _os
            from urllib.parse import urlparse as _urlparse

            total = 0
            for uri in df.inputFiles():
                path = (
                    _urlparse(uri).path
                    if "://" in uri or uri.startswith("file:")
                    else uri
                )
                try:
                    total += _os.stat(path).st_size
                except OSError:
                    continue  # vanished mid-plan: bills zero
        qe.bytes_scanned = total
        if total > cap:
            raise QueryCapExceededError(
                f"query would scan {total} bytes; the workgroup cutoff "
                f"is {cap} (bytes_scanned_cutoff_per_query) — narrow "
                "the scan (partition predicates prune the bill) or "
                "raise the cap"
            )

    # ---------------------------------------------------------- internals
    def _execute(
        self,
        sql: str,
        principal: Principal | str | None,
        raise_on_error: bool = False,
        reuse_max_age: float | None = None,
        as_of_versions: dict[str, int] | None = None,
        use_mvs: bool = False,
        mv_allow_stale: bool = False,
    ) -> QueryExecution:
        """``reuse_max_age`` (seconds) enables L7 result reuse — Athena's
        ``ResultReuseByAgeConfiguration`` analog, made strictly safer:

        - a hit requires the catalog's ``governance_fingerprint`` to be
          unchanged since the producing run (whose rewrite enforced the
          then-current grants) — any grant / filter / tag / schema
          mutation invalidates the whole cache, so no policy change can
          be ridden by a cached result (Athena reuses within the
          workgroup on the raw query string alone);
        - a hit additionally requires every touched BASE table's storage
          fingerprint to be unchanged — views resolve (recursively) to
          the tables behind them — so stale-data reuse (the documented
          Athena caveat) cannot happen; an unresolvable name
          fingerprints as None and fails closed.

        Like Athena's per-query ResultReuseConfiguration, BOTH the
        producing and the consuming call must pass ``reuse_max_age``:
        production-time fingerprints are what make a later hit safe,
        and non-reuse callers never pay the fingerprint cost. A reused
        execution gets its own query id and audit row (status
        ``REUSED:<producer id>``) — the lineage a billing/audit reviewer
        needs."""
        import time as _time

        from .statements import parse_statement

        name = _principal_name(principal)
        qe = QueryExecution(query_id=uuid.uuid4().hex, sql=sql, principal=name)
        self.executions[qe.query_id] = qe
        self.metrics["queries_submitted"] += 1
        qe.state = QueryState.RUNNING
        # Statement dispatch (round-10): MERGE/UPDATE/DELETE/OPTIMIZE/
        # VACUUM/MV lifecycle/SHOW/DESCRIBE parse here and route to the
        # governed implementations; None = a query, which flows through
        # the governance rewrite below. Detection happens BEFORE the
        # reuse cache: a mutation must never be served (or seeded) from
        # a cached result.
        try:
            stmt = parse_statement(sql)
        except ValueError as exc:
            qe.state = QueryState.FAILED
            self.metrics["queries_failed"] += 1
            qe.state_change_reason = f"{type(exc).__name__}: {exc}"
            self.catalog.audit.record(
                name or "<anonymous>",
                sql,
                [],
                [],
                "FAILED",
                error=qe.state_change_reason,
            )
            if raise_on_error:
                raise
            return qe
        # a versioned read must never hit (or seed) an unversioned
        # cache entry — the snapshot is part of the query identity;
        # likewise the MV-rewrite opt-ins: an allow-stale run may cache
        # values the source had already moved past at production time,
        # which the table-fingerprint check cannot see (it compares
        # against production-time storage) — only an identically
        # stale-opted caller may share them
        reuse_key = (
            name,
            sql,
            tuple(sorted((as_of_versions or {}).items())),
            bool(use_mvs),
            bool(mv_allow_stale),
        )
        if stmt is None and reuse_max_age is not None:
            hit = self._reuse_cache.get(reuse_key)
            if hit is not None:
                src_id, done_at, gov_fp, table_fps = hit
                # valid only while (a) inside the age window, (b) NO
                # governance metadata changed since the producing run
                # (whose rewrite enforced the then-current grants), and
                # (c) every touched table's storage is byte-unchanged
                fresh = (
                    _time.time() - done_at <= reuse_max_age
                    and gov_fp == self.catalog.governance_fingerprint()
                    and all(
                        fp is not None and self._table_fingerprint(t) == fp
                        for t, fp in table_fps.items()
                    )
                )
                src = self.executions.get(src_id)
                if fresh and src is not None and src.result is not None:
                    qe.result = src.result
                    qe.results_path = src.results_path
                    qe.tables = list(src.tables)
                    qe.filters_applied = list(src.filters_applied)
                    qe.reused_from = src_id
                    qe.state = QueryState.SUCCEEDED
                    self.metrics["queries_reused"] += 1
                    self.metrics["queries_succeeded"] += 1
                    self.catalog.audit.record(
                        name or "<anonymous>",
                        sql,
                        qe.tables,
                        qe.filters_applied,
                        f"REUSED:{src_id}",
                    )
                    return qe
        created_views: list[str] = []
        try:
            if stmt is not None:
                if as_of_versions:
                    raise ValueError(
                        "AS OF maps apply to queries, not statements"
                    )
                df = self._run_statement(stmt, principal, qe)
                touched = qe.tables
            elif not as_of_versions and (
                cnt_df := self._try_metadata_count(sql, principal, qe)
            ) is not None:
                # served from manifest footer row counts — zero files
                # planned (the Athena/Iceberg/Delta stats-count parity
                # point); eligibility mirrors the MV rewrite's and the
                # answer is EXACT, so serving is always semantics-
                # preserving (tests/test_count_metadata.py)
                df = cnt_df
                touched = qe.tables
            elif use_mvs and (
                mv_df := self._try_mv_rewrite(
                    sql, principal, qe, allow_stale=mv_allow_stale
                )
            ) is not None:
                # served from a materialized view's state — the source
                # was never scanned (plan-pinned in tests/test_mv.py)
                df = mv_df
                touched = qe.tables
            else:
                try:
                    rewritten, touched = self.catalog._rewrite_sql(
                        sql,
                        principal,
                        versions=as_of_versions,
                        _filters_out=qe.filters_applied,
                        _views_out=created_views,
                    )
                    qe.tables = touched
                    # spark.sql analyzes eagerly; the resolved plan survives the
                    # temp-view drop below, so no governed alias outlives the query
                    # (round-1 cross-principal temp-view leak).
                    df = self.spark.sql(rewritten)
                finally:
                    for v in created_views:
                        self.spark.catalog.dropTempView(v)
            qe.result = df
            if stmt is None:
                # workgroup bytes-scanned enforcement. Statements that
                # READ governed data at scale are billed at their
                # source-read site: CTAS and UNLOAD inherit the cap
                # through their inner query execution, INSERT...SELECT
                # and MERGE enforce it on the rewritten source batch
                # (round-16 ADVICE). Remaining statements are
                # maintain/DDL-gated protocol work — free of
                # data-scanned charges, like Athena's DDL.
                self._enforce_scan_cap(qe, df)
            if self.results_dir is not None:
                # S5 — persist the result set as headered CSV per query id.
                # escape='"' writes RFC-4180 doubled quotes so values with
                # embedded newlines/quotes re-read cleanly with
                # multiLine=true; nullValue='\\N' keeps NULL distinct from
                # the empty string on a round-trip (round-4 ADVICE).
                out = str(self.results_dir / qe.query_id)
                (
                    df.write.mode("overwrite")
                    .option("header", "true")
                    .option("escape", '"')
                    .option("nullValue", "\\N")
                    .csv(out)
                )
                qe.results_path = out
            qe.state = QueryState.SUCCEEDED
            self.metrics["queries_succeeded"] += 1
            # Populate the reuse cache only when THIS call opted into
            # reuse (Athena's per-query ResultReuseConfiguration shape):
            # production-time fingerprints are what make a later hit
            # safe, and computing them (an os.walk per touched table +
            # the catalog digest) is not a cost every non-reuse caller
            # should pay on the hot path. Statements never seed it.
            if stmt is None and reuse_max_age is not None:
                self._reuse_cache[reuse_key] = (
                    qe.query_id,
                    _time.time(),
                    self.catalog.governance_fingerprint(),
                    self._storage_fingerprints(touched),
                )
            self.catalog.audit.record(
                name or "<anonymous>", sql, touched, qe.filters_applied, "SUCCEEDED"
            )
        except Exception as exc:  # noqa: BLE001 - map to Athena error surface
            if isinstance(exc, QueryCapExceededError):
                # Athena's shape: workgroup enforcement CANCELS, it
                # does not fail — a caller polling status sees
                # CANCELLED plus the cutoff in the reason
                qe.state = QueryState.CANCELLED
                self.metrics["queries_cancelled"] += 1
            else:
                qe.state = QueryState.FAILED
                self.metrics["queries_failed"] += 1
            if isinstance(exc, PermissionDeniedError):
                self.metrics["queries_denied"] += 1
            qe.state_change_reason = f"{type(exc).__name__}: {exc}"
            self.catalog.audit.record(
                name or "<anonymous>",
                sql,
                qe.tables,
                qe.filters_applied,
                qe.state.value,
                error=qe.state_change_reason,
            )
            if raise_on_error:
                raise
        return qe

    # ---------------------------------------------- governance primitives
    def _holds(self, principal: str, database: str, resource: str, perm) -> bool:
        """``principal`` holds an UNCONDITIONED ``perm`` grant on the
        resource (no data-cells filter, no tag exclusion)."""
        return any(
            g.permission == perm
            and g.via_filter is None
            and g.via_tag_exclude is None
            for g in self.catalog.grants_for(principal, database, resource)
        )

    def _ungated(self, name) -> bool:
        """No grant check applies: governance is off or ``name`` is a
        data-lake admin (main.tf:82-91)."""
        return not self.catalog.governance_enabled or name in self.catalog.admins

    def _owns(self, name, database: str, resource: str) -> bool:
        """The ownership rule of every destructive or unfiltered verb:
        :meth:`_ungated`, or an unconditioned ALL grant on the resource
        — SELECT, even unfiltered, is read permission and does not
        qualify."""
        if self._ungated(name):
            return True
        return name is not None and self._holds(name, database, resource, ALL)

    def _visible(self, name, database: str, resource: str | None = None) -> bool:
        """The grant-aware listing rule (implicit deny, G6, hides even
        existence): admins see everything; anyone else sees an object
        they hold SOME grant on — ``resource=None`` asks for any grant
        inside ``database``."""
        if self._ungated(name):
            return True
        if name is None:
            return False
        if resource is None:
            return any(
                g.principal == name and g.database == database
                for g in self.catalog.grants
            )
        return bool(self.catalog.grants_for(name, database, resource))

    def _gate(
        self, name, query: str, tables: list, *, admin_only: bool = False,
        owner: tuple | None = None, denied: str = "", refusal: str = "",
    ) -> None:
        """Apply one verb's rule: none, admin-only, or :meth:`_owns` on
        ``owner`` = (database, resource). A refusal records the
        ``denied`` audit line and raises PermissionDeniedError."""
        if owner is not None:
            allowed = self._owns(name, *owner)
        elif admin_only:
            allowed = self._ungated(name)
        else:
            return
        if not allowed:
            self.catalog.audit.record(
                name or "<none>", query, tables, [], "denied", error=denied
            )
            raise PermissionDeniedError(refusal)

    @contextmanager
    def _governed(
        self, name, query: str, tables: list, *, admin_only: bool = False,
        owner: tuple | None = None, denied: str = "", refusal: str = "",
        ok: str = "succeeded",
    ):
        """The gate-and-audit path of every governed verb: :meth:`_gate`,
        then the body, then ONE action line for ``query`` — ``ok`` on
        success; on an exception the body did not audit itself,
        ``failed`` with the exception text (then re-raised). The body
        receives ``audit(status, error)`` for its own refusals (a
        refusal it records suppresses the generic ``failed`` line)."""
        self._gate(
            name, query, tables, admin_only=admin_only, owner=owner,
            denied=denied, refusal=refusal,
        )
        recorded: list[str] = []

        def audit(status: str, error: str | None = None) -> None:
            recorded.append(status)
            self.catalog.audit.record(
                name or "<none>", query, tables, [], status, error=error
            )

        try:
            yield audit
        except Exception as exc:
            if not recorded:
                audit("failed", f"{type(exc).__name__}: {exc}")
            raise
        audit(ok)

    @contextmanager
    def _rewritten(self, sql: str, principal, filters_out=None):
        """``sql`` rewritten for the submitting principal, and the
        objects it touched; the governed temp views it created are
        dropped on exit. spark.sql analyzes eagerly, so a DataFrame
        built inside the block outlives them (no governed alias
        outlives the statement)."""
        created: list[str] = []
        try:
            yield self.catalog._rewrite_sql(
                sql, principal, _filters_out=filters_out, _views_out=created
            )
        finally:
            for v in created:
                self.spark.catalog.dropTempView(v)

    # ------------------------------------------------- statement dispatch
    # Statements that are exactly one maintain() action: (action, its
    # kwargs, result schema, result row).
    _MAINTAIN_STATEMENTS = {
        _st.DeleteStatement: (
            "delete_rows",
            lambda s: {"predicate": s.predicate},
            "rows_deleted long, partitions_rewritten long",
            lambda s, r: (r["rows_deleted"], r["partitions_rewritten"]),
        ),
        _st.UpdateStatement: (
            "update_rows",
            lambda s: {
                "assignments": dict(s.assignments),
                "predicate": s.predicate,
            },
            "rows_updated long, partitions_rewritten long",
            lambda s, r: (r["rows_updated"], r["partitions_rewritten"]),
        ),
        _st.RenameColumnStatement: (
            "rename_column",
            lambda s: {"old": s.old, "new": s.new},
            "table string, old string, new string",
            lambda s, r: (s.target, s.old, s.new),
        ),
        _st.DropColumnStatement: (
            "drop_column",
            lambda s: {"column": s.column},
            "table string, dropped_column string",
            lambda s, r: (s.target, s.column),
        ),
        _st.WidenColumnStatement: (
            "widen_column",
            lambda s: {"column": s.column, "ddl_type": s.ddl_type},
            "table string, column string, new_type string",
            lambda s, r: (s.target, s.column, s.ddl_type),
        ),
        _st.MsckRepairStatement: (
            "msck_repair",
            lambda s: {},
            "table string, partitions long, files_indexed long, "
            "new_files long, rows_indexed long",
            lambda s, r: (
                s.target,
                int(r["partitions"]),
                int(r["files_indexed"]),
                int(r["new_files"]),
                int(r["rows_indexed"]),
            ),
        ),
        _st.TruncateTableStatement: (
            "truncate",
            lambda s: {},
            "table string, rows_removed long, version long",
            lambda s, r: (s.target, int(r["rows_removed"]), int(r["version"])),
        ),
        _st.AddConstraintStatement: (
            "add_constraint",
            lambda s: {"constraint": s.name, "expr": s.expr},
            "table string, constraint string, expr string, status string",
            lambda s, r: (s.target, s.name, s.expr, "added"),
        ),
        _st.DropConstraintStatement: (
            "drop_constraint",
            lambda s: {"constraint": s.name},
            "table string, constraint string, status string",
            lambda s, r: (s.target, s.name, "dropped"),
        ),
        _st.DropPartitionStatement: (
            "drop_partition",
            lambda s: {"spec": s.spec, "if_exists": s.if_exists},
            "table string, partition string, files_removed long, "
            "rows_removed long, version long",
            lambda s, r: (
                s.target,
                r["partition"],
                int(r["files_removed"]),
                int(r["rows_removed"]),
                int(r["version"]) if r["version"] is not None else None,
            ),
        ),
        _st.AddFilesStatement: (
            "add_files",
            lambda s: {"source": s.location},
            "table string, files_added long, rows_added long, version long",
            lambda s, r: (
                s.target,
                int(r["files_added"]),
                int(r["rows_added"]),
                int(r["version"]),
            ),
        ),
    }
    # One handler per statements.py dataclass, resolved by NAME on each
    # call so a wrapped method is the one that runs.
    _HANDLERS = {
        **{cls: "_stmt_maintain" for cls in _MAINTAIN_STATEMENTS},
        _st.CtasStatement: "_stmt_ctas",
        _st.CloneStatement: "_stmt_clone",
        _st.CreateDatabaseStatement: "_stmt_create_database",
        _st.CreateTableStatement: "_stmt_create_table",
        _st.CreateTableLikeStatement: "_stmt_create_table",
        _st.DropTableStatement: "_stmt_drop_table",
        _st.GrantStatement: "_stmt_grant",
        _st.RevokeStatement: "_stmt_revoke",
        _st.UnloadStatement: "_stmt_unload",
        _st.CreateViewStatement: "_stmt_create_view",
        _st.DropViewStatement: "_stmt_drop_view",
        _st.InsertStatement: "_stmt_insert",
        _st.PrepareStatement: "_stmt_prepare",
        _st.ExecuteStatement: "_stmt_execute",
        _st.ExplainStatement: "_stmt_explain",
        _st.AddColumnsStatement: "_stmt_add_columns",
        _st.MergeStatement: "_stmt_merge",
        _st.OptimizeStatement: "_stmt_optimize",
        _st.VacuumStatement: "_stmt_vacuum",
        _st.CreateMVStatement: "_stmt_create_mv",
        _st.RefreshMVStatement: "_stmt_refresh_mv",
        _st.DropMVStatement: "_stmt_drop_mv",
        _st.AnalyzeStatement: "_stmt_analyze",
        _st.ShowDatabasesStatement: "_stmt_show_databases",
        _st.ShowTablesStatement: "_stmt_show_tables",
        _st.ShowViewsStatement: "_stmt_show_views",
        _st.ShowPartitionsStatement: "_stmt_show_partitions",
        _st.ShowGrantsStatement: "_stmt_show_grants",
        _st.ShowStatsStatement: "_stmt_show_stats",
        _st.ShowColumnsStatement: "_stmt_show_columns",
        _st.ShowCreateTableStatement: "_stmt_show_create_table",
        _st.DescribeStatement: "_stmt_describe",
        _st.DescribeDatabaseStatement: "_stmt_describe_database",
        _st.DescribeDetailStatement: "_stmt_describe_detail",
        _st.DescribeFilesStatement: "_stmt_describe_files",
        _st.DescribeHistoryStatement: "_stmt_describe_history",
    }
    # Verbs whose statement audit line names the target even when they
    # fail; every other verb's line names it once it succeeded (or once
    # the introspection gate admitted the principal).
    _TARGET_BEFORE_RUN = frozenset(
        {
            _st.DropTableStatement,
            _st.GrantStatement,
            _st.RevokeStatement,
            _st.ShowGrantsStatement,
            _st.AnalyzeStatement,
            _st.ShowStatsStatement,
            _st.OptimizeStatement,
            _st.VacuumStatement,
        }
    )

    def _run_statement(self, stmt, principal, qe: QueryExecution) -> DataFrame:
        """Execute a parsed governed statement (statements.py) and
        return its result set as a DataFrame — DML verbs return their
        operation metrics (the Athena console shape), introspection
        verbs return rows.

        Every mutation routes through the SAME choke points the Python
        API uses — :meth:`maintain` for DELETE/UPDATE/OPTIMIZE/VACUUM
        and the ALTERs (admin-or-ALL gate, verbatim audit, lake-root
        guard, pending-column fail-close) and the MV lifecycle methods
        — and every gate is :meth:`_gate`, so the SQL surface can never
        do what the API surface would refuse. MERGE reads its USING
        select THROUGH the governance rewrite as the submitting
        principal, then applies the same write gate. Audit:
        ``_execute`` records the verbatim statement; the underlying
        action records its own line (two-line trail: what was asked,
        what ran). ``qe.tables`` defaults to the statement's target."""
        handler = self._HANDLERS.get(type(stmt))
        if handler is None:
            raise ValueError(f"unhandled statement {type(stmt).__name__}")
        target = getattr(stmt, "target", None)
        if type(stmt) in self._TARGET_BEFORE_RUN:
            qe.tables = [target]
        df = getattr(self, handler)(
            stmt, principal, _principal_name(principal), qe
        )
        if target is not None and not qe.tables:
            qe.tables = [target]
        return df

    def _stmt_maintain(self, stmt, principal, name, qe) -> DataFrame:
        action, kwargs, schema, row = self._MAINTAIN_STATEMENTS[type(stmt)]
        res = self.maintain(stmt.target, action, principal, **kwargs(stmt))
        return local_frame(self.spark, [row(stmt, res)], schema)

    def _stmt_ctas(self, stmt, principal, name, qe) -> DataFrame:
        # Athena CTAS as SQL: the governed select materializes only
        # what the principal's grants allow; creator owns the table
        db, _, tname = stmt.target.partition(".")
        inner = self.ctas(
            stmt.select_sql,
            database=db,
            table=tname,
            location=stmt.location,
            principal=principal,
            partition_by=list(stmt.partitioned_by) or None,
        )
        qe.tables = [stmt.target, *inner.tables]
        return local_frame(
            self.spark,
            [(stmt.target, stmt.location)],
            "table string, location string",
        )

    def _stmt_clone(self, stmt, principal, name, qe) -> DataFrame:
        res = self.clone_table(
            stmt.source,
            stmt.target,
            stmt.location,
            version=stmt.version,
            principal=principal,
        )
        qe.tables = [stmt.target, stmt.source]
        return local_frame(
            self.spark,
            [
                (
                    stmt.target,
                    int(res["cloned_from_version"]),
                    int(res["n_files"]),
                )
            ],
            "table string, cloned_from_version long, n_files long",
        )

    def _stmt_create_database(self, stmt, principal, name, qe) -> DataFrame:
        # the reference's provisioning object (main.tf:291-300) as DDL.
        # Admin-gated: in Lake Formation, catalog databases are created
        # by administrators (provisioning), not by query principals.
        with self._governed(
            name,
            f"CREATE DATABASE {stmt.name}",
            [],
            admin_only=True,
            denied="CREATE DATABASE requires an admin",
            refusal=(
                f"principal {name!r} may not create databases: "
                "catalog provisioning is admin-only"
            ),
        ) as audit:
            existed = stmt.name in self.catalog.databases
            if existed and not stmt.if_not_exists:
                audit("failed", "database exists")
                raise ValueError(
                    f"database {stmt.name!r} already exists (use IF NOT "
                    "EXISTS to make creation idempotent)"
                )
            if not existed:
                self.catalog.create_database(stmt.name, stmt.comment or "")
        return local_frame(
            self.spark,
            [(stmt.name, not existed)],
            "database string, created boolean",
        )

    def _stmt_create_table(self, stmt, principal, name, qe) -> DataFrame:
        """Column-list CREATE [EXTERNAL] TABLE (main.tf:303-372 as Athena
        DDL) and CREATE TABLE ... LIKE: declare catalog metadata over an
        external LOCATION — schema-on-read, no data written or read
        here. The column list declares the schema (data columns then
        partition columns, hive-style; never inferred); LIKE copies the
        source's structure by the CLONE rule (schema, comments, tags,
        pending quarantine travel; policy objects and data do not).

        Admin-gated: registering an arbitrary location is Lake
        Formation's data-location permission — a non-admin could
        otherwise point a fresh table at files behind another table's
        row/column security and grant themselves around it (CTAS/CLONE
        stay open to non-admins because they materialize THROUGH the
        governed read path)."""
        from pyspark.sql import types as T

        from .catalog import TableDef

        source = getattr(stmt, "source", None)
        like = f" LIKE {source}" if source is not None else ""
        qe.tables = [stmt.target] + ([source] if source is not None else [])
        with self._governed(
            name,
            f"CREATE TABLE {stmt.target}{like}",
            qe.tables,
            admin_only=True,
            denied=("CREATE TABLE LIKE" if source is not None else "CREATE TABLE")
            + " (external location) is admin-only",
            refusal=(
                f"principal {name!r} may not register external "
                "tables: declaring a LOCATION is the data-location "
                "permission (admin-only)"
                + (
                    "; CTAS materializes through the governed read path "
                    "instead"
                    if source is None
                    else ""
                )
            ),
        ) as audit:
            if source is not None:
                src = self.catalog.tables.get(source)
                if src is None:
                    audit("failed", "unknown source table")
                    raise KeyError(f"unknown table {source!r}")
                if src.schema is None:
                    audit("failed", "source has no declared schema")
                    raise ValueError(
                        f"{source} has no declared schema to copy"
                    )
            db, _, tname = stmt.target.partition(".")
            if self._claim_table_name(stmt.target, audit, stmt.if_not_exists):
                return local_frame(
                    self.spark,
                    [
                        (
                            stmt.target,
                            self.catalog.tables[stmt.target].location,
                            False,
                        )
                    ],
                    "table string, location string, created boolean",
                )
            if source is not None:
                tdef = _structure_copy(src, db, tname, stmt.location)
            else:
                # a bad type name raises BEFORE any catalog mutation
                items = (*stmt.columns, *stmt.partitioned_by)
                ddl = ", ".join(f"{c} {t}" for c, t, _cm in items)
                try:
                    schema = T.StructType.fromDDL(ddl)
                except Exception as exc:
                    audit("failed", f"bad column list: {exc}")
                    raise ValueError(
                        f"CREATE TABLE {stmt.target}: unparseable column "
                        f"list ({ddl!r})"
                    ) from exc
                tdef = TableDef(
                    database=db,
                    name=tname,
                    location=stmt.location,
                    schema=schema,
                    partition_keys=tuple(
                        p for p, _t, _cm in stmt.partitioned_by
                    ),
                    column_comments={
                        c: cm for c, _t, cm in items if cm is not None
                    },
                )
            # declare-then-query-empty must work (the Athena UX): the
            # location exists from declaration; data arrives later
            os.makedirs(stmt.location, exist_ok=True)
            self.catalog.register_table(tdef)
            if name is not None:
                # creator owns the table (the CTAS/CLONE rule)
                self.catalog.grant(name, ALL, db, tname)
        return local_frame(
            self.spark,
            [(stmt.target, stmt.location, True)],
            "table string, location string, created boolean",
        )

    def _claim_table_name(self, target: str, audit, if_not_exists=False) -> bool:
        """Refuse, audited, a new table whose database is unknown or
        whose name a table, view or MV already holds. Returns True when
        IF NOT EXISTS meets an existing table (a no-op)."""
        db = target.partition(".")[0]
        if db not in self.catalog.databases:
            audit("failed", f"unknown database {db!r}")
            raise KeyError(f"unknown database {db!r}")
        for registry, kind in (
            (self.catalog.tables, "table"),
            (self.catalog.views, "view"),
            (self.catalog.mvs, "materialized view"),
        ):
            if target in registry:
                if if_not_exists and kind == "table":
                    return True
                audit("failed", f"{target} already a {kind}")
                raise ValueError(f"{target} already exists (a {kind})")
        return False

    def _stmt_drop_table(self, stmt, principal, name, qe) -> DataFrame:
        # Glue DeleteTable: catalog entry (and every grant on it) goes;
        # EXTERNAL semantics leave data files untouched. An unknown
        # table is checked before the gate.
        td = self.catalog.tables.get(stmt.target)
        with self._governed(
            name,
            f"DROP TABLE {stmt.target}",
            [stmt.target],
            owner=(td.database, td.name) if td is not None else None,
            denied="DROP TABLE requires admin or ALL",
            refusal=(
                f"principal {name!r} may not drop {stmt.target}: "
                "admin or an unconditioned ALL grant required"
            ),
        ) as audit:
            if td is None:
                if stmt.if_exists:
                    return local_frame(
                        self.spark,
                        [(stmt.target, False)],
                        "table string, dropped boolean",
                    )
                audit("failed", "unknown table")
                raise KeyError(f"unknown table {stmt.target!r}")
            dependent = sorted(
                q
                for q, mv in self.catalog.mvs.items()
                if mv.source == stmt.target
            )
            if dependent:
                audit("failed", f"dependent MVs {dependent}")
                raise ValueError(
                    f"{stmt.target} feeds materialized view(s) "
                    f"{dependent}; drop those first"
                )
            # views fail-close too (the drop_column rule): a dangling
            # view keeps its grants, and a later re-register under the
            # same name would silently serve NEW data to principals
            # vetted only for the old table. Word-match on the bare
            # table name, case-insensitive — false positives are the
            # fail-closed direction and the message names the cure.
            dep_views = sorted(
                vq
                for vq, v in self.catalog.views.items()
                if re.search(rf"\b{re.escape(td.name)}\b", v.sql, re.I)
            )
            if dep_views:
                audit("failed", f"dependent views {dep_views}")
                raise ValueError(
                    f"view(s) {dep_views} reference {stmt.target}; "
                    "drop those first"
                )
            del self.catalog.tables[stmt.target]
            # strip every grant on the dropped resource: a later
            # re-register under the same name must start with ONLY its
            # creator's grant, never resurrect old access
            self.catalog.grants = [
                g
                for g in self.catalog.grants
                if not (g.database == td.database and g.resource == td.name)
            ]
        return local_frame(
            self.spark, [(stmt.target, True)], "table string, dropped boolean"
        )

    def _is_object(self, qualified: str) -> bool:
        return qualified in self.catalog.tables or qualified in self.catalog.views

    def _stmt_grant(self, stmt, principal, name, qe) -> DataFrame:
        # the LF permission mutation (main.tf:460-487) as governed SQL.
        # Admin-only: granting access IS the governance console.
        # Principals are free-form names (IAM roles live out-of-band,
        # validate.sh:46-58), but the OBJECT must exist — no grants on
        # phantom resources.
        db, _, res = stmt.target.partition(".")
        with self._governed(
            name,
            f"GRANT {stmt.permission} ON {stmt.target} TO {stmt.principal}",
            [stmt.target],
            admin_only=True,
            denied="GRANT is admin-only",
            refusal=(
                f"principal {name!r} may not grant permissions: "
                "the permissions console is admin-only"
            ),
        ) as audit:
            if not self._is_object(stmt.target):
                audit("failed", "unknown object")
                raise KeyError(f"unknown table or view {stmt.target!r}")
            # idempotent: re-granting an identical unconditioned
            # permission must not duplicate SHOW GRANTS rows
            already = self._holds(stmt.principal, db, res, stmt.permission)
            if not already:
                self.catalog.grant(stmt.principal, stmt.permission, db, res)
        return local_frame(
            self.spark,
            [(stmt.principal, stmt.permission, stmt.target, not already)],
            "principal string, permission string, object string, "
            "granted boolean",
        )

    def _stmt_revoke(self, stmt, principal, name, qe) -> DataFrame:
        # immediate enforcement: catalog.revoke mutates the live grant
        # list AND churns the governance fingerprint, so a revoked
        # principal can never ride the reuse cache into data they just
        # lost (tests/test_revoke.py)
        with self._governed(
            name,
            f"REVOKE {stmt.permission or 'ALL PERMISSIONS'} ON "
            f"{stmt.target} FROM {stmt.principal}",
            [stmt.target],
            admin_only=True,
            denied="REVOKE is admin-only",
            refusal=(
                f"principal {name!r} may not revoke permissions: "
                "the permissions console is admin-only"
            ),
        ) as audit:
            if not self._is_object(stmt.target):
                audit("failed", "unknown object")
                raise KeyError(f"unknown table or view {stmt.target!r}")
            db, _, res = stmt.target.partition(".")
            n_revoked = self.catalog.revoke(
                stmt.principal, stmt.permission, db, res
            )
        return local_frame(
            self.spark,
            [(stmt.principal, stmt.target, n_revoked)],
            "principal string, object string, revoked long",
        )

    def _stmt_unload(self, stmt, principal, name, qe) -> DataFrame:
        self.unload(
            stmt.select_sql,
            stmt.path,
            principal=principal,
            format=stmt.format,
            partition_by=list(stmt.partitioned_by) or None,
        )
        return local_frame(
            self.spark, [(stmt.path, stmt.format)], "path string, format string"
        )

    def _stmt_create_view(self, stmt, principal, name, qe) -> DataFrame:
        # V1 as SQL (outputs.tf:44-53): the verb a reference user types
        # first. The body is VALIDATED as the submitting principal —
        # _rewrite_sql raises implicit deny on any referenced table they
        # hold no grant on, and spark.sql analyzes the rewritten text —
        # then stored VERBATIM (view reads re-apply the READING
        # principal's security, V3).
        db, _, vname = stmt.view.partition(".")
        if stmt.view in self.catalog.tables:
            raise ValueError(f"{stmt.view} is a table, not a view")
        if stmt.view in self.catalog.mvs:
            raise ValueError(
                f"{stmt.view} is a materialized view — use the MV "
                "lifecycle statements"
            )
        if db not in self.catalog.databases:
            raise KeyError(f"database {db!r} does not exist")
        if re.search(
            r"(?<![A-Za-z0-9_.])"
            + re.escape(stmt.view)
            + r"(?![A-Za-z0-9_])",
            stmt.select_sql,
        ):
            raise ValueError(
                f"view body references {stmt.view} itself — recursive "
                "views are not supported"
            )
        replaced = stmt.view in self.catalog.views
        if replaced and not stmt.or_replace:
            raise ValueError(
                f"view {stmt.view} already exists (use CREATE OR "
                "REPLACE VIEW)"
            )
        if replaced:
            # replacing someone's view is destructive: same gate as
            # dropping it (admin or unconditioned ALL on the view)
            self._view_gate(name, stmt.view, "CREATE OR REPLACE VIEW")
        with self._rewritten(stmt.select_sql, principal) as (sql, touched):
            self.spark.sql(sql)  # analyze only — never executed
        self.catalog.create_view(db, vname, stmt.select_sql)
        # creator-grant (CTAS parity): the creating principal owns the
        # view; granting OTHERS stays the explicit second phase (the
        # reference's deferred view grant, main.tf:538-549)
        if name is not None and not replaced:
            self.catalog.grant(name, ALL, db, vname)
        qe.tables = [stmt.view, *touched]
        return local_frame(
            self.spark,
            [(stmt.view, replaced)],
            "view string, replaced boolean",
        )

    def _stmt_drop_view(self, stmt, principal, name, qe) -> DataFrame:
        # V2 as SQL (README.md:320)
        db, _, vname = stmt.view.partition(".")
        if stmt.view in self.catalog.mvs:
            raise ValueError(
                f"{stmt.view} is a materialized view — use DROP "
                "MATERIALIZED VIEW"
            )
        dropped = stmt.view in self.catalog.views
        if dropped:
            self._view_gate(name, stmt.view, "DROP VIEW")
            self.catalog.drop_view(db, vname)
            qe.tables = [stmt.view]
        elif not stmt.if_exists:
            raise KeyError(f"view {stmt.view} does not exist")
        return local_frame(
            self.spark,
            [(stmt.view, dropped)],
            "view string, dropped boolean",
        )

    def _view_gate(self, name, qualified: str, verb: str) -> None:
        """Destructive view DDL (DROP / CREATE OR REPLACE over an
        existing view) requires admin or an unconditioned ALL grant on
        the VIEW — the same ownership rule as table maintenance; the
        creator-grant issued at CREATE VIEW satisfies it."""
        self._gate(
            name,
            f"{verb} {qualified}",
            [qualified],
            owner=qualified.partition(".")[::2],
            denied="requires admin or ALL grant on the view",
            refusal=(
                f"principal {name!r} may not {verb} {qualified}: requires "
                "admin or an unconditioned ALL grant on the view"
            ),
        )

    def _stmt_prepare(self, stmt, principal, name, qe) -> DataFrame:
        # Athena PREPARE: store the template verbatim; placeholder
        # filling and statement dispatch happen at EXECUTE, so the gates
        # of the FILLED verb apply then
        self.prepare(stmt.name, stmt.statement_sql)
        return local_frame(
            self.spark, [(stmt.name, True)], "name string, prepared boolean"
        )

    def _stmt_execute(self, stmt, principal, name, qe) -> DataFrame:
        template = self._prepared.get(stmt.name)
        if template is None:
            raise KeyError(f"no prepared statement {stmt.name!r}")
        # a template that is itself PREPARE/EXECUTE would recurse
        # (EXECUTE q FROM a template saying EXECUTE q) — refuse the
        # verbs outright rather than bound a depth counter
        head = re.match(r"\s*([A-Za-z]+)", template)
        if head and head.group(1).lower() in ("execute", "prepare"):
            raise ValueError(
                "a prepared template may not itself be "
                "PREPARE/EXECUTE (recursive prepared statements)"
            )
        # parameters were parsed as VALUES (literals only) and are
        # re-rendered through the escaping literal writer — a parameter
        # containing quotes/keywords stays one literal
        filled = _fill_params(template, list(stmt.params))
        inner = self._execute(filled, principal, raise_on_error=True)
        qe.tables = list(inner.tables)
        qe.filters_applied = list(inner.filters_applied)
        if inner.result is None:
            raise RuntimeError(f"EXECUTE {stmt.name} produced no result")
        return inner.result

    def _stmt_explain(self, stmt, principal, name, qe) -> DataFrame:
        if not stmt.analyze:
            # Athena EXPLAIN shape: the governed plan as result rows
            # (engine.explain never executes, writes no result CSV)
            text = self.explain(stmt.query_sql, principal, mode=stmt.mode)
            return local_frame(
                self.spark, [(ln,) for ln in text.splitlines()], "plan string"
            )
        # EXPLAIN ANALYZE: Trino/Athena semantics — the governed query
        # EXECUTES (noop sink, no result CSV) and the rows are the final
        # plan's per-operator RUNTIME metrics (numOutputRows etc.,
        # harvested from the finalized AQE plan), so a reference user
        # can see where rows and time actually went. The rewrite runs
        # AS the principal: denied principals get the deny, never an
        # execution.
        with self._rewritten(stmt.query_sql, principal) as (sql, touched):
            qe.tables = touched
            df = self.spark.sql(sql)
            self._enforce_scan_cap(qe, df)  # the cap still gates
            # Execute THIS QueryExecution's physical plan (a distributed
            # count on its row RDD — nothing materializes to the
            # driver). A sink write would wrap the logical plan in a NEW
            # execution whose fresh node instances collect the metrics,
            # leaving these at zero.
            jplan = df._jdf.queryExecution().executedPlan()
            jplan.execute().count()
        rows = []
        stack = [jplan]
        op_id = 0
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                # AQE stage wrappers are leaves whose real subtree hangs
                # off .plan()
                stack.append(node.plan())
                continue
            mets = node.metrics()
            it = mets.keysIterator()
            emitted = False
            while it.hasNext():
                k = it.next()
                rows.append((op_id, cls, k, int(mets.apply(k).value())))
                emitted = True
            if not emitted:
                rows.append((op_id, cls, None, None))
            op_id += 1
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return local_frame(
            self.spark,
            rows,
            "op_id long, operator string, metric string, value long",
        )

    def _stmt_add_columns(self, stmt, principal, name, qe) -> DataFrame:
        # Glue UpdateTable as SQL: schema-on-read evolution — no data
        # rewrite, and the new columns land PENDING (invisible to every
        # conditioned grant path until approve_evolved_columns — the
        # fail-closed quarantine). Gate: evolving the schema is an
        # operator action on the table, same admin-or-ALL rule as the
        # other ALTERs.
        from pyspark.sql import types as T

        table = self.catalog.tables[stmt.target]  # KeyError: closed
        self._mv_gate(name, table, "ALTER TABLE ADD COLUMNS", stmt.target)
        fields = []
        for cname, ddl_type, _comment in stmt.columns:
            try:
                parsed_t = T.StructType.fromDDL(f"{cname} {ddl_type}")
            except Exception as exc:
                raise ValueError(
                    f"ADD COLUMNS: cannot parse type {ddl_type!r} for "
                    f"{cname!r}: {exc}"
                ) from exc
            fields.append(parsed_t.fields[0])
        comments = {cname: c for cname, _t, c in stmt.columns if c is not None}
        self.catalog.evolve_table_schema(
            stmt.target, fields, comments=comments or None
        )
        return local_frame(
            self.spark,
            [(cname, ddl_type, "pending") for cname, ddl_type, _c in stmt.columns],
            "col_name string, data_type string, status string",
        )

    def _stmt_merge(self, stmt, principal, name, qe) -> DataFrame:
        self._refuse_mv_mutation(stmt.target, "MERGE INTO")
        table = self.catalog.tables[stmt.target]  # KeyError: fail closed
        # write gate first: a principal who may not write the target
        # must not even trigger the source read
        self._mv_gate(name, table, "MERGE INTO", stmt.target)
        # MERGE is a mutation verb like UPDATE/DELETE: it records its
        # own MAINTAIN-shaped line (incl. pending-column denials) on top
        # of _execute's verbatim-statement line
        with self._governed(
            name,
            f"MAINTAIN merge_into {stmt.target} "
            f"ON ({', '.join(stmt.key_cols)})",
            [stmt.target],
            ok="ok",
        ) as audit:
            with self._rewritten(
                stmt.source_sql, principal, qe.filters_applied
            ) as (sql, touched):
                updates = self.spark.sql(sql)
                # the workgroup scan cap bills DML source reads too
                # (Athena: only DDL is free of data-scanned charges)
                self._enforce_scan_cap(qe, updates)
            missing = [k for k in stmt.key_cols if k not in updates.columns]
            if missing:
                raise ValueError(
                    f"MERGE ON key column(s) {missing} are not in the "
                    "USING select's output"
                )
            # fail-closed schema evolution, same rule as UPDATE/DELETE
            # through maintain: MERGE rewrites whole rows, so neither a
            # key column nor any USING output column may be pending
            struck = sorted(
                (set(stmt.key_cols) | set(updates.columns))
                & set(table.pending_columns)
            )
            if struck:
                audit("denied", f"merge uses pending columns {struck}")
                raise PermissionDeniedError(
                    f"MERGE references pending-approval column(s) "
                    f"{struck} on {stmt.target}; approve the evolved "
                    "columns first (fail-closed schema evolution)"
                )
            if table.schema is not None:
                short = [
                    f.name
                    for f in table.schema.fields
                    if f.name not in updates.columns
                ]
                if short:
                    raise ValueError(
                        f"MERGE is replace-by-key (UPDATE SET * / INSERT *):"
                        f" the USING select must produce every table column;"
                        f" missing {short}"
                    )
            res = _lake.merge_into(
                self.spark,
                table.location,
                updates,
                list(stmt.key_cols),
                partition_by=list(table.partition_keys) or None,
                schema=table.schema,
            )
        qe.tables = [stmt.target, *touched]
        return local_frame(
            self.spark,
            [
                (
                    res["rows_updated"],
                    res["rows_inserted"],
                    res["partitions_rewritten"],
                )
            ],
            "rows_updated long, rows_inserted long, partitions_rewritten long",
        )

    def _stmt_optimize(self, stmt, principal, name, qe) -> DataFrame:
        if stmt.mode == "binpack":
            kw = {"partition_where": stmt.where} if stmt.where is not None else {}
            res = self.maintain(stmt.target, "optimize_binpack", principal, **kw)
            return local_frame(
                self.spark,
                [(res["files_before"], res["files_after"], res["files_rewritten"])],
                "files_before long, files_after long, files_rewritten long",
            )
        res = self.maintain(
            stmt.target, "compact", principal, cluster_by=list(stmt.cluster_by)
        )
        return local_frame(
            self.spark,
            [(res["files_before"], res["files_after"])],
            "files_before long, files_after long",
        )

    def _stmt_vacuum(self, stmt, principal, name, qe) -> DataFrame:
        kwargs: dict = {"keep_last": stmt.keep_last, "dry_run": stmt.dry_run}
        if stmt.older_than_seconds is not None:
            # the INTERVAL form resolves against now at EXECUTION time
            # (a prepared statement re-executed tomorrow means "7 days
            # before tomorrow")
            kwargs["older_than"] = time.time() - stmt.older_than_seconds
        elif stmt.older_than_epoch is not None:
            kwargs["older_than"] = stmt.older_than_epoch
        res = self.maintain(stmt.target, "expire_snapshots", principal, **kwargs)
        counts = (
            int(res.get("manifests_removed", 0)),
            int(res.get("files_removed", 0)),
        )
        if stmt.dry_run:
            # report-only: the artifact sweep also stays untouched
            return local_frame(
                self.spark,
                [(*counts, 0, True)],
                "snapshots_removed long, files_removed long, "
                "artifacts_removed long, dry_run boolean",
            )
        removed = self.maintain(stmt.target, "vacuum_artifacts", principal)
        return local_frame(
            self.spark,
            [(*counts, len(removed["removed"]))],
            "snapshots_removed long, files_removed long, artifacts_removed long",
        )

    def _stmt_create_mv(self, stmt, principal, name, qe) -> DataFrame:
        res = self.create_materialized_view(
            stmt.mv,
            stmt.source,
            list(stmt.group_by),
            {out: (agg, col) for out, agg, col in stmt.measures},
            principal=principal,
            where=stmt.where,
        )
        qe.tables = [stmt.mv, stmt.source]
        return local_frame(
            self.spark,
            [(stmt.mv, res["source_version"])],
            "mv string, source_version long",
        )

    def _stmt_refresh_mv(self, stmt, principal, name, qe) -> DataFrame:
        res = self.refresh_materialized_view(stmt.mv, principal=principal)
        qe.tables = [stmt.mv]
        return local_frame(
            self.spark,
            [(res["refreshed"], res["source_version"])],
            "refreshed boolean, source_version long",
        )

    def _stmt_drop_mv(self, stmt, principal, name, qe) -> DataFrame:
        self.drop_materialized_view(
            stmt.mv, principal=principal, delete_data=stmt.purge
        )
        qe.tables = [stmt.mv]
        return local_frame(
            self.spark, [(stmt.mv, stmt.purge)], "mv string, purged boolean"
        )

    def _stmt_analyze(self, stmt, principal, name, qe) -> DataFrame:
        res = self.analyze_table(
            stmt.target, columns=(list(stmt.columns) or None), principal=principal
        )
        return local_frame(
            self.spark,
            [
                (
                    int(res["row_count"]),
                    len(res.get("columns", {})),
                    res.get("snapshot_version"),
                )
            ],
            "row_count long, columns_analyzed long, snapshot_version long",
        )

    # ---- introspection (SHOW / DESCRIBE) — the Glue GetTable(s) /
    # GetPartitions read surface (main.tf:165-180), grant-aware:
    # governance hides from an ungranted principal even the EXISTENCE
    # of a table (implicit deny, G6).
    def _stmt_show_databases(self, stmt, principal, name, qe) -> DataFrame:
        return local_frame(
            self.spark,
            [(db,) for db in sorted(self.catalog.databases) if self._visible(name, db)],
            "database string",
        )

    def _stmt_show_tables(self, stmt, principal, name, qe) -> DataFrame:
        return local_frame(
            self.spark,
            self._listing(self.catalog.tables, stmt.database, name),
            "database string, table string",
        )

    def _stmt_show_views(self, stmt, principal, name, qe) -> DataFrame:
        return local_frame(
            self.spark,
            self._listing(self.catalog.views, stmt.database, name),
            "database string, view string",
        )

    def _listing(self, registry: dict, database, name) -> list:
        return [
            (d.database, d.name)
            for _q, d in sorted(registry.items())
            if (not database or d.database == database)
            and self._visible(name, d.database, d.name)
        ]

    def _stmt_show_partitions(self, stmt, principal, name, qe) -> DataFrame:
        table, _ = self._introspect_gate(qe, stmt.target, name)
        # metadata-only: partition values come from the manifest's file
        # list (or, for a never-written schema-on-read location, the
        # directory tree) — never a data scan
        parts: set[str] = set()
        m = _lake.read_manifest(table.location)
        if m is not None:
            for f in m["files"]:
                rel = os.path.dirname(f)
                if rel and "=" in rel:
                    parts.add(rel.replace(os.sep, "/"))
        else:
            for root, _dirs, files in os.walk(table.location):
                rel = os.path.relpath(root, table.location)
                if (
                    rel != "."
                    and all("=" in seg for seg in rel.split(os.sep))
                    and any(not f.startswith(("_", ".")) for f in files)
                ):
                    parts.add(rel.replace(os.sep, "/"))
        return local_frame(
            self.spark, [(p,) for p in sorted(parts)], "partition string"
        )

    def _stmt_show_grants(self, stmt, principal, name, qe) -> DataFrame:
        # the Lake Formation permissions-console view. Admins and owners
        # may inspect any principal (FOR omitted = every grant on the
        # object); anyone else lists only their OWN grants, and only on
        # an object they hold SOME grant on — implicit deny hides
        # existence here exactly as it does for SHOW/DESCRIBE.
        if not self._is_object(stmt.target):
            raise KeyError(f"unknown table or view {stmt.target!r}")
        db, _, res = stmt.target.partition(".")
        who = stmt.principal
        if not self._owns(name, db, res):
            if name is None or (who is not None and who != name):
                raise PermissionDeniedError(
                    "SHOW GRANTS FOR another principal requires an "
                    "admin or an unconditioned ALL grant on the "
                    "object; others may list only their own grants"
                )
            who = name
            if not self.catalog.grants_for(name, db, res):
                raise PermissionDeniedError(
                    f"principal {name!r} is not authorized to "
                    f"access {stmt.target}"
                )
        rows = [
            (
                g.principal,
                g.permission,
                g.via_filter,
                (
                    f"{g.via_tag_exclude[0]}={g.via_tag_exclude[1]}"
                    if g.via_tag_exclude is not None
                    else None
                ),
            )
            for g in self.catalog.grants
            if g.database == db
            and g.resource == res
            and (who is None or g.principal == who)
        ]
        return local_frame(
            self.spark,
            rows,
            "principal string, permission string, via_filter string, "
            "via_tag_exclude string",
        )

    def _stmt_show_stats(self, stmt, principal, name, qe) -> DataFrame:
        # SHOW STATS: the governed READ surface for what ANALYZE
        # computes — one row per analyzed column (null_count /
        # ndv_approx / min / max) plus a summary row carrying
        # row_count. Metadata-only by construction: served from
        # TableDef.stats and, when no ANALYZE ran, the manifest's footer
        # row counts — never a scan. Redaction = DESCRIBE's column rule
        # (the SAME helper, incl. its pending-column strike, so the
        # redaction paths can never drift) PLUS the ANALYZE reasoning
        # read-side: stats are TABLE-WIDE unfiltered aggregates, so a
        # ROW-filtered principal is denied outright (table-wide
        # min/max/ndv leak past their row rectangle).
        table, allowed = self._introspect_gate(
            qe, stmt.target, name, columns=True
        )
        if name is not None and not self._ungated(name):
            resolved = self.catalog._resolve_cells(name, table, stmt.target)
            if resolved is not None and any(
                pred is not None for pred, _cols in resolved[0]
            ):
                raise PermissionDeniedError(
                    f"principal {name!r} may not SHOW STATS on "
                    f"{stmt.target}: statistics are table-wide "
                    "unfiltered aggregates, and this principal's "
                    "access is row-filtered (same reasoning as "
                    "the ANALYZE gate)"
                )
        st = dict(table.stats or {})
        rows = []
        for c in sorted(st.get("columns") or {}):
            if allowed is not None and c not in allowed:
                continue  # outside every grant rectangle: redacted
            e = st["columns"][c]
            hist = e.get("histogram")
            rows.append(
                (
                    c,
                    int(e["null_count"]),
                    int(e["ndv_approx"]),
                    e.get("min"),
                    e.get("max"),
                    # equi-height bounds, compact 'b0|b1|...|bN' (same
                    # redaction rectangle as min/max — a histogram IS a
                    # finer min/max)
                    "|".join(repr(b) for b in hist) if hist else None,
                    None,
                    "analyze",
                )
            )
        row_count = st.get("row_count")
        source = "analyze" if row_count is not None else None
        if row_count is None and table.format == "parquet":
            info = _lake.count_rows(table.location)
            if info is not None:
                row_count = int(info["rows"])
                source = "metadata"
        rows.append((None, None, None, None, None, None, row_count, source))
        return local_frame(
            self.spark,
            rows,
            "column_name string, null_count long, ndv_approx long, "
            "min string, max string, histogram string, "
            "row_count long, stats_source string",
        )

    def _visible_columns(self, target: str, principal, name, qe) -> list:
        """DESCRIBE's rows — (name, type, is_partition, comment) — with
        its redaction: a view resolves AS the principal (catalog.view
        gates; the schema is the view's own projection); a table drops
        columns outside every grant rectangle."""
        if target in self.catalog.views:
            vdf = self.catalog.view(target, principal)
            return [
                (f.name, f.dataType.simpleString(), False, None)
                for f in vdf.schema.fields
            ]
        table, allowed = self._introspect_gate(qe, target, name, columns=True)
        schema = table.schema
        if schema is None:
            schema = self.catalog.table(target, principal).schema
        return [
            (
                f.name,
                f.dataType.simpleString(),
                f.name in (table.partition_keys or ()),
                table.column_comments.get(f.name),
            )
            for f in schema.fields
            if allowed is None or f.name in allowed
        ]

    def _stmt_describe(self, stmt, principal, name, qe) -> DataFrame:
        return local_frame(
            self.spark,
            self._visible_columns(stmt.target, principal, name, qe),
            "col_name string, data_type string, is_partition boolean, "
            "comment string",
        )

    def _stmt_show_columns(self, stmt, principal, name, qe) -> DataFrame:
        # DESCRIBE's redaction rules, names only
        rows = self._visible_columns(stmt.target, principal, name, qe)
        return local_frame(self.spark, [r[:1] for r in rows], "col_name string")

    def _stmt_show_create_table(self, stmt, principal, name, qe) -> DataFrame:
        # the console's copy-the-DDL verb: reconstruct the column-list
        # CREATE EXTERNAL TABLE (round-trip pinned in
        # tests/test_sql_ddl.py) or the stored view DDL. Metadata-only;
        # DESCRIBE's gate and redaction.
        def _q(s: str) -> str:
            return s.replace("'", "''")

        if stmt.target in self.catalog.views:
            # gates like a view read; body is stored verbatim
            self.catalog.view(stmt.target, principal)
            vd = self.catalog.views[stmt.target]
            ddl = f"CREATE OR REPLACE VIEW {stmt.target} AS {vd.sql}"
            return local_frame(self.spark, [(ddl,)], "ddl string")
        table, allowed = self._introspect_gate(
            qe, stmt.target, name, columns=True
        )
        if table.schema is None:
            raise ValueError(f"{stmt.target} has no declared schema to render")

        def _item(f) -> str:
            c = table.column_comments.get(f.name)
            comment = f" COMMENT '{_q(c)}'" if c else ""
            return f"{f.name} {f.dataType.simpleString()}{comment}"

        # a partition key outside every grant rectangle is redacted
        # exactly like a data column: it must not leak its existence
        # through the DDL (DESCRIBE/SHOW COLUMNS already hide it)
        pkeys = tuple(table.partition_keys or ())
        shown = [
            f
            for f in table.schema.fields
            if allowed is None or f.name in allowed
        ]
        items = [f"  {_item(f)}" for f in shown if f.name not in pkeys]
        by_name = {f.name: f for f in shown}
        pby = ", ".join(_item(by_name[k]) for k in pkeys if k in by_name)
        ddl = (
            f"CREATE EXTERNAL TABLE {stmt.target} (\n"
            + ",\n".join(items)
            + ")"
            + (f"\nPARTITIONED BY ({pby})" if pby else "")
            + "\nSTORED AS PARQUET"
            + f"\nLOCATION '{_q(table.location)}'"
        )
        return local_frame(self.spark, [(ddl,)], "ddl string")

    def _stmt_describe_database(self, stmt, principal, name, qe) -> DataFrame:
        # metadata-only; table count follows the SHOW TABLES visibility
        # rule (implicit deny hides existence)
        if stmt.name not in self.catalog.databases:
            raise KeyError(f"unknown database {stmt.name!r}")
        n_vis = sum(
            1
            for td in self.catalog.tables.values()
            if td.database == stmt.name
            and self._visible(name, td.database, td.name)
        )
        return local_frame(
            self.spark,
            [(stmt.name, self.catalog.databases[stmt.name] or None, n_vis)],
            "database string, comment string, n_tables_visible long",
        )

    def _stmt_describe_detail(self, stmt, principal, name, qe) -> DataFrame:
        # Delta's one-row metadata summary, metadata-only: catalog entry
        # + current manifest; a never-written schema-on-read location
        # reports its directory facts. Same introspection gate as
        # DESCRIBE (any grant admits; implicit deny hides).
        table, _ = self._introspect_gate(qe, stmt.target, name)
        m = (
            _lake.read_manifest(table.location)
            if table.format == "parquet"
            else None
        )
        if m is not None:
            files = m["files"]
            size = 0
            for f in files:
                try:
                    size += os.stat(os.path.join(table.location, f)).st_size
                except OSError:
                    pass  # vacuumed between read and stat: skip
            info = _lake.count_rows(table.location)
            row = (
                table.format,
                table.location,
                int(m["version"]),
                float(m["committed_at"]),
                len(files),
                int(size),
                (int(info["rows"]) if info is not None else None),
                list(m.get("partition_by") or []),
                len(m.get("delete_predicates", [])),
                sorted(m.get("constraints", {})),
            )
        else:
            files = _lake._data_file_relpaths(Path(table.location))
            size = sum(
                os.stat(os.path.join(table.location, f)).st_size
                for f in files
            )
            row = (
                table.format,
                table.location,
                None,
                None,
                len(files),
                int(size),
                None,
                list(table.partition_keys),
                0,
                [],
            )
        return local_frame(
            self.spark,
            [row],
            "format string, location string, version long, "
            "committed_at double, num_files long, size_bytes long, "
            "num_rows long, partition_by array<string>, "
            "num_tombstones long, constraints array<string>",
        )

    def _stmt_describe_files(self, stmt, principal, name, qe) -> DataFrame:
        table, _ = self._introspect_gate(qe, stmt.target, name)
        live = Path(table.location)

        def _size(f):
            try:
                return (live / f).stat().st_size
            except OSError:
                # deleted out-of-band between the listing and the stat —
                # exactly the churn declared locations see; report
                # unknown, never crash
                return None

        rows = []
        m = _lake.read_manifest(table.location)
        if m is not None:
            fr = m.get("file_rows", {})
            fa = m.get("file_added", {})
            for f in sorted(m["files"]):
                rows.append(
                    (
                        f,
                        os.path.dirname(f).replace(os.sep, "/"),
                        int(fr[f]) if f in fr else None,
                        _size(f),
                        int(fa[f]) if f in fa else None,
                    )
                )
        elif live.is_dir():
            # declared location: the MSCK index supplies exact rows when
            # fresh; otherwise a live listing with sizes only (no
            # per-query footer reads)
            disc = (getattr(table, "discovered", None) or {}).get("files", {})
            for f in _lake._data_file_relpaths(live):
                size = _size(f)
                known = disc.get(f)
                nrows = (
                    int(known[1])
                    if known is not None
                    and size is not None
                    and int(known[0]) == size
                    else None
                )
                rows.append(
                    (f, os.path.dirname(f).replace(os.sep, "/"), nrows, size, None)
                )
        return local_frame(
            self.spark,
            rows,
            "file string, partition string, rows long, "
            "size_bytes long, added_version long",
        )

    def _stmt_describe_history(self, stmt, principal, name, qe) -> DataFrame:
        rows = [
            (
                h["version"],
                h["parent"],
                float(h["committed_at"]),
                h["n_files"],
                h["n_tombstones"],
                list(h["partition_by"] or []),
                list(h["constraints"]),
            )
            for h in self.history(stmt.target, principal)
        ]
        return local_frame(
            self.spark,
            rows,
            "version long, parent long, committed_at double, "
            "n_files long, n_tombstones long, "
            "partition_by array<string>, constraints array<string>",
        )

    def _refuse_mv_mutation(self, qualified: str, verb: str) -> None:
        """Row-mutation verbs (INSERT/MERGE/UPDATE/DELETE) must not
        target a materialized view's backing state table: the state is
        derived — maintained exclusively by REFRESH — and a direct
        mutation would silently desynchronize it from its watermark.
        Layout-only maintenance (OPTIMIZE/VACUUM) stays allowed."""
        for q, mv in self.catalog.mvs.items():
            if qualified == q or qualified == mv.state_table:
                raise ValueError(
                    f"{verb} may not target materialized view {q} or its "
                    "state table — MV state is derived (REFRESH maintains "
                    "it; DROP MATERIALIZED VIEW and re-create to change "
                    "its definition)"
                )

    def _stmt_insert(self, stmt, principal, name, qe) -> DataFrame:
        """INSERT INTO dispatch: the batch query reads THROUGH the
        governance rewrite as the submitting principal, maps
        POSITIONALLY onto the named (or full declared) column list —
        standard SQL INSERT semantics: unnamed columns fill NULL,
        values cast to the declared types — and lands as a
        transactional ``append_rows`` commit (ledger, CHECK constraints,
        O(batch) cost); a plain directory is adopted as the table's
        first snapshot before the append. Write gate and pending-column
        fail-close match MERGE."""
        from pyspark.sql import functions as F

        spark = self.spark
        self._refuse_mv_mutation(stmt.target, "INSERT INTO")
        table = self.catalog.tables[stmt.target]  # KeyError: fail closed
        self._mv_gate(name, table, "INSERT INTO", stmt.target)
        if table.schema is None:
            raise ValueError(
                f"INSERT needs {stmt.target}'s declared schema in the "
                "catalog (positional mapping and NULL-fill are "
                "schema-driven)"
            )
        declared = [f.name for f in table.schema.fields]
        unknown = [c for c in stmt.columns if c not in declared]
        if unknown:
            raise ValueError(
                f"INSERT column(s) {unknown} are not on {stmt.target}'s "
                f"declared schema {declared}"
            )
        static = dict(getattr(stmt, "static_partition", ()) or ())
        if static:
            # static-partition OVERWRITE (hive semantics): the spec
            # must name exactly the partition keys — a partial spec
            # mixes static and dynamic resolution, which silently
            # replaces partitions the statement never named. Spec keys
            # match the declared keys case-insensitively (SQL
            # identifiers are) and are canonicalized to them.
            canon = {k.lower(): k for k in (table.partition_keys or ())}
            unknown_p = sorted(
                k for k in static if k.lower() not in canon
            )
            if unknown_p:
                raise ValueError(
                    f"PARTITION spec names non-partition column(s) "
                    f"{unknown_p} on {stmt.target} (partition keys: "
                    f"{sorted(canon.values())})"
                )
            static = {canon[k.lower()]: v for k, v in static.items()}
            if set(static) != set(canon.values()):
                raise ValueError(
                    f"PARTITION spec must cover every partition key of "
                    f"{stmt.target} ({sorted(canon.values())}); mixed "
                    "static/dynamic overwrite is not supported — omit "
                    "PARTITION entirely for the dynamic form"
                )
            if any(v is None for v in static.values()):
                raise ValueError(
                    "PARTITION spec values must be non-NULL literals"
                )
            # the select supplies the NON-partition columns
            expected = [c for c in declared if c not in static]
        else:
            expected = list(stmt.columns) or declared
        # fail-closed schema evolution (MERGE's rule): a pending column
        # cannot be written — named or swept in by the full-width form
        struck = sorted(set(expected) & set(table.pending_columns))
        if struck:
            self.catalog.audit.record(
                name or "<none>",
                f"INSERT INTO {stmt.target}",
                [stmt.target],
                [],
                "denied",
                error=f"insert targets pending columns {struck}",
            )
            raise PermissionDeniedError(
                f"INSERT references pending-approval column(s) "
                f"{struck} on {stmt.target}; approve the evolved "
                "columns first (fail-closed schema evolution) or "
                "name the approved columns explicitly"
            )
        with self._rewritten(
            stmt.source_sql, principal, qe.filters_applied
        ) as (sql, touched):
            batch = spark.sql(sql)
            # DML source reads bill against the workgroup scan cap
            # (Athena exempts only DDL)
            self._enforce_scan_cap(qe, batch)
        if len(batch.columns) != len(expected):
            raise ValueError(
                f"INSERT source produces {len(batch.columns)} column(s), "
                f"the target list has {len(expected)} — INSERT maps "
                "positionally"
            )
        batch = batch.toDF(*expected)
        by_name = {f.name: f for f in table.schema.fields}
        batch = batch.select(
            *[
                (
                    F.col(n).cast(by_name[n].dataType)
                    if n in batch.columns
                    else (
                        F.lit(static[n]).cast(by_name[n].dataType)
                        if n in static
                        else F.lit(None).cast(by_name[n].dataType)
                    )
                ).alias(n)
                for n in declared
            ]
        )
        pkeys = list(table.partition_keys) or None
        # the declared schema is what the batch was cast to above, so
        # adopting under it keeps the append's schema check exact
        cur = _lake.adopt_table(table.location, pkeys, spark, table.schema) or {}
        before = set(cur.get("files", ()))
        if not stmt.overwrite:
            snap = _lake.append_rows(
                spark, table.location, batch, partition_by=pkeys
            )
        elif pkeys is None:
            raise ValueError(
                f"INSERT OVERWRITE requires a partitioned table — "
                f"{stmt.target} is unpartitioned; a full replace is "
                "publish_overwrite / CTAS"
            )
        else:
            # dynamic-partition OVERWRITE: one atomic manifest commit
            # replacing exactly the partitions present in the batch
            # (overwrite_partitions' contract; refusals — never-written,
            # evolved layout, empty batch — surface loudly). Static
            # form: the named partition IS the replacement set — batch
            # rows outside it refuse in the lake layer, and an empty
            # batch legitimately TRUNCATES the partition (hive
            # static-overwrite semantics).
            rp = (
                [
                    _lake.hive_partition_relpath(
                        pkeys, tuple(static[k] for k in pkeys)
                    )
                ]
                if static
                else None
            )
            snap = _lake.overwrite_partitions(
                spark, table.location, batch, pkeys, replace_partitions=rp
            )
        rows = sum(
            int(snap.get("file_rows", {}).get(f, 0))
            for f in set(snap["files"]) - before
        )
        qe.tables = [stmt.target, *touched]
        if not stmt.overwrite:
            return local_frame(
                spark, [(rows, snap["version"])], "rows_inserted long, version long"
            )
        return local_frame(
            spark,
            [
                (
                    rows,
                    len(snap["partitions_replaced"]),
                    int(snap["files_replaced"]),
                    snap["version"],
                )
            ],
            "rows_inserted long, partitions_replaced long, "
            "files_replaced long, version long",
        )

    def _introspect_gate(
        self, qe: QueryExecution, qualified: str, name, columns: bool = False
    ) -> tuple:
        """Grant gate for SHOW PARTITIONS / DESCRIBE: any grant admits
        (same rule as :meth:`history` — metadata still requires SOME
        SELECT path; implicit deny otherwise); an admitted statement's
        audit line names the table. Returns ``(table,
        allowed_columns)`` where ``allowed_columns`` is None for
        unrestricted principals, else the DESCRIBE redaction set: the
        union of every conditioned grant's column rectangle — a column
        the principal can read on SOME rows lists; one outside every
        rectangle does not exist for them (computed only when
        ``columns=True``)."""
        table = self.catalog.tables[qualified]  # KeyError: fail closed
        if name is None or self._ungated(name):
            qe.tables = [qualified]
            return table, None
        # raises PermissionDeniedError on no grant (implicit deny)
        resolved = self.catalog._resolve_cells(name, table, qualified)
        qe.tables = [qualified]
        if resolved is None or not columns:
            return table, None
        cells, _ = resolved
        if any(cols is None for _pred, cols in cells):
            # an all-columns row filter: every non-pending column shows
            # (_resolve_cells already struck pending from named lists)
            if table.schema is None:
                return table, None
            pend = set(table.pending_columns or ())
            return table, {
                f.name for f in table.schema.fields if f.name not in pend
            }
        return table, {c for _pred, cols in cells for c in (cols or ())}

    def session(self, principal: Principal | str) -> "PrincipalSession":
        """G11 — per-principal session handle (validate.sh:46-67 analog)."""
        return PrincipalSession(self, principal)

    # ------------------------------------------- Athena statement surface
    def explain(
        self, sql: str, principal: Principal | str | None = None, mode: str = "formatted"
    ) -> str:
        """EXPLAIN — the governed plan as a string (Athena EXPLAIN analog).

        The plan is of the REWRITTEN query, so it shows exactly what the
        principal's scan reads (pushed row filters, pruned columns) — the
        right tool for verifying governance reached the scan. Denied
        principals get PermissionDeniedError, never a plan.

        EXPLAIN never executes: the DataFrame is built via the governance
        rewrite directly (not ``_execute``), so no result CSV is written
        and no query execution is recorded (round-2 ADVICE).
        """
        with self._rewritten(sql, principal) as (rewritten, _):
            df = self.spark.sql(rewritten)
        jvm = self.spark.sparkContext._jvm
        return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)

    def ctas(
        self,
        sql: str,
        database: str,
        table: str,
        location: str,
        principal: Principal | str | None = None,
        partition_by: list[str] | None = None,
    ) -> "QueryExecution":
        """CREATE TABLE AS SELECT (Athena CTAS analog).

        Executes the governed query AS the principal — so an analyst's
        CTAS materializes only the rows/columns their grants allow — then
        writes parquet at ``location`` and registers the external table.
        The creating principal receives an ALL grant on the new table
        (Athena/Glue behavior: creator owns the result table).
        """
        from .catalog import TableDef

        qe = self._execute(sql, principal, raise_on_error=True)
        if qe.result is None:
            raise RuntimeError(f"CTAS query produced no result: {sql[:200]}")
        writer = qe.result.write.mode("overwrite").option("compression", "snappy")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(location)
        self.catalog.register_table(
            TableDef(
                database=database,
                name=table,
                location=location,
                schema=qe.result.schema,
                partition_keys=tuple(partition_by or ()),
            )
        )
        if qe.principal is not None:
            self.catalog.grant(qe.principal, ALL, database, table)
        return qe

    def clone_table(
        self,
        source: str,
        target: str,
        location: str,
        version: int | None = None,
        principal: "Principal | str | None" = None,
    ) -> dict:
        """Governed zero-copy CLONE (sources.lake.clone_table): register
        ``target`` as an independent manifest table whose v1 snapshot is
        a retained snapshot of ``source``, hardlinked — no data copied,
        no scan planned, O(#files) driver-side. The catalog entry copies
        the source's declared schema, comments, column tags, partition
        keys AND its pending-column quarantine (a clone must not launder
        unapproved evolved columns into visibility); governance policy
        objects (filters, grants, LF tags) do NOT copy — the clone is a
        NEW resource that starts with only its creator's ALL grant, the
        same ownership rule as CTAS.

        Gate: admin or an unconditioned ALL grant on the SOURCE — a
        clone reproduces every row and column byte-for-byte, so a
        row-filtered or column-limited principal could otherwise
        exfiltrate past their grants with one statement (CTAS, by
        contrast, materializes THROUGH the governed query, which is why
        SELECT suffices there). Audited as ``CLONE TABLE`` incl.
        denials."""
        name = _principal_name(principal)
        src = self.catalog.tables[source]  # KeyError: fail closed
        suffix = f" VERSION AS OF {version}" if version is not None else ""
        with self._governed(
            name,
            f"CLONE TABLE {target} FROM {source}{suffix}",
            [source, target],
            owner=(src.database, src.name),
            denied="CLONE requires admin or ALL on source",
            refusal=(
                f"principal {name!r} may not clone {source}: a clone "
                "copies every row and column, so it requires an admin "
                "or an unconditioned ALL grant on the source"
            ),
        ) as audit:
            self._claim_table_name(target, audit)
            res = _lake.clone_table(src.location, location, version)
            db, _, tname = target.partition(".")
            self.catalog.register_table(
                _structure_copy(src, db, tname, location)
            )
            if name is not None:
                self.catalog.grant(name, ALL, db, tname)
        return res

    def unload(
        self,
        sql: str,
        path: str,
        principal: Principal | str | None = None,
        format: str = "parquet",
        partition_by: list[str] | None = None,
    ) -> str:
        """UNLOAD — write governed results to files without registering a
        table (Athena UNLOAD analog). Returns the output path."""
        df = self.sql(sql, principal)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if format == "parquet":
            writer.option("compression", "snappy").parquet(path)
        elif format == "csv":
            writer.option("header", "true").csv(path)
        elif format == "json":
            writer.json(path)
        elif format == "orc":
            writer.orc(path)
        else:
            raise ValueError(f"unsupported UNLOAD format {format!r}")
        return path

    # ---------------------------------------------------- maintenance
    def analyze_table(
        self,
        qualified: str,
        columns: list | None = None,
        principal: "Principal | str | None" = None,
    ) -> dict:
        """ANALYZE TABLE — compute table/column statistics and store
        them on the catalog entry (``TableDef.stats``; durable through
        ``catalog.save``), Spark's ``ANALYZE TABLE ... COMPUTE
        STATISTICS`` re-expressed for the governed catalog. The row
        count feeds the cost-based broadcast decision
        (``GovernedCatalog._broadcast_small``): governed joins against
        an analyzed small table plan as broadcast joins without the
        caller hand-placing hints.

        ``columns=None`` computes the row count only — for a
        manifest-committed table that is ZERO-scan (the manifest's
        footer row counts, :func:`sources.lake.count_rows`).
        ``columns=["*"]`` analyzes every declared non-pending column;
        an explicit list must name declared, approved columns (pending
        quarantined columns are refused with the approve cure — their
        values are not yet released to conditioned readers, so they
        must not leak through stats either). Column stats are computed
        in ONE aggregate pass over the table (partial aggregation
        map-side; no per-column jobs): non-null count, HLL NDV
        (``approx_count_distinct`` — one-pass and mergeable, the only
        NDV a 100 TB scan can afford), and min/max for atomic types
        (stringified for JSON durability).

        Gate: admin or an unconditioned ALL grant, exactly
        :meth:`maintain`'s rule — stats are TABLE-WIDE unfiltered
        aggregates, so a row-filtered principal could otherwise read
        a masked column's min/max through them. Audited as
        ``ANALYZE TABLE`` including denials.

        Returns the stored stats dict (also at
        ``catalog.tables[qualified].stats``)."""
        import time

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        name = _principal_name(principal)
        table = self.catalog.tables[qualified]  # KeyError: fail closed
        want = [str(c) for c in (columns or [])]
        audit_suffix = (
            " FOR ALL COLUMNS"
            if want == ["*"]
            else f" FOR COLUMNS {', '.join(want)}"
            if want
            else ""
        )

        with self._governed(
            name,
            f"ANALYZE TABLE {qualified}{audit_suffix}",
            [qualified],
            owner=(table.database, table.name),
            denied="ANALYZE requires admin or ALL grant",
            refusal=(
                f"principal {name!r} may not ANALYZE {qualified}: "
                "table-wide statistics require an admin or an "
                "unconditioned ALL grant (stats bypass row/column "
                "security by construction)"
            ),
        ) as audit:
            # resolve the column list against the DECLARED schema
            declared = (
                [f_.name for f_ in table.schema.fields]
                if table.schema is not None
                else []
            )
            pending = set(table.pending_columns)
            if want == ["*"]:
                cols = [c for c in declared if c not in pending]
            else:
                for c in want:
                    if c not in declared:
                        audit("failed", f"unknown column {c!r}")
                        raise ValueError(
                            f"ANALYZE: {qualified} declares no column {c!r} "
                            f"(declared: {declared})"
                        )
                    if c in pending:
                        audit("failed", f"column {c!r} pending approval")
                        raise ValueError(
                            f"ANALYZE: column {c!r} on {qualified} is "
                            "pending schema-evolution approval "
                            "(approve_evolved_columns releases it)"
                        )
                cols = want

            stats: dict = {"computed_at": time.time()}
            if table.format == "parquet":
                m = _lake.read_manifest(table.location)
                if m is not None:
                    stats["snapshot_version"] = m["version"]
            if not cols:
                info = (
                    _lake.count_rows(table.location)
                    if table.format == "parquet"
                    else None
                )
                if info is not None:
                    # metadata-only fast path: O(#files) driver arithmetic
                    stats["row_count"] = int(info["rows"])
                    stats["columns"] = {}
                    table.stats = stats
                    return dict(stats)
            df = self.catalog.table(qualified, principal)
            aggs = [F.count(F.lit(1)).alias("__rows__")]
            atomic: dict[str, bool] = {}
            numeric: dict[str, bool] = {}
            quantiles = [
                j / HISTOGRAM_BINS for j in range(HISTOGRAM_BINS + 1)
            ]
            for i, c in enumerate(cols):
                dt = df.schema[c].dataType
                atomic[c] = not isinstance(
                    dt, (T.ArrayType, T.MapType, T.StructType)
                )
                numeric[c] = isinstance(dt, T.NumericType)
                aggs.append(F.count(F.col(c)).alias(f"nn_{i}"))
                aggs.append(F.approx_count_distinct(F.col(c)).alias(f"ndv_{i}"))
                if atomic[c]:
                    aggs.append(F.min(F.col(c)).alias(f"mn_{i}"))
                    aggs.append(F.max(F.col(c)).alias(f"mx_{i}"))
                if numeric[c]:
                    # equi-height histogram bounds (Spark/Athena CBO's
                    # histogram shape): HISTOGRAM_BINS+1 approximate
                    # quantiles from the SAME single aggregate pass —
                    # percentile_approx is one-pass and mergeable like the
                    # HLL NDV, so histograms add no extra job
                    aggs.append(
                        F.percentile_approx(
                            F.col(c).cast("double"), quantiles, 10000
                        ).alias(f"hist_{i}")
                    )
            row = df.agg(*aggs).collect()[0]
            n = int(row["__rows__"])
            stats["row_count"] = n
            colstats: dict = {}
            for i, c in enumerate(cols):
                entry = {
                    "null_count": n - int(row[f"nn_{i}"]),
                    "ndv_approx": int(row[f"ndv_{i}"]),
                }
                if atomic[c]:
                    mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
                    entry["min"] = None if mn is None else str(mn)
                    entry["max"] = None if mx is None else str(mx)
                if numeric[c]:
                    bounds = row[f"hist_{i}"]
                    if bounds is not None:
                        # equi-height by construction: each of the
                        # HISTOGRAM_BINS bins holds ~non_null/bins rows;
                        # a value spanning k>=2 consecutive equal bounds
                        # therefore holds >=(k-1)/bins of the rows — the
                        # skew evidence histogram_skewed_values consumes
                        entry["histogram"] = [float(b) for b in bounds]
                colstats[c] = entry
            stats["columns"] = colstats
            table.stats = stats
            return dict(stats)

    def maintain(
        self,
        qualified: str,
        action: str,
        principal: "Principal | str | None" = None,
        **kwargs,
    ) -> dict:
        """Governed storage maintenance — the OPTIMIZE/VACUUM statement
        surface, gated like a destructive DDL: maintenance REWRITES
        table storage, so it requires an admin (main.tf:82-91) or an
        unconditioned ALL grant on the table — SELECT (even unfiltered)
        is read permission and does not qualify. Every invocation
        (including denials) is audit-logged as ``MAINTAIN <action>``.

        Actions:
        - ``"optimize_binpack"`` — targeted small-file OPTIMIZE
          (sources.lake.optimize_binpack): rewrites only the
          below-target tail per partition dir, carries everything
          else by name; the maintenance-cadence op between full
          compactions. Works on tombstoned, renamed and
          partition-evolved tables: packed files leave deleted rows
          out, keep physical column names and take the current spec.
        - ``"compact"`` — in-place small-file compaction
          (sources.lake.compact_in_place; ``target_file_bytes=`` kwarg)
          of every file, partitioned by the table's declared partition
          keys, which must match the committed layout; it also purges
          tombstones, heals a rename mapping and migrates retired
          partition specs.
        - ``"expire_versions"`` — SCD2 retention
          (sources.lake.expire_scd2_versions; ``before=`` required,
          plus its column kwargs);
        - ``"vacuum_artifacts"`` — reclaim crashed-publish staging/trash
          (sources.lake.vacuum_publish_artifacts; ``min_age_seconds``
          defaults to 3600 here so an in-flight publish in another
          process is never reaped — pass 0 explicitly for
          single-writer pipelines);
        - ``"delete_rows"`` — physical row erasure, the governed GDPR
          path (sources.lake.delete_rows; ``predicate=`` required).
          The audit line records that an erasure ran against the table
          — the compliance trail a right-to-be-forgotten request needs.
        - ``"update_rows"`` — in-place UPDATE (sources.lake.update_rows;
          ``assignments=`` and ``predicate=`` required): touched-
          partition rewrite replacing matched rows with their SET-
          transformed selves. The audit line records the verbatim
          SET list and predicate — the same change-trail rule as
          erasure. History is NOT truncated (UPDATE is a mutation,
          not erasure).
        - ``"delete_rows_mor"`` — merge-on-read DELETE
          (sources.lake.delete_rows_mor; ``predicate=`` required): a
          metadata-only tombstone commit on a manifest table. Same
          grant gate, verbatim-predicate audit line, and fail-closed
          pending-column check as ``delete_rows`` — but NOT erasure
          (rows persist until ``purge_deletes`` + ``expire_snapshots``).
        - ``"purge_deletes"`` — materialize accumulated merge-on-read
          tombstones (sources.lake.purge_deleted_rows): rewrites only
          covered files, clears every tombstone.
        - ``"expire_snapshots"`` — time-travel retention on a
          manifest-committed table (sources.lake.vacuum_manifests;
          ``keep_last=`` defaults to 1): snapshots past the horizon and
          the data files only they reference are physically removed.
        - ``"rollback"`` — RESTORE to a retained snapshot
          (sources.lake.rollback_table; ``to_version=`` required): a
          pure metadata commit, no data movement; the audited
          recover-from-bad-publish path. Cannot resurrect erased rows
          (delete_rows truncates history first).
        - ``"evolve_partitioning"`` — change the table's partition
          layout as a metadata commit
          (sources.lake.evolve_partitioning; ``new_partition_by=``
          required, ``[]`` for unpartitioned; columns must be on the
          declared schema and not pending approval). The catalog's
          declared ``partition_keys`` follow the new spec, so later
          ``compact``/``delete_rows`` derive the right layout.
        - ``"tag"`` / ``"drop_tag"`` — snapshot tags
          (sources.lake.tag_snapshot / drop_tag; ``name=`` required,
          ``to_version=`` optional): a tag PINS retention, so creating
          one is a storage-cost decision and dropping one releases
          data to the next vacuum — both admin-gated and audited.
        - ``"create_branch"`` / ``"fast_forward"`` / ``"drop_branch"``
          — branch lifecycle (sources.lake; ``name=`` required,
          ``to_version=`` optional on create). Branch WRITES go through
          the lake layer (append_rows ``branch=``); the lifecycle sits
          here because creating a branch pins retention, fast-forward
          atomically changes what every reader sees, and dropping one
          releases its chain to the next vacuum — all admin-gated and
          audited.
        - ``"retrain_ivf"`` — OPTIMIZE-class rebuild of a registered
          IVF index table (operators.similarity.retrain_ivf;
          ``iterations=`` optional): recompute the coarse quantizer
          from current contents, reassign every vector, rewrite the
          cell-partitioned layout atomically. The ingest path freezes
          the quantizer (ann_ivf_index_append); this is drift's cure,
          on the maintenance cadence.
        - ``"rename_column"`` — ALTER TABLE RENAME COLUMN
          (catalog.rename_column; ``old=`` and ``new=`` required):
          storage rename as one metadata commit (frozen physical
          names) plus identity-preserving migration of every catalog
          policy object naming the column — schema, comments, tags,
          pending status, data-cells filter allowlists and row
          predicates; referencing views fail closed.
        - ``"widen_column"`` — ALTER COLUMN TYPE safe widening
          (catalog.widen_column; ``column=`` and ``ddl_type=``
          required): manifest + catalog schemas widen together as one
          metadata commit; narrowing/cross-family/partition keys
          refuse.
        - ``"add_files"`` — import bulk-landed parquet
          (sources.lake.add_files; ``source=`` required): O(new
          files) hardlink commit, layout/schema validated,
          constraints verified over the new data, footer stats
          recorded at import.
        - ``"truncate"`` — TRUNCATE TABLE
          (sources.lake.truncate_table): one zero-file snapshot
          commit; a mutation, not erasure (time travel keeps the old
          cut until vacuum).
        - ``"msck_repair"`` — MSCK REPAIR TABLE
          (catalog.repair_table): index a declared location's hive
          layout + footer row counts; drift falls open at serve time.
        - ``"add_constraint"`` / ``"drop_constraint"`` — named CHECK
          constraints (sources.lake.add_constraint/drop_constraint;
          ``constraint=``, plus ``expr=`` on add): existing data
          validates first; every later batch validates one staged
          scan.

        Same fail-closed location guard as drop_table(delete_data=True):
        the catalog must have a ``lake_root`` and the table location
        must resolve under it — a table registered at a mistaken or
        hostile location must not be rewritten.
        """
        name = _principal_name(principal)
        spec = _MAINTAIN_ACTIONS.get(action)
        if spec is not None and spec.refuse_mv:
            # derived state: REFRESH maintains it (layout-only actions
            # like optimize/vacuum stay allowed)
            self._refuse_mv_mutation(qualified, spec.refuse_mv)
        table = self.catalog.tables[qualified]  # KeyError: fail closed
        complete = spec is not None and all(
            kwargs.get(k) is not None for k in spec.required
        )
        suffix = spec.suffix(kwargs) if complete and spec.suffix else ""
        with self._governed(
            name,
            f"MAINTAIN {action} {qualified}{suffix}",
            [qualified],
            owner=(table.database, table.name),
            denied="maintenance requires admin or ALL grant",
            refusal=(
                f"principal {name!r} may not run maintenance on "
                f"{qualified}: requires admin or an unconditioned ALL "
                "grant"
            ),
            ok="ok",
        ) as audit:
            loc = Path(table.location).resolve()
            if self.catalog.lake_root is None or not loc.is_relative_to(
                Path(self.catalog.lake_root).resolve()
            ):
                audit("denied", "location outside lake root")
                raise ValueError(
                    f"refusing to maintain {loc}: catalog lake_root must be "
                    "configured and contain the table location (fail-closed "
                    "guard, same rule as destructive drops)"
                )
            if spec is None:
                audit("failed", f"unknown action {action!r}")
                raise ValueError(f"unknown maintenance action {action!r}")
            if not complete:
                need = " and ".join(f"{k}=" for k in spec.required)
                audit("failed", f"{action} requires {need}")
                raise ValueError(f"{action} requires {need}")
            return self._maintain_action(action, table, qualified, kwargs, audit)

    def _maintain_action(
        self, action: str, table, qualified: str, kwargs: dict, audit
    ) -> dict:
        """Run one gated, argument-checked maintain() action."""
        spark, loc = self.spark, table.location
        if action == "compact":
            # pass the declared schema down: a schema-evolved table's new
            # column lives only in touched partitions' files, and a
            # schema-inference read before the atomic full rewrite would
            # drop it permanently
            kwargs.setdefault("schema", table.schema)
            before, after = _lake.compact_in_place(
                spark, loc, partition_by=list(table.partition_keys) or None,
                **kwargs,
            )
            return {"files_before": before, "files_after": after}
        if action == "optimize_binpack":
            # targeted bin-pack: rewrites only the small-file tail
            return _lake.optimize_binpack(spark, loc, **kwargs)
        if action == "expire_versions":
            # same layout derivation as delete_rows: the catalog knows
            # the partition keys, so the retention rewrite stays bounded
            # to partitions containing expired rows
            if len(table.partition_keys) > 1:
                # expire's signature is single-col; falling through with
                # partition_col=None would swap in an UNPARTITIONED full
                # rewrite, silently destroying the hive layout the
                # catalog still declares
                audit("failed", "expire_versions on multi-key table")
                raise ValueError(
                    f"expire_versions supports at most one partition key; "
                    f"{qualified} declares {list(table.partition_keys)}"
                )
            if len(table.partition_keys) == 1:
                kwargs.setdefault("partition_col", table.partition_keys[0])
            return _lake.expire_scd2_versions(spark, loc, **kwargs)
        if action == "vacuum_artifacts":
            # operational default: never reap an artifact younger than
            # an hour — it may belong to a publish in progress in
            # another process (vacuum_publish_artifacts' contract)
            kwargs.setdefault("min_age_seconds", 3600.0)
            return {"removed": _lake.vacuum_publish_artifacts(loc, **kwargs)}
        if action in ("update_rows", "delete_rows", "delete_rows_mor"):
            # Fail-closed schema evolution extends to maintenance: a
            # pending (evolved, not-yet-approved) column is invisible to
            # every conditioned read path — a maintainer must not be
            # able to USE it either, e.g. to erase rows by a column
            # nobody has classified yet. The predicate and every SET
            # target/expression are tokenized, not parsed: any
            # identifier collision with a pending column fails closed.
            predicate = kwargs.get("predicate")
            texts = [] if predicate is None else [str(predicate)]
            for c, e in (kwargs.get("assignments") or {}).items():
                texts += [c, str(e)]
            struck = sorted(
                {
                    t
                    for x in texts
                    for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", x)
                }
                & set(table.pending_columns)
            )
            if struck:
                if action == "update_rows":
                    what, verb = "update uses", "update_rows"
                else:
                    what, verb = "predicate uses", "delete_rows predicate"
                audit("denied", f"{what} pending columns {struck}")
                raise PermissionDeniedError(
                    f"{verb} references pending-approval column(s) "
                    f"{struck} on {qualified}; approve the evolved "
                    "columns first (fail-closed schema evolution)"
                )
            if action == "delete_rows_mor":
                # merge-on-read: a metadata-only tombstone commit — NOT
                # erasure (the audit line carries the predicate either
                # way; the GDPR trail needs the eager path)
                return _lake.delete_rows_mor(spark, loc, **kwargs)
            # the catalog knows the layout — derive partition pruning
            # from the declared partition keys unless overridden
            kwargs.setdefault("partition_col", list(table.partition_keys) or None)
            if action == "delete_rows":
                return _lake.delete_rows(spark, loc, **kwargs)
            kwargs.setdefault("schema", table.schema)
            return _lake.update_rows(spark, loc, **kwargs)
        if action == "purge_deletes":
            return _lake.purge_deleted_rows(spark, loc, **kwargs)
        if action == "expire_snapshots":
            kwargs.setdefault("keep_last", 1)
            return _lake.vacuum_manifests(loc, **kwargs)
        if action == "rollback":
            return _lake.rollback_table(loc, kwargs["to_version"])
        if action == "evolve_partitioning":
            new_pb = list(kwargs["new_partition_by"])
            # a pending (unclassified) column must not become the
            # table's physical layout — directory names leak its values
            # to anyone who can list storage
            struck = sorted(set(new_pb) & set(table.pending_columns))
            if struck:
                audit("denied", f"layout uses pending columns {struck}")
                raise PermissionDeniedError(
                    f"new partition columns {struck} on {qualified} are "
                    "pending approval; approve the evolved columns first"
                )
            snap = _lake.evolve_partitioning(loc, new_pb)
            # keep the catalog's declared layout in step — compact /
            # delete_rows derive partitioning from it
            table.partition_keys = tuple(new_pb)
            return {"version": snap["version"], "partition_by": snap["partition_by"]}
        if action == "tag":
            return _lake.tag_snapshot(
                loc, kwargs["name"], version=kwargs.get("to_version")
            )
        if action == "drop_tag":
            return {"dropped": _lake.drop_tag(loc, kwargs["name"])}
        if action == "create_branch":
            return _lake.create_branch(
                loc, kwargs["name"], version=kwargs.get("to_version")
            )
        if action == "fast_forward":
            # PUBLISHES the branch chain to every reader — the
            # state-changing half of the branch lifecycle, which is
            # exactly why it sits behind the maintain gate + audit
            return {"version": _lake.fast_forward(loc, kwargs["name"])["version"]}
        if action == "drop_branch":
            return {"dropped": _lake.drop_branch(loc, kwargs["name"])}
        if action == "retrain_ivf":
            # OPTIMIZE-class centroid rebuild for the incremental IVF
            # index (ann_ivf_index_append freezes the quantizer on the
            # ingest path by design — drift's governed cure lives here)
            from .operators.similarity import retrain_ivf

            return retrain_ivf(spark, loc, **kwargs)
        if action == "rename_column":
            # catalog.rename_column commits storage first, then migrates
            # schema/tags/filters — all-or-nothing from the caller's view
            self.catalog.rename_column(qualified, kwargs["old"], kwargs["new"])
            return {"renamed": [kwargs["old"], kwargs["new"]]}
        if action == "drop_column":
            # metadata-only on schema-on-read; catalog.drop_column
            # fail-closes on every referencing object (views, MVs,
            # data-cells filters, CHECK constraints, partition keys)
            self.catalog.drop_column(qualified, kwargs["column"])
            return {"dropped_column": kwargs["column"]}
        if action == "msck_repair":
            # metadata sync, not a rewrite — but indexing a location is
            # an operator action on the table (same admin-or-ALL rule)
            return self.catalog.repair_table(qualified)
        if action == "truncate":
            # rows_removed counts INSIDE truncate_table's publish lock: a
            # concurrent append between a pre-lock count and the
            # zero-file commit must never make the report understate
            # what was removed
            snap = _lake.truncate_table(loc, spark=spark)
            return {"rows_removed": snap["rows_removed"], "version": snap["version"]}
        if action == "add_constraint":
            # existing data validates FIRST (one scan); the commit is
            # metadata-only and every later batch validates against it
            _lake.add_constraint(spark, loc, kwargs["constraint"], kwargs["expr"])
            return {"added_constraint": kwargs["constraint"]}
        if action == "drop_constraint":
            _lake.drop_constraint(loc, kwargs["constraint"])
            return {"dropped_constraint": kwargs["constraint"]}
        if action == "drop_partition":
            return self._drop_partition(table, qualified, kwargs, audit)
        if action == "add_files":
            # the import accounting comes from add_files itself, computed
            # under the publish lock from the files THIS commit linked (a
            # pre-lock manifest diff here would misattribute a
            # concurrent writer's files)
            snap = _lake.add_files(spark, loc, kwargs["source"])
            return {
                "files_added": snap["files_added"],
                "rows_added": snap["rows_added"],
                "version": snap["version"],
            }
        if action == "widen_column":
            # metadata-only safe widening; catalog.widen_column refuses
            # narrowing, cross-family changes, and partition keys
            self.catalog.widen_column(
                qualified, kwargs["column"], kwargs["ddl_type"]
            )
            return {
                "widened_column": kwargs["column"],
                "new_type": kwargs["ddl_type"],
            }
        raise ValueError(f"unknown maintenance action {action!r}")

    def _drop_partition(self, table, qualified: str, kwargs: dict, audit) -> dict:
        """ALTER TABLE DROP PARTITION through maintain(): the named
        partition's files leave the snapshot in one commit."""
        pkeys = list(table.partition_keys)
        if not pkeys:
            audit("failed", "table is unpartitioned")
            raise ValueError(
                f"DROP PARTITION requires a partitioned table — "
                f"{qualified} is unpartitioned (a full clear is "
                "TRUNCATE TABLE)"
            )
        # canonicalize spec names case-insensitively and require full
        # coverage — the same rules as the static INSERT OVERWRITE
        # PARTITION spec (one partition = one full tuple)
        canon = {k.lower(): k for k in pkeys}
        spec = dict(kwargs["spec"])
        unknown_p = sorted(k for k in spec if k.lower() not in canon)
        if unknown_p:
            audit("failed", f"non-partition column(s) {unknown_p}")
            raise ValueError(
                f"PARTITION spec names non-partition column(s) "
                f"{unknown_p} on {qualified} (partition keys: "
                f"{sorted(canon.values())})"
            )
        spec = {canon[k.lower()]: v for k, v in spec.items()}
        if set(spec) != set(canon.values()):
            audit("failed", "spec must cover every partition key")
            raise ValueError(
                f"PARTITION spec must cover every partition key of "
                f"{qualified} ({sorted(canon.values())})"
            )
        if any(v is None for v in spec.values()):
            audit("failed", "NULL partition values unsupported")
            raise ValueError("PARTITION spec values must be non-NULL literals")
        relpath = _lake.hive_partition_relpath(
            pkeys, tuple(spec[k] for k in pkeys)
        )
        cur = _lake.adopt_table(
            table.location, pkeys, self.spark, table.schema
        ) or {"files": []}
        # the evolved-layout refusal must come BEFORE the existence
        # check: rows of the named logical partition may live in files
        # under a RETIRED spec's directory naming, so both "exists" and
        # the directory-named drop would be wrong
        if cur.get("partition_specs"):
            audit("failed", "live files on retired partition specs")
            raise ValueError(
                f"table {qualified} has live files on retired "
                "partition specs — a directory-named DROP PARTITION "
                "would miss rows written under the old layout; run "
                "OPTIMIZE to heal to the current spec first"
            )
        exists = any(
            (f.rsplit("/", 1)[0] if "/" in f else "") == relpath
            for f in cur["files"]
        )
        if not exists:
            if kwargs.get("if_exists"):
                return {
                    "partition": relpath,
                    "files_removed": 0,
                    "rows_removed": 0,
                    "version": None,
                }
            audit("failed", f"partition {relpath} does not exist")
            raise ValueError(
                f"partition {relpath} does not exist on {qualified} "
                "(IF EXISTS makes this a no-op)"
            )
        # the retirement itself is the static-overwrite machinery with
        # an EMPTY batch: one atomic manifest commit under the publish
        # lock — partition-evolved tables refuse there with the
        # OPTIMIZE cure, constraints/rename guards re-check, and time
        # travel keeps the old cut until vacuum
        snap = _lake.overwrite_partitions(
            self.spark,
            table.location,
            local_frame(self.spark, [], table.schema),
            pkeys,
            replace_partitions=[relpath],
        )
        return {
            "partition": relpath,
            "files_removed": int(snap["files_replaced"]),
            "rows_removed": int(snap["rows_replaced"]),
            "version": int(snap["version"]),
        }

    # ------------------------------ multi-table staged publish (r10)
    def stage_and_publish(
        self,
        tables: list,
        writer,
        principal: "Principal | str | None" = None,
    ) -> dict:
        """Coordinated multi-table publish — the shipped alternative to
        catalog-level multi-table transactions (SURVEY §7.5's documented
        non-goal, wrapped as one governed convenience per the round-9
        review): every write inside ``writer(stage)`` lands on a
        per-table staging BRANCH (invisible to every reader), and after
        the callback returns the branches fast-forward back-to-back —
        so the cross-table inconsistency window is exactly N pointer
        renames, each individually atomic, instead of N full write
        jobs.

        ``writer`` receives a :class:`PublishStage`: ``stage.append(
        qualified, df)`` commits onto that table's branch (partition
        layout defaults to the catalog's declared keys);
        ``stage.read(qualified)`` is the write-audit read of the staged
        head. Gating: admin-or-unconditioned-ALL on EVERY named table,
        checked before any branch exists. Audit: one span line (ok /
        failed) naming all tables.

        Failure contract (honest, not pretend-atomic): an error before
        any fast-forward abandons the staging branches (dropped; their
        snapshots age out) and no reader ever saw anything. An error
        BETWEEN fast-forwards leaves earlier tables published — a
        pointer rename cannot be unpublished — so the audit line names
        exactly which tables landed; the remaining branches are KEPT
        for a retry (re-run fast_forward via
        ``maintain(q, 'fast_forward', name=...)``). The only cause is
        a concurrent main commit on a later table
        (ConcurrentLakeModificationError — re-branch and replay).

        100 TB: staging is zero-copy (branch commits ARE the table's
        files under unique names); publication cost is O(tables)
        renames regardless of how many commits or TB each branch
        carries."""

        def publish(tdefs, branch, published):
            # the publication window: one pointer rename per table,
            # nothing else — readers see each table flip old->new
            # complete, and the cross-table skew is bounded by the
            # rename loop, not by any data movement
            for q, td in tdefs.items():
                published[q] = _lake.fast_forward(td.location, branch)[
                    "version"
                ]
            return {"branch": branch, "versions": published}

        def landed(published, branch):
            return (
                f"published={sorted(published)} before error; "
                f"remaining branches kept as {branch!r}"
            )

        return self._staged(
            "STAGE AND PUBLISH", "staged", "published", tables, writer,
            principal, publish, landed,
        )

    def lake_transaction(
        self,
        tables: list,
        writer,
        principal: "Principal | str | None" = None,
    ) -> dict:
        """Cross-table ATOMIC commit through the lake transaction log
        (round-12; upgrades :meth:`stage_and_publish`'s N-rename window
        to one): writes stage on per-table branches exactly as in
        stage_and_publish, then ONE ``_txlog`` record naming every
        (table, staged version) pair commits the whole cut —
        txlog-aware readers (:func:`~.sources.txlog.read_table_txn`,
        :meth:`table_txn`) see all named tables flip together; the
        per-table pointer moves are demoted to idempotent propagation
        performed inside the same locked region (crash-healed by
        ``sources.txlog.txlog_roll_forward``).

        Requires the catalog to have a ``lake_root`` (the txlog lives
        at its top level). Gating, staging, and audit match
        stage_and_publish; the failure contract is strictly better —
        any error BEFORE the record rename abandons the branches with
        nothing visible; after it, the transaction is committed and
        only propagation can lag (never torn for txn readers).

        100 TB: the commit is O(tables) JSON bytes + renames; staging
        stays zero-copy branch commits."""
        from .sources import txlog as _txlog

        if self.catalog.lake_root is None:
            raise ValueError(
                "lake_transaction needs a catalog lake_root for _txlog"
            )

        def commit(tdefs, branch, committed):
            pins = {
                td.location: _lake.branch_head(td.location, branch)["version"]
                for td in tdefs.values()
            }
            # THE commit point: one record rename pins the whole cut
            # (and propagates the pointers under the tables' locks)
            committed["rec"] = rec = _txlog.txlog_commit(
                self.catalog.lake_root, pins
            )
            return {
                "seq": rec["seq"],
                "versions": {
                    q: rec["pins"][_txlog._table_key(td.location)]
                    for q, td in tdefs.items()
                },
            }

        def landed(committed, branch):  # pragma: no cover - propagation
            return (
                f"txlog seq={committed['rec']['seq']} committed; "
                "propagation error (heal via txlog_roll_forward)"
            )

        return self._staged(
            "LAKE TRANSACTION", "txn", "committed", tables, writer,
            principal, commit, landed,
        )

    def _staged(
        self, verb: str, prefix: str, done: str, tables: list, writer,
        principal, commit, landed,
    ) -> dict:
        """The staging body :meth:`stage_and_publish` and
        :meth:`lake_transaction` share: gate every table (admin or
        unconditioned ALL, before any branch exists), create one staging
        branch per table, run ``writer(PublishStage)``, then
        ``commit(tdefs, branch, progress)`` makes the staged heads
        visible and returns the result fields; the branches are dropped
        after. Audit: one span line, ``ok`` or ``failed``. A failure
        before ``commit`` recorded any ``progress`` drops the branches
        (nothing ``done``, no reader saw anything); after, the line
        says what ``landed(progress, branch)`` and the branches stay."""
        name = _principal_name(principal)
        tdefs = {q: self.catalog.tables[q] for q in tables}  # KeyError: closed
        for q, td in tdefs.items():
            self._mv_gate(name, td, verb, q)
        span = uuid.uuid4().hex[:12]
        branch = f"{prefix}_{span}"
        with self._governed(
            name,
            f"{verb} span={span} tables=({', '.join(tables)})",
            list(tables),
            ok="ok",
        ) as audit:
            created: list[str] = []
            progress: dict = {}
            try:
                for td in tdefs.values():
                    _lake.create_branch(td.location, branch)
                    created.append(td.location)
                writer(PublishStage(self, branch, tdefs))
                result = commit(tdefs, branch, progress)
            except Exception as exc:  # noqa: BLE001 — audit then surface
                if not progress:
                    for loc in created:
                        _lake.drop_branch(loc, branch)
                    audit("failed", f"nothing {done}; {exc}")
                else:
                    audit("failed", f"{landed(progress, branch)}; {exc}")
                raise
            for td in tdefs.values():
                _lake.drop_branch(td.location, branch)
        return {"span": span, **result}

    def maintain_txlog(
        self,
        action: str,
        principal: "Principal | str | None" = None,
        **kwargs,
    ) -> dict:
        """Governed LAKE-level maintenance for the transaction log
        (round-12). Actions:

        - ``"roll_forward"`` — heal a crash between a txlog commit and
          its pointer propagation (sources.txlog.txlog_roll_forward);
        - ``"vacuum"`` — retention for the log
          (sources.txlog.txlog_vacuum; ``keep_last=`` defaults to 20).

        ADMIN-ONLY: a txlog record spans tables, so no per-table grant
        can authorize touching it — the same reasoning that makes
        lake_transaction's gate the union of its tables' gates, applied
        to the artifact that outlives any one table. Every invocation
        (including denials) is audited as ``MAINTAIN TXLOG <action>``.
        """
        from .sources import txlog as _txlog

        if action not in ("roll_forward", "vacuum"):
            raise ValueError(f"unknown txlog maintenance action {action!r}")
        if self.catalog.lake_root is None:
            raise ValueError("maintain_txlog needs a catalog lake_root")
        name = _principal_name(principal)
        with self._governed(
            name,
            f"MAINTAIN TXLOG {action}",
            [],
            admin_only=True,
            denied="txlog maintenance is admin-only",
            refusal=(
                f"principal {name!r} may not maintain the lake transaction "
                "log: it spans tables, so only an admin qualifies"
            ),
            ok="ok",
        ):
            if action == "roll_forward":
                return {
                    "tables": _txlog.txlog_roll_forward(self.catalog.lake_root)
                }
            return _txlog.txlog_vacuum(self.catalog.lake_root, **kwargs)

    def table_txn(self, qualified: str, principal=None) -> DataFrame:
        """Governed read through the lake transaction log: the same
        security rewrite as :meth:`~GovernedCatalog.table`, with the
        scan pinned to the newest committed txlog cut when it is ahead
        of the table's main pointer. One tiny JSON resolution on top
        of the ordinary governed read."""
        from .sources import txlog as _txlog

        td = self.catalog.tables[qualified]
        v = None
        if self.catalog.lake_root is not None:
            v = _txlog.txlog_resolve(self.catalog.lake_root, td.location)
        return self.catalog.table(qualified, principal, version=v)

    # --------------------------------------- materialized views (r9)
    def _mv_gate(self, name, table, verb: str, qualified: str) -> None:
        """Same admin-or-unconditioned-ALL rule as maintain(): creating
        or refreshing an MV scans the SOURCE outside row/column
        security, so it is an operator action, audited incl. denials."""
        self._gate(
            name,
            f"{verb} {qualified}",
            [qualified],
            owner=(table.database, table.name),
            denied="requires admin or ALL grant",
            refusal=(
                f"principal {name!r} may not {verb} {qualified}: "
                "requires admin or an unconditioned ALL grant on the "
                "source"
            ),
        )

    # MV state files target ~this many rows each. The toy MVs (tens of
    # groups) stay one file; a 100×-cardinality group key fans the
    # write out across tasks instead of serializing it through one
    # (round-9 VERDICT "what's wrong" #3). Override per-Engine for
    # tests or unusual row widths.
    mv_state_rows_per_file: int = 1_000_000

    def _mv_state_frame(
        self, state: DataFrame, group_by, src_location: str | None = None
    ) -> DataFrame:
        """Partition the MV state for publication: O(groups) rows land
        in ceil(n / mv_state_rows_per_file) files (capped at 256),
        hashed by group key.

        Fast path: groups <= source rows, and the source's row count is
        metadata-only arithmetic on a manifest table (count_rows, zero
        scan) — so a small source proves a one-file state without the
        pin-and-count job the sizing otherwise needs. Only states that
        MIGHT exceed one file pay the localCheckpoint + count (pinned
        so the count and the write see one materialization)."""
        if src_location is not None:
            from .sources.lake import count_rows

            meta = count_rows(src_location)
            if (
                meta is not None
                and meta["rows"] <= int(self.mv_state_rows_per_file)
            ):
                return state.coalesce(1)
        staged = state.localCheckpoint(eager=True)
        n = staged.count()
        parts = max(
            1, min(256, -(-n // int(self.mv_state_rows_per_file)))
        )
        if parts == 1:
            return staged.coalesce(1)
        return staged.repartition(parts, *group_by)

    def _mv_enrich(self, fact: DataFrame, enrich: dict, dim_version: int):
        """LEFT-join the fact frame to the enrich dimension PINNED at
        ``dim_version`` — used identically by the creation scan and the
        refresh feed, which is what makes enriched refresh exact. The
        dimension broadcasts (an enrich dim is small by definition —
        the 100 TB join strategy for fact×dim); join keys ride
        temporary ``__mvdim_<i>`` aliases so equal-named keys never
        collide, and selected dim columns are collision-checked against
        the fact schema (alias in ``select`` before enriching)."""
        from functools import reduce

        from pyspark.sql import functions as F

        from .sources.lake import read_table

        dim_td = self.catalog.tables[enrich["table"]]
        dim = read_table(
            self.spark,
            dim_td.location,
            schema=dim_td.schema,
            version=dim_version,
        )
        on = enrich["on"]
        sel = list(enrich["select"]) or [
            c for c in dim.columns if c not in set(on.values())
        ]
        bad = sorted(set(sel) - set(dim.columns))
        if bad:
            raise ValueError(
                f"enrich select names unknown dimension column(s) {bad}"
            )
        overlap = sorted(set(sel) & set(fact.columns))
        if overlap:
            raise ValueError(
                f"enrich dimension column(s) {overlap} collide with fact "
                "columns — project/alias the dimension (enrich['select']) "
                "first"
            )
        keys = list(on.items())
        renamed = dim.select(
            *[F.col(dc).alias(f"__mvdim_{i}") for i, (_fc, dc) in enumerate(keys)],
            *sel,
        )
        cond = reduce(
            lambda a, b: a & b,
            [
                fact[fc] == renamed[f"__mvdim_{i}"]
                for i, (fc, _dc) in enumerate(keys)
            ],
        )
        return fact.join(F.broadcast(renamed), cond, "left").drop(
            *[f"__mvdim_{i}" for i in range(len(keys))]
        )

    @staticmethod
    def _mv_view_sql(
        state_q: str, group_by, measures: dict, derived: dict
    ) -> str:
        """SELECT body of the view fronting a derived-measure MV: group
        columns and physical measures pass through; avg derives as
        CAST(sum AS DOUBLE)/n (NULL when the group has no non-null
        values — n=0 division yields NULL, matching AVG);
        approx_count_distinct derives as the HLL estimate."""
        parts = list(group_by)
        for out, (agg, _col) in measures.items():
            if agg == "avg":
                _kind, s, n = derived[out]
                parts.append(f"CAST({s} AS DOUBLE) / {n} AS {out}")
            elif agg == "approx_count_distinct":
                _kind, h = derived[out]
                parts.append(f"hll_sketch_estimate({h}) AS {out}")
            else:
                parts.append(out)
        return f"SELECT {', '.join(parts)} FROM {state_q}"

    @staticmethod
    def _discovered_count(td) -> dict | None:
        """count_rows-shaped answer from a declared-location table's
        MSCK index (catalog.repair_table) — guarded by an exact
        re-listing: every indexed file must still exist at its indexed
        size and NO unindexed data file may have appeared, or the
        answer is ``None`` (fall open to the scan). The guard costs one
        directory walk + O(#files) stat calls, no footer reads — the
        GetPartitions-class price Athena pays per query on external
        tables."""
        from pathlib import Path

        from .sources.lake import _data_file_relpaths

        disc = getattr(td, "discovered", None)
        if not disc:
            return None
        live = Path(td.location)
        if not live.is_dir():
            return None
        indexed = disc["files"]
        current = _data_file_relpaths(live)
        if set(current) != set(indexed):
            return None  # landed/removed files: drift
        for rel in current:
            try:
                if (live / rel).stat().st_size != int(indexed[rel][0]):
                    return None  # rewritten in place: drift
            except OSError:
                return None
        return {
            "rows": int(disc["rows"]),
            "partitions": dict(disc["partitions"]),
            "partition_by": list(td.partition_keys or []),
            "version": None,
        }

    def _try_metadata_count(self, sql: str, principal, qe: QueryExecution):
        """Serve a bare ``SELECT count(*) FROM <db.t>`` — or the
        per-partition form ``SELECT <partition cols>, count(*) AS a
        FROM <db.t> GROUP BY <partition cols>`` (the Iceberg
        partitions-metadata-table analog) — from the manifest's
        recorded per-file footer row counts (round-13; closes r12
        What's missing #3) — zero I/O, no scan planned. Returns the
        DataFrame, or ``None`` to fall open to the ordinary governed
        scan.

        Exactness conditions (all required — L13's eligibility
        pattern):

        - the query is EXACTLY the bare-count shape
          (statements.parse_bare_count) or the grouped-count shape
          with every group column a PARTITION column (values decoded
          from hive dir names; null partitions, layout drift, and
          non-atomic partition types fall back): any WHERE / join /
          other measures / time travel falls back;
        - the table is a manifest-committed parquet table whose
          current snapshot answers sources.lake.count_rows exactly —
          merge-on-read tombstones or pre-recording snapshots return
          None there and we scan;
        - governance: implicit deny raises here exactly as the scan
          would; any CONDITIONED access (row filter, column allowlist,
          tag exclude) falls back — a row filter changes the count.

        The audit trail carries a ``COUNT_STATS:<table>`` marker in
        filters_applied (the MV_REWRITE tag pattern), so a reviewer
        can see the result came from statistics, not a scan. 100 TB:
        a trillion-row table's count is O(#files) driver-side
        arithmetic already paid for at commit time."""
        from pyspark.sql import types as T

        from .sources.lake import count_rows
        from .statements import parse_bare_count

        parsed = parse_bare_count(sql)
        group_by: tuple = ()
        order_by: tuple = ()
        limit = None
        if parsed is not None:
            alias, qualified = parsed
        else:
            # the GROUP BY form: SELECT <partition cols...>, count(*)
            # AS a FROM db.t GROUP BY <partition cols> — the Iceberg
            # partitions-metadata-table analog, served from the
            # manifest's per-partition file row counts
            from .statements import parse_aggregate_query

            agg = parse_aggregate_query(sql)
            if agg is None:
                return None
            qualified, group_by, measures, where, order_by, limit = agg
            if where is not None or len(measures) != 1:
                return None
            alias, kind, _col = measures[0]
            if kind != "count":
                return None
        td = self.catalog.tables.get(qualified)
        if td is None or td.format != "parquet":
            return None  # views/unknown names: ordinary path resolves
        if group_by and not set(group_by) <= set(td.partition_keys or ()):
            return None  # only partition columns live in dir names
        name = _principal_name(principal)
        if not self._ungated(name):
            if name is None:
                return None  # anonymous: let the scan path rule
            # raises implicit deny exactly like the scan would;
            # conditioned access falls back (the count must reflect
            # the principal's row filter)
            if self.catalog._resolve_cells(name, td, qualified) is not None:
                return None
        info = count_rows(td.location)
        if info is None:
            # declared-location table with an MSCK index: serve the
            # count ONLY if the live listing still matches the index
            # exactly (names + sizes) — files landed after the repair
            # fall open to the scan, never a stale count (round-14)
            info = self._discovered_count(td)
        if info is None:
            return None  # non-manifest / tombstoned / drifted: scan
        if not group_by:
            qe.tables = [qualified]
            qe.filters_applied.append(f"COUNT_STATS:{qualified}")
            schema = T.StructType(
                [T.StructField(alias or "count(1)", T.LongType(), False)]
            )
            # a local relation: results_page serves it without a job
            return local_frame(self.spark, [(int(info["rows"]),)], schema)
        # per-partition: decode hive dir names back to typed values;
        # anything outside the decodable envelope (null partitions,
        # non-atomic declared types, layout drift) falls open to the
        # scan rather than guessing
        from urllib.parse import unquote

        pkeys = list(td.partition_keys)
        by_name = {
            f.name: f.dataType for f in (td.schema.fields if td.schema else [])
        }
        decoders = {}
        for g in group_by:
            dt = by_name.get(g)
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                decoders[g] = int
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                decoders[g] = float
            elif isinstance(dt, T.StringType):
                decoders[g] = str
            else:
                return None
        agg_rows: dict = {}
        for rel, cnt in info["partitions"].items():
            segs = rel.split("/") if rel else []
            if len(segs) != len(pkeys):
                return None  # layout drift: scan
            vals = {}
            for seg, k in zip(segs, pkeys):
                kk, eq, raw = seg.partition("=")
                if not eq or kk != k:
                    return None
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    return None  # null partition values: scan
                vals[k] = unquote(raw)
            try:
                key = tuple(decoders[g](vals[g]) for g in group_by)
            except ValueError:
                return None
            agg_rows[key] = agg_rows.get(key, 0) + int(cnt)
        # preserve the query's SELECT-list order — the scan path would
        # (``count(*) AS n, lang`` must come back (n, lang), not the
        # GROUP BY order); an unextractable list falls open to the scan
        import re as _re

        from .statements import _blank_comments, _find_keyword, _split_top

        try:
            text = _blank_comments(sql).strip().rstrip(";")
            mm = _re.match(r"select\s+", text, _re.I)
            rest = text[mm.end() :]
            items = _split_top(rest[: _find_keyword(rest, "from")])
        except Exception:
            return None
        order: list = []
        for it in items:
            it = it.strip()
            if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", it):
                order.append(it)
            else:
                order.append(alias)  # the single count(*) AS alias item
        if sorted(order) != sorted([*group_by, alias]):
            return None
        qe.tables = [qualified]
        qe.filters_applied.append(f"COUNT_STATS:{qualified}")
        out_schema = T.StructType(
            [
                T.StructField(c, by_name[c], True)
                if c != alias
                else T.StructField(alias, T.LongType(), False)
                for c in order
            ]
        )
        rows = []
        for k, v in sorted(agg_rows.items()):
            vals = dict(zip(group_by, k))
            vals[alias] = v
            rows.append(tuple(vals[c] for c in order))
        # the group count is O(#partitions of the table): driver-local
        df = local_frame(self.spark, rows, out_schema)
        if order_by:
            from pyspark.sql import functions as F

            df = df.orderBy(
                *[
                    F.col(c).asc() if asc else F.col(c).desc()
                    for c, asc in order_by
                ]
            )
        if limit is not None:
            df = df.limit(limit)
        return df

    def _try_mv_rewrite(
        self, sql: str, principal, qe: QueryExecution, allow_stale: bool = False
    ):
        """Transparent MV-backed rewrite (round-11): serve an eligible
        aggregate SELECT from a registered MV's stored state instead of
        scanning the source. Returns the DataFrame, or ``None`` when no
        MV can answer the query EXACTLY — the caller falls back to the
        ordinary governed scan (fail open).

        Exactness conditions (all required):

        - the query parses as the single-table aggregate shape
          (statements.parse_aggregate_query; optional ORDER BY over
          group columns / measure aliases and LIMIT tails apply after
          the state re-aggregation) over some MV's source;
        - the MV is un-enriched (a joined MV's groups reflect a
          pinned dimension era the query did not ask for); a FILTERED
          MV serves a query whose WHERE provably decomposes as
          ``mv.where AND residual`` with the residual on MV group
          columns only (statements.filtered_mv_residual: textual
          equality, conjunction superset, same-column numeric range
          subsumption — the proof is restricted but SOUND; anything
          unprovable falls back);
        - query group-by ⊆ MV group-by (the state re-aggregates
          losslessly: counts and sums are additive, avg re-derives
          from summed sum+count pairs);
        - every measure maps onto a stored/derived measure: count(*)
          → Σcount, sum(x) → Σ(stored sum of x), avg(x) → Σsum/Σn of a
          stored avg on x. approx_count_distinct never serves — the
          MV's Datasketches sketch and Spark's HLL++ estimate
          differently;
        - the WHERE (if any) references MV group columns only and no
          function calls, so it filters state rows identically;
        - governance: the principal's access to the SOURCE gates
          (implicit deny raises here exactly as the scan would), and
          any CONDITIONED access — row filter, column allowlist, tag
          exclude — falls back to the real scan: the state aggregates
          ALL rows, so serving it would bypass row security;
        - freshness: the MV watermark equals the source's current
          version; behind-watermark state falls back (``allow_stale``
          serves it anyway, explicitly).

        100 TB: this is the point of L9 — the O(groups) state answers
        in milliseconds what the O(table) scan answers in minutes, and
        the refresh cadence (not the reader) pays the incremental
        maintenance cost."""
        from pyspark.sql import functions as F

        from .sources.lake import read_manifest, read_table
        from .statements import (
            filtered_mv_residual,
            parse_aggregate_query,
            predicate_columns,
        )

        parsed = parse_aggregate_query(sql)
        if parsed is None:
            return None
        source, group_by, measures, where, order_by, limit = parsed

        name = _principal_name(principal)
        for qmv, mv in sorted(self.catalog.mvs.items()):
            if mv.source != source or mv.enrich is not None:
                continue
            state_where = where
            if mv.where is not None:
                # a FILTERED MV covers a slice of the source; serve a
                # query whose WHERE provably decomposes as
                # mv.where AND residual-on-group-columns (round-12:
                # statements.filtered_mv_residual — textual equality,
                # conjunction superset, same-column numeric range
                # subsumption; everything unprovable falls back)
                residual = filtered_mv_residual(where, mv.where, mv.group_by)
                if residual is None:
                    continue
                state_where = residual or None
            if not set(group_by) <= set(mv.group_by):
                continue
            plan = self._mv_measure_plan(mv, measures)
            if plan is None:
                continue
            if state_where is not None:
                cols = predicate_columns(state_where)
                if cols is None or not cols <= set(mv.group_by):
                    continue
            src_td = self.catalog.tables.get(source)
            if src_td is None:
                continue
            if name is not None and not self._ungated(name):
                # raises implicit deny exactly like the scan would;
                # conditioned access (row/column security) falls back —
                # the state aggregates rows the principal may not see
                if self.catalog._resolve_cells(name, src_td, source) is not None:
                    continue
            mvm = read_manifest(mv.location)
            watermark = (mvm or {}).get("app_versions", {}).get("mv_source")
            src_m = read_manifest(src_td.location)
            if watermark is None or src_m is None:
                continue
            if watermark != src_m["version"] and not allow_stale:
                continue  # fail open: the reader gets fresh data
            state = read_table(self.spark, mv.location)
            if state_where is not None:
                state = state.filter(F.expr(state_where))
            df = state.groupBy(*group_by).agg(
                *[expr.alias(out) for out, expr in plan]
            )
            if order_by:
                df = df.orderBy(
                    *[
                        F.col(c).asc() if asc else F.col(c).desc()
                        for c, asc in order_by
                    ]
                )
            if limit is not None:
                df = df.limit(limit)
            qe.tables = [source, qmv]
            qe.filters_applied.append(f"MV_REWRITE:{qmv}")
            return df
        return None

    @staticmethod
    def _mv_measure_plan(mv, measures):
        """Map query measures onto an MV's stored state, or None when
        any measure is not derivable. Returns [(alias, agg Column)]."""
        from pyspark.sql import functions as F

        sums = {
            col: out
            for out, (agg, col) in mv.measures.items()
            if agg == "sum"
        }
        count_col = next(
            (
                out
                for out, (agg, _c) in mv.measures.items()
                if agg == "count"
            ),
            None,
        )
        avgs = {}
        for out, spec in (mv.derived or {}).items():
            if spec[0] == "avg":
                _kind, s, n = spec
                avgs[mv.measures[s][1]] = (s, n)
        plan = []
        for out, agg, col in measures:
            if agg == "count":
                if count_col is None:
                    return None
                plan.append((out, F.sum(count_col).cast("long")))
            elif agg == "sum":
                stored = sums.get(col)
                if stored is None:
                    return None
                plan.append((out, F.sum(stored)))
            elif agg == "avg":
                pair = avgs.get(col)
                if pair is None:
                    return None
                s, n = pair
                plan.append(
                    (
                        out,
                        F.sum(s).cast("double")
                        / F.sum(n).cast("double"),
                    )
                )
            else:
                return None
        return plan

    def create_materialized_view(
        self,
        qualified_mv: str,
        source: str,
        group_by: list[str],
        measures: dict[str, tuple],
        principal: "Principal | str | None" = None,
        where: str | None = None,
        enrich: dict | None = None,
    ) -> dict:
        """CREATE MATERIALIZED VIEW: an incrementally-maintained
        aggregate over one manifest-committed source table, stored as
        its own manifest table under ``<lake_root>/_mv/`` and
        registered in the catalog — so grants, row/column security,
        result reuse, and AS OF reads apply to the MV like any table.

        ``measures`` maps output columns to ``("count", None)``,
        ``("sum", src_col)``, ``("avg", src_col)``, or
        ``("approx_count_distinct", src_col)``. Storage is MERGEABLE
        aggregates only — the invariant that makes
        :meth:`refresh_materialized_view`'s change-feed merge equal a
        full recompute. ``avg`` satisfies it by expansion: the state
        stores ``__sum_<out>`` + ``__n_<out>`` (non-null count) and the
        MV's name becomes a catalog VIEW deriving the quotient at read
        time. ``approx_count_distinct`` stores a mergeable HLL sketch
        (``__hll_<out>``; the view derives the estimate) — lossless
        under insert-only feeds (sketch-of-union == union-of-sketches,
        so refresh == recompute EXACTLY at the sketch level), but
        sketches cannot subtract, so a feed carrying deletes
        fail-closes the refresh with a re-create instruction. min/max
        stay refused (a delete can strand them); at least one count
        measure required (it is how emptied groups leave the MV).

        100 TB: creation pays one full aggregation of the source —
        once; every refresh after that is O(changed files) through
        table_changes. The stored state is O(groups)."""
        from pathlib import Path

        from .catalog import MaterializedViewDef, TableDef
        from .sources.lake import publish_overwrite, read_manifest, read_table

        name = _principal_name(principal)
        src = self.catalog.tables[source]  # KeyError: fail closed
        self._mv_gate(name, src, "CREATE MATERIALIZED VIEW", qualified_mv)
        if qualified_mv in self.catalog.tables or qualified_mv in self.catalog.views:
            raise ValueError(f"{qualified_mv} already exists")
        db, _, mv_name = qualified_mv.partition(".")
        if db not in self.catalog.databases:
            raise KeyError(f"database {db!r} does not exist")
        if self.catalog.lake_root is None:
            raise ValueError("materialized views need a catalog lake_root")
        if not group_by:
            raise ValueError(
                "group_by must be non-empty — a global-aggregate MV "
                "cannot distinguish an emptied source (one row, n=0) "
                "from group departure (v1 scope; wrap a constant "
                "grouping column if you need the global form)"
            )
        src_manifest = read_manifest(src.location)
        if src_manifest is None:
            raise ValueError(
                f"source {source} is not manifest-committed — the refresh "
                "path needs table_changes over committed snapshots; write "
                "to it once (any lake write adopts a plain directory)"
            )
        if not any(agg == "count" for agg, _ in measures.values()):
            raise ValueError(
                "at least one ('count', None) measure is required — it is "
                "how groups whose rows are all deleted leave the MV"
            )
        # MV-over-join, bounded honest form (round-10): the fact source
        # is LEFT-joined to ONE dimension PINNED at its creation-time
        # snapshot, so group_by may use dimension columns (enrichment
        # rollups). The pin is what keeps the signed-feed refresh exact
        # — and a drifted dimension fail-closes the refresh rather than
        # silently mixing join eras (the full bitemporal delta algebra,
        # dA⋈B ∪ A⋈dB ∪ dA⋈dB, is a documented non-goal).
        enrich_def = None
        dim_pin = None
        if enrich is not None:
            dim_q = enrich["table"]
            dim_td = self.catalog.tables[dim_q]  # KeyError: fail closed
            # enriching scans the dimension outside row security — the
            # same operator-grade gate as the fact source
            self._mv_gate(name, dim_td, "CREATE MATERIALIZED VIEW", qualified_mv)
            dm = read_manifest(dim_td.location)
            if dm is None:
                raise ValueError(
                    f"enrich dimension {dim_q} is not manifest-committed "
                    "— the refresh pin needs a snapshot version; write to "
                    "it once (any lake write adopts a plain directory)"
                )
            dim_pin = dm["version"]
            enrich_def = {
                "table": dim_q,
                "on": dict(enrich["on"]),
                "select": list(enrich.get("select") or []),
            }
        # Expand user measures into the PHYSICAL additive set. AVG is
        # not additive, but sum + non-null count are — so an avg
        # measure stores both and a catalog VIEW derives the quotient
        # at read time (round-9 VERDICT next #3). min/max stay refused:
        # a delete can strand them and no stored complement cures it.
        physical: dict = {}
        derived: dict = {}
        for out, (agg, col) in measures.items():
            if agg == "count":
                if col is not None:
                    raise ValueError(f"measure {out}: count takes no column")
                physical[out] = ("count", None)
            elif agg == "sum":
                if col is None:
                    raise ValueError(f"measure {out}: sum needs a column")
                physical[out] = ("sum", col)
            elif agg == "avg":
                if col is None:
                    raise ValueError(f"measure {out}: avg needs a column")
                physical[f"__sum_{out}"] = ("sum", col)
                physical[f"__n_{out}"] = ("nncount", col)
                derived[out] = ("avg", f"__sum_{out}", f"__n_{out}")
            elif agg == "approx_count_distinct":
                # HLL sketches MERGE losslessly (sketch-of-union ==
                # union-of-sketches), so insert-only feeds refresh
                # exactly; they cannot SUBTRACT, so a feed carrying
                # deletes fail-closes the refresh with a re-create
                # instruction (refresh_materialized_view)
                if col is None:
                    raise ValueError(
                        f"measure {out}: approx_count_distinct needs a column"
                    )
                physical[f"__hll_{out}"] = ("hll", col)
                derived[out] = ("hll", f"__hll_{out}")
            else:
                raise ValueError(
                    f"measure {out}={agg!r} is not additive under deletes "
                    "— count/sum refresh from a signed change feed, avg "
                    "derives from stored sum+count, approx_count_distinct "
                    "from a mergeable HLL sketch (recompute min/max with "
                    "a full re-create)"
                )
        if derived:
            state_q = f"{db}.{mv_name}__state"
            if (
                state_q in self.catalog.tables
                or state_q in self.catalog.views
            ):
                raise ValueError(f"{state_q} already exists")
        from pyspark.sql import functions as F

        cur = src_manifest["version"]
        location = str(Path(self.catalog.lake_root) / "_mv" / db / mv_name)
        if Path(location).exists() and any(Path(location).iterdir()):
            # an erased-and-re-created MV must NOT chain onto leftover
            # state: time travel on the old chain would serve
            # aggregates derived from erased rows (round-9 review)
            raise ValueError(
                f"leftover state at {location} — "
                "drop_materialized_view(..., delete_data=True) first"
            )
        # pin the scan to the SAME snapshot the watermark records: a
        # commit landing between the manifest read and the scan would
        # otherwise be double-applied by the first refresh
        base = read_table(
            self.spark, src.location, schema=src.schema, version=cur
        )
        if enrich_def is not None:
            base = self._mv_enrich(base, enrich_def, dim_pin)
        if where is not None:
            F.expr(where)  # fail fast on unparseable SQL
            base = base.filter(F.expr(where))
        aggs = [
            (
                F.count(F.lit(1)).cast("long")
                if agg == "count"
                else F.count(F.col(col)).cast("long")
                if agg == "nncount"
                else F.hll_sketch_agg(col)
                if agg == "hll"
                else F.sum(col)
            ).alias(out)
            for out, (agg, col) in physical.items()
        ]
        state = base.groupBy(*group_by).agg(*aggs)
        publish_overwrite(
            self.spark,
            location,
            self._mv_state_frame(state, group_by, src.location),
            None,
            app_versions=(
                {"mv_source": cur, "mv_dim": dim_pin}
                if dim_pin is not None
                else {"mv_source": cur}
            ),
        )
        if derived:
            # state table under a __state suffix; the MV's own name is
            # a catalog VIEW deriving each avg — so grants compose the
            # same way as any view-over-table, and every reader of the
            # MV name sees the quotient, never the raw complement pair
            self.catalog.register_table(
                TableDef(db, f"{mv_name}__state", location, schema=state.schema)
            )
            self.catalog.create_view(
                db, mv_name, self._mv_view_sql(state_q, group_by, measures, derived)
            )
        else:
            self.catalog.register_table(
                TableDef(db, mv_name, location, schema=state.schema)
            )
        self.catalog.mvs[qualified_mv] = MaterializedViewDef(
            database=db,
            name=mv_name,
            source=source,
            group_by=tuple(group_by),
            measures={k: tuple(v) for k, v in physical.items()},
            location=location,
            derived=derived,
            state_table=state_q if derived else None,
            where=where,
            enrich=enrich_def,
        )
        self.catalog.audit.record(
            principal=name or "<none>",
            query=(
                f"CREATE MATERIALIZED VIEW {qualified_mv} AS "
                f"agg({source}) BY ({', '.join(group_by)})"
                + (f" WHERE {where}" if where else "")
            ),
            tables=[qualified_mv, source],
            filters_applied=[],
            status="ok",
        )
        return {"location": location, "source_version": cur}

    def drop_materialized_view(
        self,
        qualified_mv: str,
        principal: "Principal | str | None" = None,
        delete_data: bool = False,
    ) -> None:
        """DROP MATERIALIZED VIEW: removes the MV definition and its
        catalog table (optionally the stored state's files, with
        drop_table's fail-closed lake_root guard) — the other half of
        the erasure contract's 'drop and re-create' instruction. Gated
        and audited like creation."""
        name = _principal_name(principal)
        mv = self.catalog.mvs[qualified_mv]  # KeyError: fail closed
        src = self.catalog.tables[mv.source]
        self._mv_gate(name, src, "DROP MATERIALIZED VIEW", qualified_mv)
        if mv.state_table is not None:
            # avg-bearing MV: the name is a VIEW over the state table —
            # drop both halves
            self.catalog.drop_view(mv.database, mv.name)
            self.catalog.drop_table(mv.state_table, delete_data=delete_data)
        else:
            # drop_table pops the MV def itself (an MV's own table drops it)
            self.catalog.drop_table(qualified_mv, delete_data=delete_data)
        self.catalog.mvs.pop(qualified_mv, None)
        self.catalog.audit.record(
            principal=name or "<none>",
            query=f"DROP MATERIALIZED VIEW {qualified_mv}",
            tables=[qualified_mv],
            filters_applied=[],
            status="ok",
        )

    def refresh_materialized_view(
        self,
        qualified_mv: str,
        principal: "Principal | str | None" = None,
    ) -> dict:
        """REFRESH MATERIALIZED VIEW, incrementally: aggregate the
        source's table_changes feed since ``last_version`` with SIGNED
        contributions (+ for inserts, - for deletes; an update is the
        pair), union with the stored state, re-aggregate, drop groups
        whose count reached zero, and publish the new state atomically.
        The source is never rescanned — cost is O(changed files) +
        O(groups). Refresh == recompute is pinned in tests/test_mv.py
        against partition rewrites that both delete and update rows."""
        from pyspark.sql import functions as F

        from .sources.lake import (
            publish_overwrite,
            read_manifest,
            read_table,
            table_changes,
        )

        name = _principal_name(principal)
        mv = self.catalog.mvs[qualified_mv]  # KeyError: fail closed
        src = self.catalog.tables[mv.source]
        self._mv_gate(name, src, "REFRESH MATERIALIZED VIEW", qualified_mv)
        # the watermark is read from the MV's own manifest ledger —
        # committed atomically with the state it describes, so a stale
        # catalog def (another session refreshed; this one loaded an
        # older save) can never double-apply the feed
        mvm = read_manifest(mv.location)
        last = (mvm or {}).get("app_versions", {}).get("mv_source")
        if last is None:
            raise ValueError(
                f"{qualified_mv} has no source watermark in its manifest "
                "— drop_materialized_view(..., delete_data=True) and "
                "re-create"
            )
        cur = read_manifest(src.location)["version"]
        if cur == last:
            return {"refreshed": False, "source_version": cur}
        try:
            feed = table_changes(
                self.spark, src.location, last, cur, src.schema
            )
        except FileNotFoundError as exc:
            # erasure (delete_rows) truncates source history to the
            # erased state, exactly so nothing can replay pre-erasure
            # rows — incremental refresh across that boundary is
            # IMPOSSIBLE by design, not an error to paper over
            raise ValueError(
                f"source {mv.source} history since v{last} was truncated "
                f"(erasure or vacuum) — drop_materialized_view("
                f"{qualified_mv!r}, delete_data=True) and re-create; the "
                "stored state and its history may reflect erased rows"
            ) from exc
        if mv.enrich is not None:
            # enriched MV: the feed joins the SAME pinned dimension
            # snapshot creation used; if the dimension moved, refresh
            # fail-closes — mixing join eras would silently corrupt
            # every already-aggregated group
            dim_td = self.catalog.tables[mv.enrich["table"]]
            pin = (mvm or {}).get("app_versions", {}).get("mv_dim")
            if pin is None:
                raise ValueError(
                    f"{qualified_mv} has no dimension pin in its manifest "
                    "— drop_materialized_view(..., delete_data=True) and "
                    "re-create"
                )
            cur_dim = read_manifest(dim_td.location)["version"]
            if cur_dim != pin:
                raise ValueError(
                    f"enrich dimension {mv.enrich['table']} moved to "
                    f"v{cur_dim} (MV pinned v{pin}) — the stored groups "
                    "reflect the old dimension; drop_materialized_view("
                    f"{qualified_mv!r}, delete_data=True) and re-create"
                )
            feed = self._mv_enrich(feed, mv.enrich, pin)
        if mv.where is not None:
            # the MV's own WHERE applies to the feed exactly as it did
            # to the creation scan: a matching deleted row subtracts, a
            # non-matching row never contributed (filtered refresh ==
            # filtered recompute; NULL predicate rows excluded on both
            # paths — standard WHERE semantics)
            feed = feed.filter(F.expr(mv.where))
        hll_outs = [
            out for out, (agg, _c) in mv.measures.items() if agg == "hll"
        ]
        # insert-only fast path (round-10 VERDICT #3): an append-only
        # manifest chain CANNOT emit delete rows, answered driver-side
        # from the two snapshots' file sets + tombstone coverage at
        # zero I/O — the Spark probe job runs only when the chain
        # might delete (and then decides exactly: byte-identical
        # rewrite rows cancel in the feed)
        from .sources.lake import feed_may_delete

        if (
            hll_outs
            and feed_may_delete(src.location, last, cur)
            and feed.filter(F.col("_change_type") == "delete")
            .limit(1)
            .count()
        ):
            # sketches merge, they cannot subtract — a deleting feed
            # would silently overcount forever (fail closed, same rule
            # as erasure-truncated history)
            raise ValueError(
                f"{qualified_mv} carries approx_count_distinct measure(s) "
                f"{hll_outs} and the change feed contains deletes — HLL "
                "sketches cannot subtract; drop_materialized_view(..., "
                "delete_data=True) and re-create"
            )
        sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
        old = read_table(self.spark, mv.location)
        delta_aggs = [
            (
                F.sum(sign).cast("long")
                if agg == "count"
                else F.sum(
                    sign
                    * F.when(F.col(col).isNull(), F.lit(0)).otherwise(F.lit(1))
                ).cast("long")
                if agg == "nncount"
                else F.hll_sketch_agg(col)
                if agg == "hll"
                else F.sum(sign * F.col(col))
            ).alias(out)
            for out, (agg, col) in mv.measures.items()
        ]
        delta = feed.groupBy(*mv.group_by).agg(*delta_aggs)
        # cast delta measures to the stored types so the union is exact
        delta = delta.select(
            *mv.group_by,
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in old.schema.fields
                if f.name not in mv.group_by
            ],
        )
        count_col = next(
            out for out, (agg, _) in mv.measures.items() if agg == "count"
        )
        state = (
            old.unionByName(delta)
            .groupBy(*mv.group_by)
            .agg(
                *[
                    (
                        F.hll_union_agg(out)
                        if agg == "hll"
                        else F.sum(out).cast(
                            old.schema[out].dataType.simpleString()
                        )
                    ).alias(out)
                    for out, (agg, _c) in mv.measures.items()
                ]
            )
            .filter(F.col(count_col) > 0)
        )
        publish_overwrite(
            self.spark,
            mv.location,
            self._mv_state_frame(state, list(mv.group_by), src.location),
            None,
            app_versions={
                "mv_source": cur,
                # carry the dimension pin (app_versions replaces, not
                # merges): losing it would break the NEXT refresh
                **(
                    {"mv_dim": mvm["app_versions"]["mv_dim"]}
                    if mv.enrich is not None
                    else {}
                ),
            },
            expected_version=mvm["version"],  # racing refreshes conflict
        )
        self.catalog.audit.record(
            principal=name or "<none>",
            query=f"REFRESH MATERIALIZED VIEW {qualified_mv}",
            tables=[qualified_mv, mv.source],
            filters_applied=[],
            status="ok",
        )
        return {"refreshed": True, "source_version": cur}

    def history(
        self,
        qualified: str,
        principal: "Principal | str | None" = None,
    ) -> list[dict]:
        """DESCRIBE HISTORY analog for a manifest-committed table: the
        retained snapshot chain, newest first — version, parent, commit
        time, file count, partition columns. Metadata-only (no data
        read), but still gated: any principal without SOME grant on the
        table may not learn its commit history (implicit deny, G6).
        Empty list for non-manifest tables."""
        name = _principal_name(principal)
        table = self.catalog.tables[qualified]  # KeyError: fail closed
        if not self._visible(name, table.database, table.name):
            raise PermissionDeniedError(
                f"principal {name!r} is not authorized to access {qualified}"
            )
        out: list[dict] = []
        m = _lake.read_manifest(table.location)
        while m is not None:
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "committed_at": m["committed_at"],
                    "n_files": len(m["files"]),
                    "partition_by": m["partition_by"],
                    # round-8 surfaces: active merge-on-read tombstones
                    # and CHECK constraints at this snapshot
                    "n_tombstones": len(m.get("delete_predicates", [])),
                    "constraints": sorted(m.get("constraints", {})),
                }
            )
            if m["parent"] is None:
                break
            try:
                m = _lake.read_manifest(table.location, m["parent"])
            except FileNotFoundError:
                break  # older history vacuumed
        return out

    # ------------------------------------------------ prepared statements
    def prepare(self, name: str, sql: str) -> None:
        """PREPARE — store a parameterized statement (? placeholders)."""
        self._prepared[name] = sql

    def execute_prepared(
        self,
        name: str,
        params: tuple | list = (),
        principal: Principal | str | None = None,
    ) -> DataFrame:
        """EXECUTE ... USING — fill ? placeholders in order (literals are
        escaped; placeholders inside string literals/comments are left
        alone) and run governed."""
        template = self._prepared[name]
        filled = _fill_params(template, list(params))
        return self.sql(filled, principal)


class PublishStage:
    """Write handle inside :meth:`Engine.stage_and_publish`'s callback:
    every verb targets the staging branch, never main — the callback
    physically cannot publish early."""

    def __init__(self, engine: Engine, branch: str, tables: dict):
        self._engine = engine
        self._branch = branch
        self._tables = tables

    def append(
        self,
        qualified: str,
        rows: DataFrame,
        partition_by=None,
        stream_id: str | None = None,
        batch_id: int | None = None,
    ) -> dict | None:
        """Transactional append onto the table's staging branch;
        partition layout defaults to the catalog's declared keys.
        ``(stream_id, batch_id)`` rides the branch's app_versions
        ledger exactly as on main (append_rows), so a foreachBatch
        sink staging through a transaction keeps its replayed batches
        no-ops — returns None without writing (round-12, the
        streaming x txlog composition)."""
        from .sources import lake as _lake

        td = self._tables[qualified]  # KeyError: not a staged table
        return _lake.append_rows(
            self._engine.spark,
            td.location,
            rows,
            partition_by=(
                partition_by
                if partition_by is not None
                else (list(td.partition_keys) or None)
            ),
            stream_id=stream_id,
            batch_id=batch_id,
            branch=self._branch,
        )

    def read(self, qualified: str) -> DataFrame:
        """Write-audit read of the staged head (branch snapshot)."""
        from .sources import lake as _lake

        td = self._tables[qualified]
        v = _lake.branch_head(td.location, self._branch)["version"]
        return _lake.read_table(
            self._engine.spark, td.location, schema=td.schema, version=v
        )


@dataclass
class PrincipalSession:
    """A session bound to one principal — the STS assume-role analog."""

    engine: Engine
    principal: Principal | str

    def sql(self, sql: str) -> DataFrame:
        return self.engine.sql(sql, self.principal)

    def table(self, qualified: str, version: int | None = None) -> DataFrame:
        """Governed table read; ``version`` = governed time travel to a
        retained manifest snapshot (row/column security applies to
        historical rows exactly as to current ones)."""
        return self.engine.catalog.table(
            qualified, self.principal, version=version
        )

    def stream_table(
        self, qualified: str, options: dict | None = None
    ) -> DataFrame:
        """Governed STREAMING read of a manifest table — the same
        enforcement as :meth:`table`, applied to every micro-batch
        (catalog.stream_table)."""
        return self.engine.catalog.stream_table(
            qualified, self.principal, options=options
        )

    def submit(self, sql: str) -> str:
        return self.engine.submit(sql, self.principal)


@contextmanager
def governed_sql_guard(engine: Engine, principal: Principal | str):
    """SURVEY §4.2 option-2, jar-free fallback: while active, the
    SparkSession's OWN ``spark.sql()`` routes through the engine's
    governed path as ``principal`` — code that was written against raw
    ``spark.sql`` gets grant checks, scan rewrites, and audit without
    being ported to the engine API.

    Scope and honesty: a true Catalyst resolution rule (the option-2
    ideal) needs a Scala extension jar this image cannot build or
    install; this guard instead rebinds the session's ``sql`` entry
    point, which covers every access path that goes through it
    (including view expansion, since the rewrite happens on the SQL
    text before analysis) but NOT ``spark.read``/``spark.table`` or a
    stashed pre-guard reference to the original method. Single-threaded
    by design — the temporary unbind during the engine's internal
    ``spark.sql`` call is not re-entrant across threads.

    THIS IS NOT AN ENFORCEMENT BOUNDARY. A caller holding the
    SparkSession can always read lake paths directly — the analog of an
    AWS principal with raw S3 credentials bypassing Athena, which the
    reference closes with storage-level credential vending
    (main.tf:432-490) and a single-JVM library cannot. The boundary is
    documented in README "Trust boundary" and pinned by
    tests/test_governance.py::test_trust_boundary_spark_read_is_outside:
    hand untrusted code an Engine/PrincipalSession, never the session.
    """
    spark = engine.spark
    orig = spark.sql

    def guarded(sqlQuery: str, *args, **kwargs) -> DataFrame:
        if args or kwargs:
            raise ValueError(
                "parameterized spark.sql(...) is not supported under "
                "governed_sql_guard; inline literals or use "
                "engine.prepare/execute_prepared"
            )
        # the engine's internal spark.sql(rewritten) call must reach the
        # real method, not re-enter the guard
        spark.sql = orig
        try:
            return engine.sql(sqlQuery, principal=principal)
        finally:
            spark.sql = guarded

    spark.sql = guarded
    try:
        yield spark
    finally:
        spark.sql = orig


def _sql_literal(v) -> str:
    """Render a Python value as a safe SQL literal (strings are quoted
    with '' doubling — parameters can never break out of their literal)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _fill_params(sql: str, params: list) -> str:
    """Replace ? placeholders left-to-right, skipping string literals and
    comments (same span rules as the governance rewriter)."""
    from .catalog import GovernedCatalog

    out: list[str] = []
    pos = 0
    remaining = list(params)
    missing = 0

    def fill_code(seg: str) -> str:
        nonlocal missing
        parts = []
        for ch in seg:
            if ch == "?":
                if remaining:
                    parts.append(_sql_literal(remaining.pop(0)))
                else:
                    # keep scanning so the error reports the full shortfall
                    missing += 1
                    parts.append(ch)
            else:
                parts.append(ch)
        return "".join(parts)

    for m in GovernedCatalog._SKIP_SPANS.finditer(sql):
        out.append(fill_code(sql[pos : m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(fill_code(sql[pos:]))
    if missing:
        raise ValueError(
            f"missing parameter(s): statement has {missing} more '?' "
            f"placeholder(s) than supplied parameters"
        )
    if remaining:
        raise ValueError(f"{len(remaining)} unused parameter(s) for statement")
    return "".join(out)


# Backwards-friendly alias: PermissionDeniedError is the engine's
# "not authorized" surface.
__all__ = [
    "Engine",
    "PermissionDeniedError",
    "PrincipalSession",
    "QueryExecution",
    "QueryState",
]
