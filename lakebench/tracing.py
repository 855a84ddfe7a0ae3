"""Outside-in tracing for the traced benchmark run.

Nothing here edits the package. Spans come from wrapping the package's
entry points by attribute replacement, done from this file: every
module that holds a reference to the wrapped function gets the wrapper,
so a name imported with ``from x import f`` before the wrapping is
covered too (the coverage guard in ``run.py`` catches any that slip
through). Spark's own records come from three places: the JVM status
store (jobs and stages, tagged with a per-op job group), a
``QueryExecutionListener`` (the planning tracker and executed plan of
each query execution that ran) and the stream listener that ``run.py``
registers for every run.

Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import statistics
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

from workloads import CLASSES, SCAN_QUERIES

# layer -> (module path or "module:Class", attribute names). Module paths
# are relative to the package.
ENTRY_POINTS = {
    "statements": [("statements", ["parse_statement", "extract_as_of"])],
    "catalog": [
        ("catalog:GovernedCatalog", ["_rewrite_sql", "table"]),
        ("governance:AuditLog", ["record"]),
    ],
    "engine": [
        (
            "engine:Engine",
            ["sql", "submit", "results", "refresh_materialized_view"],
        )
    ],
    "lake": [
        (
            "sources.lake",
            [
                "append_rows",
                "merge_into",
                "update_rows",
                "delete_rows",
                "optimize_binpack",
                "vacuum_manifests",
                "publish_overwrite",
                "read_manifest",
                "read_table",
            ],
        )
    ],
}
LAKE_MUTATORS = {
    "append_rows",
    "merge_into",
    "update_rows",
    "delete_rows",
    "optimize_binpack",
    "vacuum_manifests",
    "publish_overwrite",
}

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")


class Span:
    __slots__ = ("sid", "parent", "op", "layer", "name", "t0", "t1", "error", "files")

    def __init__(self, sid, parent, op, layer, name, t0):
        self.sid, self.parent, self.op = sid, parent, op
        self.layer, self.name, self.t0 = layer, name, t0
        self.t1 = None
        self.error = None
        self.files = 0


class Tracer:
    """Records spans around the package's entry points and the ops that
    drive them. One op runs at a time (a closed loop with one client);
    spans opened on other threads, such as the stream's ``foreachBatch``
    callback, attach to the op that is running."""

    def __init__(self):
        self.spans: list[Span] = []
        self.calls: Counter = Counter()
        self.errors: Counter = Counter()
        self.qe_events: list[dict] = []
        self.op_id: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str):
        st = self._stack()
        sp = Span(
            next(self._ids),
            st[-1].sid if st else None,
            self.op_id,
            layer,
            name,
            time.time(),
        )
        st.append(sp)
        try:
            yield sp
        except BaseException as exc:
            sp.error = type(exc).__name__
            raise
        finally:
            sp.t1 = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)
                self.calls[f"{layer}.{name}"] += 1
                if sp.error:
                    self.errors[sp.error] += 1

    # -- wrapping ------------------------------------------------------
    def _wrapper(self, fn, layer, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name) as sp:
                out = fn(*args, **kwargs)
            if name == "read_table":
                # files the lake read planned, counted after the span
                # closed so the count is not part of the read's time
                sp.files = len(out.inputFiles())
            return out

        return traced

    def install(self, pkg_name: str) -> None:
        """Wrap every entry point in ``ENTRY_POINTS`` of package
        ``pkg_name``: the defining attribute and every other module
        attribute that is the same function object."""
        import importlib

        for layer, targets in ENTRY_POINTS.items():
            for where, attrs in targets:
                mod_name, _, cls_name = where.partition(":")
                mod = importlib.import_module(f"{pkg_name}.{mod_name}")
                owner = getattr(mod, cls_name) if cls_name else mod
                for attr in attrs:
                    fn = owner.__dict__[attr]
                    wrapped = self._wrapper(fn, layer, attr)
                    self._replace(owner, attr, fn, wrapped)
                    if not cls_name:
                        for other in list(sys.modules.values()):
                            name = getattr(other, "__name__", "") or ""
                            if other is mod or not name.startswith(pkg_name):
                                continue
                            if getattr(other, attr, None) is fn:
                                self._replace(other, attr, fn, wrapped)

    def _replace(self, owner, attr, old, new):
        setattr(owner, attr, new)
        self._undo.append((owner, attr, old))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # -- query executions ---------------------------------------------
    def listen_query_executions(self, spark) -> None:
        """Register a JVM ``QueryExecutionListener`` that records the
        planning phases and the count of Exchange nodes of every query
        execution that completes."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(_QEListener(self))

    def note_query_execution(self, func, qe) -> None:
        phases = qe.tracker().phases()
        rec = {"func": func}
        for ph in ("analysis", "optimization", "planning"):
            if phases.contains(ph):
                summary = phases.apply(ph)
                rec[ph] = summary.durationMs() / 1000.0
                rec.setdefault("start", summary.startTimeMs() / 1000.0)
        plan = qe.executedPlan().toString()
        if "== Final Plan ==" in plan:
            plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        rec["exchanges"] = len(_EXCHANGE.findall(plan))
        with self._lock:
            self.qe_events.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sp.sid,
                            "parent": sp.parent,
                            "op": sp.op,
                            "layer": sp.layer,
                            "name": sp.name,
                            "start": sp.t0,
                            "end": sp.t1,
                            "error": sp.error,
                        }
                    )
                    + "\n"
                )


class _QEListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 - JVM interface
        try:
            self.tracer.note_query_execution(func, qe)
        except Exception:  # noqa: BLE001 - a listener must not fail the bus
            self.tracer.errors["qe_listener"] += 1

    def onFailure(self, func, qe, exc):  # noqa: N802 - JVM interface
        try:
            self.tracer.note_query_execution(func, qe)
        except Exception:  # noqa: BLE001 - a listener must not fail the bus
            self.tracer.errors["qe_listener"] += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def spark_jobs(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage in the JVM status store, as plain dicts."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined() or not done.isDefined():
            continue
        group = j.jobGroup()
        jobs.append(
            {
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "tasks": j.numTasks() - j.numSkippedTasks(),
                "stages": list(conv.asJava(j.stageIds())),
            }
        )
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = {}
    for s in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        stages[s.stageId()] = {
            "run_s": s.executorRunTime() / 1000.0,
            "input_bytes": s.inputBytes(),
            "input_records": s.inputRecords(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "failed_tasks": s.numFailedTasks(),
        }
    return jobs, stages


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer, w, done, timings, progress, layer, written, engine_counts, spark):
    """Per-layer metrics of a traced run, from the spans, the status
    store, the query-execution listener and the stream listener.

    ``timings`` holds ``(op index, op class, start, end)`` of each timed
    op and ``done`` the ops themselves; ``progress`` is the stream
    listener's record of every epoch; ``layer`` the set-up metrics;
    ``written`` the bytes the ops wrote under the lake root and
    ``engine_counts`` the engines' failure counters over the window."""
    time.sleep(0.5)  # let the listener bus deliver the last events
    ops = {i: (cls, s, e) for i, cls, s, e in timings}
    ops_per_class = {c: sum(1 for v in ops.values() if v[0] == c) for c in CLASSES}
    spans = [sp for sp in tracer.spans if sp.op in ops]
    by_id = {sp.sid: sp for sp in tracer.spans}

    def total(layer_name, names=None, top=True):
        """Summed duration of the layer's spans; with ``top`` only the
        outermost span of the layer counts, so nesting is not double-counted."""
        out = 0.0
        for sp in spans:
            if sp.layer != layer_name or (names and sp.name not in names):
                continue
            if top and _has_ancestor(sp, by_id, layer_name, names):
                continue
            out += sp.t1 - sp.t0
        return out

    def count(layer_name, names):
        return sum(1 for sp in spans if sp.layer == layer_name and sp.name in names)

    jobs, stages = spark_jobs(spark)
    op_jobs: dict[int, list] = {i: [] for i in ops}
    for j in jobs:
        g = j["group"] or ""
        if g.startswith("lakebench-") and g[10:].isdigit() and int(g[10:]) in ops:
            op_jobs[int(g[10:])].append(j)
            continue
        for i, (_, s, e) in ops.items():
            if s <= j["start"] <= e:
                op_jobs[i].append(j)
                break
    m: dict[str, float] = dict(layer)
    m["statements.parse_s"] = total("statements")
    m["statements.calls"] = count("statements", {"parse_statement", "extract_as_of"})
    m["catalog.rewrite_s"] = total("catalog", {"_rewrite_sql", "table"})
    m["catalog.rewrite_calls"] = count("catalog", {"_rewrite_sql", "table"})
    m["catalog.audit_s"] = total("catalog", {"record"})
    m["catalog.audit_events"] = count("catalog", {"record"})
    m["engine.mv_refresh_s"] = total("engine", {"refresh_materialized_view"})
    m["engine.mv_refreshes"] = count("engine", {"refresh_materialized_view"})
    for k in ("queries_failed", "queries_denied"):
        m[f"engine.{k}"] = engine_counts[k]
    # engine self time: engine spans minus what their child spans and the
    # Spark jobs inside them cover
    self_s = 0.0
    children: dict[int, list] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)
    all_jobs = [(j["start"], j["end"]) for js in op_jobs.values() for j in js]
    for sp in spans:
        if sp.layer != "engine" or _has_ancestor(sp, by_id, "engine", None):
            continue
        covered = [
            (max(c.t0, sp.t0), min(c.t1, sp.t1))
            for c in _descendants(sp, children)
            if c.layer != "engine"
        ]
        covered += [
            (max(s, sp.t0), min(e, sp.t1)) for s, e in all_jobs if e > sp.t0 and s < sp.t1
        ]
        self_s += (sp.t1 - sp.t0) - union_length(covered)
    m["engine.self_s"] = self_s
    # catalyst: planning phases of the executions that started inside an op
    qe = [q for q in tracer.qe_events if _in_any(q.get("start"), ops)]
    m["catalyst.analysis_s"] = sum(q.get("analysis", 0.0) for q in qe)
    m["catalyst.plan_s"] = sum(q.get("optimization", 0.0) + q.get("planning", 0.0) for q in qe)
    exch = {c: 0 for c in CLASSES}
    for q in qe:
        i = _op_at(q["start"], ops)
        exch[ops[i][0]] += q["exchanges"]
    # spark execution
    per_cls_jobs = {c: 0 for c in CLASSES}
    per_cls_tasks = {c: 0 for c in CLASSES}
    gap = 0.0
    stage_ids = set()
    for i, js in op_jobs.items():
        cls, s, e = ops[i]
        per_cls_jobs[cls] += len(js)
        per_cls_tasks[cls] += sum(j["tasks"] for j in js)
        gap += (e - s) - union_length([(max(j["start"], s), min(j["end"], e)) for j in js])
        for j in js:
            stage_ids.update(j["stages"])
    st = [stages[s] for s in stage_ids if s in stages]
    # rows the read-side ops scanned per row they returned to the client
    read_stages = {
        s for i, js in op_jobs.items() if ops[i][0] in ("read", "scan") for j in js for s in j["stages"]
    }
    rows_in = sum(stages[s]["input_records"] for s in read_stages if s in stages)
    rows_out = sum(len(o.rows or []) for o in done if o.cls in ("read", "scan"))
    m["spark.stages"] = len(st)
    m["spark.job_s"] = sum(j["end"] - j["start"] for js in op_jobs.values() for j in js)
    m["spark.driver_gap_s"] = gap
    m["spark.task_run_s"] = sum(s["run_s"] for s in st)
    m["spark.input_bytes"] = sum(s["input_bytes"] for s in st)
    m["spark.rows_read_per_row_returned"] = rows_in / max(1, rows_out)
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in st)
    m["spark.spill_bytes"] = sum(s["spill_bytes"] for s in st)
    m["spark.failed_tasks"] = sum(s["failed_tasks"] for s in st)
    for c in CLASSES:
        n = max(1, ops_per_class[c])
        m[f"spark.jobs_per_op.{c}"] = per_cls_jobs[c] / n
        m[f"spark.tasks_per_op.{c}"] = per_cls_tasks[c] / n
        m[f"catalyst.exchanges_per_op.{c}"] = exch[c] / n
    # lake
    m["lake.commit_s"] = total("lake", LAKE_MUTATORS)
    m["lake.commits"] = sum(
        1
        for sp in spans
        if sp.layer == "lake"
        and sp.name in LAKE_MUTATORS
        and not _has_ancestor(sp, by_id, "lake", LAKE_MUTATORS)
    )
    m["lake.manifest_reads"] = count("lake", {"read_manifest"})
    m["lake.manifest_read_s"] = total("lake", {"read_manifest"}, top=False)
    m["lake.conflicts"] = tracer.errors["ConcurrentLakeModificationError"]
    m["lake.files_live"] = sum(
        len((w.pkg.sources.read_manifest(loc) or {}).get("files", []))
        for loc in _lake_tables(w)
    )
    files_by_cls = {c: 0 for c in CLASSES}
    for sp in spans:
        if sp.layer == "lake" and sp.name == "read_table":
            files_by_cls[ops[sp.op][0]] += sp.files
    for c in CLASSES:
        m[f"lake.files_per_read.{c}"] = files_by_cls[c] / max(1, ops_per_class[c])
    m["lake.bytes_written"] = written["all"]
    m["lake.manifest_bytes_written"] = written["manifest"]
    # streaming
    ep = progress[len(progress) - ops_per_class["ingest"] :]
    dur = lambda k: sum(p["durations"].get(k, 0) for p in ep) / 1000.0  # noqa: E731
    m["stream.epochs"] = len(ep)
    m["stream.trigger_s"] = dur("triggerExecution")
    m["stream.add_batch_s"] = dur("addBatch")
    m["stream.offsets_s"] = dur("latestOffset") + dur("getBatch")
    m["stream.log_commit_s"] = dur("walCommit") + dur("commitOffsets")
    m["stream.plan_s"] = dur("queryPlanning")
    # operators
    m["operators.build_s"] = total("operators", None, top=False)
    for q in SCAN_QUERIES:
        scans = [e - s for (_, cls, s, e), o in zip(timings, done) if cls == "scan" and o.arg == q]
        m[f"batch.{q}_s"] = statistics.median(scans) if scans else 0.0
    return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if "per_" in name:
        return "ratio"
    return "count"


def _has_ancestor(sp, by_id, layer, names) -> bool:
    p = by_id.get(sp.parent)
    while p is not None:
        if p.layer == layer and (names is None or p.name in names):
            return True
        p = by_id.get(p.parent)
    return False


def _descendants(sp, children):
    todo, out = list(children.get(sp.sid, [])), []
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(children.get(c.sid, []))
    return out


def _op_at(t, ops):
    for i, (_, s, e) in ops.items():
        if s <= t <= e:
            return i
    return None


def _in_any(t, ops) -> bool:
    return t is not None and _op_at(t, ops) is not None


def _lake_tables(w) -> list[str]:
    return [
        t.location
        for t in w.catalog.tables.values()
        if w.pkg.sources.read_manifest(t.location) is not None
    ]
