"""Governed-lake benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload governed_reads --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository. It starts one
SparkSession, builds its inputs from ``--seed`` under
``lakebench/.work/`` (removed at exit), seeds the lake, warms up, runs
the workload's op-mix cycle in a closed loop (one client) until
``--seconds`` have passed and at least one whole cycle is done, checks
every result against DuckDB and prints two JSON lines: a full report
(every metric with its unit and sample count, the host and the
inputs), then the result line.
With ``--trace 0`` the result line carries the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run is traced and it carries
the per-layer metrics. The report and the spans are also written to
``lakebench/.results/``. The exit code is non-zero when a correctness
check or the trace's layer-coverage guard fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

import data
import tracing as tr
import workloads as wl

PKG = "tf_aws_lakeformation_governed_datalake_demo_spark"
# everything a run writes stays in the benchmark's own directory
HERE = os.path.dirname(os.path.abspath(__file__))
# JVM heap, unless SPARK_DRIVER_MEMORY is set: the package's own default
# (16g) is more than the benchmark's inputs need
DRIVER_MEMORY = "2g"


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """The highest of p90/p75/p50 that leaves at least ten samples beyond it."""
    for p in (90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def latency_stats(prefix: str, values_ms: list[float]) -> dict:
    """Sample count, median and the highest percentile with ten samples
    beyond it."""
    out = {f"{prefix}_samples": {"value": len(values_ms), "unit": "count"}}
    if not values_ms:
        return out
    for p in sorted({50, tail_percentile(len(values_ms)) or 50}):
        out[f"{prefix}_p{p}_ms"] = {"value": percentile(values_ms, p), "unit": "ms"}
    return out


def peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process and its descendants,
    which include the JVM."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


class Context:
    """What a workload needs: the session, the package, the inputs."""

    def __init__(self, spark, pkg, seed, tables, src_dir, tracer):
        self.spark, self.pkg, self.seed = spark, pkg, seed
        self.tables, self.src_dir, self.tracer = tables, src_dir, tracer

    def layer_span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()


class StreamEpochs:
    """Collects micro-batch progress from a ``StreamingQueryListener``."""

    def __init__(self):
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                if p.numInputRows > 0:
                    sink.append(
                        {"rows": p.numInputRows, "durations": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _Listener()


@contextmanager
def workdir(name: str):
    path = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    # the session is stopped and every result is checked: the JVM has
    # nothing left to flush, so ask it to exit and do not wait long
    proc.terminate()
    try:
        proc.wait(timeout=5)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"lakebench: no {PKG} package under {root}; run from a checkout", file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with workdir(args.workload) as work:
        return run(args, root, work, t_proc)


def run(args, root, work, t_proc) -> int:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    sys.path.insert(0, root)
    pkg = importlib.import_module(PKG)
    if not os.path.abspath(pkg.__file__).startswith(os.path.join(root, PKG)):
        print(f"lakebench: {PKG} was imported from outside {root}", file=sys.stderr)
        return 2
    importlib.import_module(f"{PKG}.fixtures")
    importlib.import_module(f"{PKG}.operators")
    importlib.import_module(f"{PKG}.operators.streaming_ops")

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files in the checkout; -XX:-UsePerfData stops
        # it writing its perf-counter file to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = pkg.get_spark(app_name="lakebench", extra_conf=conf)
    log(t_proc, "session started")
    try:
        return measure(args, root, work, t_proc, pkg, spark)
    finally:
        stop_spark(spark)
        log(t_proc, "session stopped")


def log(t_proc: float, msg: str) -> None:
    print(f"lakebench: [{time.time() - t_proc:6.1f}s] {msg}", file=sys.stderr, flush=True)


def canary_ms(spark, reps=5) -> float:
    """Median wall time of a fixed tiny Spark job: a host-drift check."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 200_000, 1, 4).selectExpr("sum(id % 7)").collect()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def measure(args, root, work, t_proc, pkg, spark) -> int:
    import pyspark

    layer = {"session.start_s": time.time() - t_proc}
    t0 = time.time()
    tables = data.generate(args.seed)
    src_dir = os.path.join(work, "src")
    input_bytes = data.write_dir(tables, src_dir)
    layer["setup.replica_s"] = time.time() - t0

    tracer = tr.Tracer() if args.trace else None
    ctx = Context(spark, pkg, args.seed, tables, src_dir, tracer)
    w = wl.WORKLOADS[args.workload](ctx)
    t1 = time.time()
    w.setup_lake(os.path.join(work, "lake"))
    layer["setup.seed_s"] = time.time() - t1
    log(t_proc, "lake seeded")
    epochs = StreamEpochs()
    spark.streams.addListener(epochs.listener())
    warm_ops = w.warmup()
    log(t_proc, "warm-up done")
    layer["host.canary_ms"] = canary_ms(spark)

    engine_counts = {
        k: sum(e.metrics[k] for e in w.engines) for k in ("queries_failed", "queries_denied")
    }
    if tracer:
        tracer.install(PKG)
        tracer.listen_query_executions(spark)
    ops = w.make_ops(5000)
    lake_root = w.lake
    before = tree_files(lake_root)
    bytes_written = {"all": 0, "manifest": 0}
    timings: list[tuple] = []
    sc = spark.sparkContext
    t_first = time.time()
    setup_s = t_first - t_proc
    deadline = t_first + args.seconds
    done = []
    cycle = len(w.CYCLE)
    for i, op in enumerate(ops):
        # at least one whole cycle, so every op kind has a latency sample
        if i >= cycle and time.time() >= deadline:
            break
        if tracer:
            tracer.op_id = i
            sc.setJobGroup(f"lakebench-{i}", op.kind)
        s = time.time()
        try:
            w.run_op(op)
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            op.ok = False
            op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        e = time.time()
        timings.append((i, op.cls, s, e))
        done.append(op)
        if op.cls in ("write", "ingest", "maint"):
            after = tree_files(lake_root)
            for p, (ino, size) in after.items():
                if before.get(p, (None,))[0] != ino:
                    bytes_written["all"] += size
                    if "_manifest" in p:
                        bytes_written["manifest"] += size
            before = after
    if tracer:
        tracer.op_id = None
        sc.setJobGroup("lakebench-after", "after")
        tracer.uninstall()
        # the engines' own failure counters, over the window only
        engine_counts = {
            k: sum(e.metrics[k] for e in w.engines) - v for k, v in engine_counts.items()
        }
    n_ingest = sum(1 for o in done + warm_ops if o.cls == "ingest")
    wait_until = time.time() + 10
    while len(epochs.progress) < n_ingest and time.time() < wait_until:
        time.sleep(0.05)

    rss = peak_rss_mb()
    log(t_proc, f"window done: {len(done)} ops")
    problems = w.check(warm_ops + done)
    log(t_proc, "checks done")
    failures = [o for o in done if not o.ok]
    for o in failures:
        problems.append(f"op {o.kind} failed: {o.error}")

    report = end_to_end(w, done, timings, epochs, bytes_written, setup_s, rss)
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": args.seed,
        "replica_factor": 1,
        "input_bytes": input_bytes,
        "host.canary_ms": layer["host.canary_ms"],
    }
    if tracer:
        per_layer = tr.layer_metrics(
            tracer, w, done, timings, epochs.progress, layer, bytes_written, engine_counts, spark
        )
        problems += [
            f"layer coverage: {c} recorded no calls"
            for c in w.REQUIRED_CALLS
            if tracer.calls[c] == 0
        ]
    else:
        per_layer = {k: {"value": v, "unit": tr.unit_of(k)} for k, v in layer.items()}

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    pool = {**report, **per_layer}
    metrics = {m["name"]: pool[m["name"]] for m in wanted if m["name"] in pool}
    missing = [m["name"] for m in wanted if m["name"] not in pool]
    problems += [f"metric {m} was not measured" for m in missing]
    full = {
        "workload": w.name,
        "trace": args.trace,
        "seconds": args.seconds,
        "host": host,
        "problems": problems,
        "end_to_end": report,
        "per_layer": per_layer,
        "op_log": [
            [op.kind, round((e - s) * 1000.0, 1), op.ok] for (_, _, s, e), op in zip(timings, done)
        ],
    }
    if tracer:
        full["tracing_overhead"] = (
            "end_to_end above is measured with tracing on; its difference from "
            "an untraced run of the same seed is the tracing overhead"
        )
    out_dir = os.path.join(HERE, ".results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{w.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(full, f, indent=1, default=str)
    if tracer:
        tracer.dump(stem + ".spans.jsonl")
    print(json.dumps(full, default=str))
    result = {
        "correct": not problems,
        "attempted": len(done),
        "failed": len(failures),
        "metrics": metrics,
    }
    for p in problems:
        print(f"lakebench: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if not problems else 1


def end_to_end(w, done, timings, epochs, written, setup_s, rss) -> dict:
    """The metrics a user of the engine sees, from the untimed bookkeeping
    of the closed loop."""
    lat = {c: [] for c in wl.CLASSES}
    for (_, cls, s, e), op in zip(timings, done):
        if op.ok:
            lat[cls].append((e - s) * 1000.0)
    all_ms = [x for v in lat.values() for x in v]
    m = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": cycle_rate(w, done, timings), "unit": "1/s"},
        "cycles": {"value": len(timings) / len(w.CYCLE), "unit": "count"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "error_ratio": {
            "value": sum(1 for o in done if not o.ok) / max(1, len(done)),
            "unit": "ratio",
        },
        "attempted": {"value": len(done), "unit": "count"},
        "by_class": {
            "value": {
                c: [sum(1 for o in done if o.cls == c), sum(1 for o in done if o.cls == c and not o.ok)]
                for c in wl.CLASSES
                if any(o.cls == c for o in done)
            },
            "unit": "[attempted, failed]",
        },
    }
    m.update(latency_stats("op", all_ms))
    kinds: dict[str, list] = {}
    for (_, _, s, e), op in zip(timings, done):
        kinds.setdefault(op.kind, []).append((e - s) * 1000.0)
    m["by_kind"] = {
        "value": {k: [len(v), round(percentile(v, 50), 1), round(max(v), 1)] for k, v in kinds.items()},
        "unit": "[n, p50 ms, max ms]",
    }
    m.update(latency_stats("read", lat["read"]))
    m.update(latency_stats("write", lat["write"]))
    m.update(latency_stats("scan", lat["scan"]))
    if lat["maint"]:
        m["maint_s"] = {"value": sum(lat["maint"]) / 1000.0, "unit": "s"}
        m["maint_samples"] = {"value": len(lat["maint"]), "unit": "count"}
    if lat["ingest"]:
        m.update(latency_stats("ingest", lat["ingest"]))
        trig = [p["durations"].get("triggerExecution", 0) for p in epochs.progress]
        trig = trig[-len(lat["ingest"]) :]
        m.update(latency_stats("epoch", trig))
        rows = sum(o.arg for o in done if o.cls == "ingest" and o.ok)
        m["ingest_rows_per_s"] = {"value": rows / (sum(lat["ingest"]) / 1000.0), "unit": "rows/s"}
    user = sum(o.user_bytes for o in done if o.ok)
    if user:
        m["write_amp"] = {"value": written["all"] / user, "unit": "ratio"}
    if hasattr(w, "orders_loc"):
        m["space_amp"] = {"value": space_amp(w), "unit": "ratio"}
    return m


def cycle_rate(w, done, timings) -> float:
    """Throughput of the closed loop with one client: the ops of one
    op-mix cycle per second, each op taken at the median latency of the
    completed ops of its kind and principal in the window. A single slow
    op, or a window that ends mid-cycle, moves it little; a kind that
    never completed makes it 0."""
    secs: dict[tuple, list[float]] = {}
    for (_, _, s, e), op in zip(timings, done):
        if op.ok:
            secs.setdefault((op.kind, op.principal), []).append(e - s)
    keys = [(op.kind, op.principal) for op in done[: len(w.CYCLE)]]
    return len(keys) / sum(statistics.median(secs.get(k, [math.inf])) for k in keys)


def space_amp(w) -> float:
    """Bytes on disk under the orders table ÷ bytes of its live files."""
    snap = w.pkg.sources.read_manifest(w.orders_loc)
    live = sum(os.path.getsize(os.path.join(w.orders_loc, f)) for f in snap["files"])
    disk = sum(size for _, size in tree_files(w.orders_loc).values())
    return disk / live


if __name__ == "__main__":
    sys.exit(main())
