"""The benchmark's workloads: set-up, seeded op sequences and checks.

Each workload is a closed loop with one client: the next op starts when
the previous one returned. Ops are generated from the seed before the
timed window starts; the program only ever sees the generated SQL,
DataFrames and files. After the window every result is checked against
DuckDB over the same seeded data.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data

DB = "sales_db"
ADMIN, ANALYST, AUDITOR, GUEST, OPS = "dataadmin", "analyst", "auditor", "guest", "ops"

# Data-cells filters (row predicate, column allowlist) per (principal,
# table). The analyst's filter on ``sales`` is the reference's own, which
# ``fixtures.bootstrap`` declares; the others are declared by the
# workloads. The DuckDB checks derive each principal's view of the data
# from these same declarations. A view expands with the row predicate
# only, so the masked view shows masked PII of the filtered rows.
SALES_COLS = ("customer_id", "customer_name", "sales_region", "sales_amount", "sale_date")
POLICY = {
    (ANALYST, "orders"): (
        "o_orderpriority IN ('1-URGENT', '2-HIGH')",
        ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
    ),
    (ANALYST, "lineitem"): (
        "l_returnflag = 'R'",
        (
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ),
    ),
    (ANALYST, "sales"): ("sales_region = 'APAC'", SALES_COLS),
    (AUDITOR, "sales"): ("sales_region = 'EMEA'", SALES_COLS),
}
MASKED_SELECT = (
    "SELECT customer_id, customer_name, "
    "regexp_replace(customer_email, '^([^@]{{1,3}}).*@', '***@') AS customer_email, "
    "regexp_replace(ssn, '\\d', '*', 'g') AS ssn, "
    "sales_region, sales_amount, sale_date FROM {src}"
)

# The analytic registry queries the read workload runs once per cycle
# each: a one-table aggregate and a fact-fact join, the two cheapest of
# the TPC-H-shaped set, so scans stay a small share of the window.
SCAN_QUERIES = ("agg_tpch_q1", "join_fact_revenue")


# op classes, which metrics are grouped by
CLASSES = ("read", "write", "maint", "ingest", "scan")


@dataclass
class Op:
    """One client request; ``cls`` is one of ``CLASSES``."""

    cls: str
    kind: str
    principal: str | None = None
    sql: str | list[str] | None = None
    duck: list[str] = field(default_factory=list)
    expect_denied: bool = False
    arg: object = None
    # filled in when the op runs
    rows: list | None = None
    error: str | None = None
    ok: bool = False
    user_bytes: float = 0.0


def _skewed(rng, pool, n):
    """``n`` draws from ``pool`` with Zipf-like skew, so hot values repeat."""
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(pool) - 1)
    return [pool[i] for i in idx]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def same_rows(got, want, ordered=False) -> bool:
    """Row lists equal up to order (unless ``ordered``) and float noise:
    summation order differs between engines in the last bits."""
    if len(got) != len(want):
        return False
    g = [tuple(r) for r in got]
    w = [tuple(r) for r in want]
    if not ordered:
        key = lambda r: tuple((x is None, str(_norm(x))) for x in r)  # noqa: E731
        g, w = sorted(g, key=key), sorted(w, key=key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                    float(x), float(y), rel_tol=1e-9, abs_tol=0.011
                ):
                    return False
            elif x != y:
                return False
    return True


def _duck(src_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    con.execute("SET TimeZone = 'UTC'")
    for n in names:
        con.execute(
            f"CREATE TABLE {n} AS SELECT * FROM read_parquet('{src_dir}/{n}.parquet')"
        )
    return con


def _policy_views(con, who: str, tables) -> None:
    """Schema ``p_<who>`` holding what ``who`` may see of each table and
    of the masked view, derived from ``POLICY``."""
    con.execute(f"CREATE SCHEMA p_{who}")
    for t in tables:
        if who == ADMIN:
            con.execute(f"CREATE VIEW p_{who}.{t} AS SELECT * FROM main.{t}")
        elif (who, t) in POLICY:
            row, cols = POLICY[(who, t)]
            con.execute(
                f"CREATE VIEW p_{who}.{t} AS SELECT {', '.join(cols)} "
                f"FROM main.{t} WHERE {row}"
            )
    row = POLICY.get((who, "sales"), ("TRUE", None))[0]
    src = f"(SELECT * FROM main.sales WHERE {row})"
    con.execute(f"CREATE VIEW p_{who}.sales_masked AS " + MASKED_SELECT.format(src=src))


def _sales_duck(con, fx) -> None:
    con.execute(
        "CREATE TABLE sales (customer_id VARCHAR, customer_name VARCHAR, "
        "customer_email VARCHAR, ssn VARCHAR, sales_region VARCHAR, "
        "sales_amount DOUBLE, sale_date VARCHAR)"
    )
    con.executemany("INSERT INTO sales VALUES (?, ?, ?, ?, ?, ?, ?)", fx.sales_rows())


class Workload:
    """Common shape: ``setup_lake`` (timed), ``warmup``,
    ``ops`` (the seeded sequence), ``run_op``, ``check``."""

    name = ""
    # entry points (layer.name, as the tracer counts them) the timed
    # window must reach; a traced run with zero calls to one fails
    REQUIRED_CALLS: tuple = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.pkg = ctx.pkg
        self.rng = np.random.default_rng(ctx.seed)
        self.tables = ctx.tables
        self.src = ctx.src_dir
        self.engines = []

    def _catalog(self, lake):
        fx = self.pkg.fixtures
        cat = fx.bootstrap(self.spark, lake)
        cat.set_admins([OPS])
        return cat

    def _publish(self, cat, lake, name, partition):
        sources = self.pkg.sources
        df = self.spark.read.parquet(f"{self.src}/{name}.parquet")
        loc = f"{lake}/{name}"
        sources.publish_overwrite(self.spark, loc, df, [partition], manifest=True)
        cat.register_table(
            self.pkg.TableDef(DB, name, loc, schema=df.schema, partition_keys=(partition,))
        )
        return loc

    def _grant_filtered(self, cat, who, table):
        row, cols = POLICY[(who, table)]
        fname = f"{who}-{table}"
        cat.create_data_cells_filter(
            self.pkg.DataCellsFilter(fname, DB, table, columns=cols, row_filter=row)
        )
        cat.grant(who, self.pkg.SELECT, DB, table, via_filter=fname)

    def warmup(self) -> list[Op]:
        """One op of each kind, untimed; returned so checks replay them."""
        ops = self.make_ops(len(self.WARMUP), self.WARMUP)
        for op in ops:
            self.run_op(op)
        return ops

    # governed read through the Athena-style lifecycle
    def governed_read(self, eng, op: Op) -> None:
        qid = eng.submit(op.sql, op.principal)
        state = eng.status(qid).value
        if state == "SUCCEEDED":
            op.rows = [tuple(r) for r in eng.results(qid, max_rows=100)]
            op.ok = not op.expect_denied
            if op.expect_denied:
                op.error = "expected a denial, got rows"
        else:
            op.error = eng.state_change_reason(qid) or state
            op.ok = op.expect_denied and op.error.startswith("PermissionDeniedError")


class GovernedReads(Workload):
    """Governed SELECTs under Lake Formation-style policy, plus the
    registry's analytic scans; nothing is committed to the lake."""

    name = "governed_reads"
    REQUIRED_CALLS = (
        "statements.parse_statement",
        "catalog._rewrite_sql",
        "catalog.table",
        "catalog.record",
        "engine.submit",
        "engine.results",
        "lake.read_table",
    )

    def setup_lake(self, lake: str) -> None:
        pkg = self.pkg
        cat = self._catalog(lake)
        for name, part in (("orders", "o_orderstatus"), ("lineitem", "l_linestatus")):
            self._publish(cat, lake, name, part)
            cat.grant(ADMIN, pkg.ALL, DB, name)
            self._grant_filtered(cat, ANALYST, name)
        self._grant_filtered(cat, AUDITOR, "sales")
        cat.grant(AUDITOR, pkg.SELECT, DB, "sales_masked")
        self.catalog, self.lake = cat, lake
        self.eng = pkg.Engine(self.spark, cat)
        self.engines = [self.eng]

    # op kinds in the order the closed loop issues them, repeated; every
    # cycle asks the same work, scans included
    CYCLE = [
        ("point", ADMIN), ("point", ANALYST), ("part_agg", ADMIN),
        ("masked", AUDITOR), ("full_agg", ADMIN), ("agg_tpch_q1", None),
        ("join", ADMIN), ("part_agg", ANALYST), ("count", ADMIN),
        ("denied", GUEST), ("masked", ANALYST), ("join", ANALYST),
        ("join_fact_revenue", None),
    ]
    # the JVM is still speeding up through the first cycle or two
    WARMUP = CYCLE * 2

    def make_ops(self, n: int, cycle=None) -> list[Op]:
        cycle = cycle or self.CYCLE
        rng = self.rng
        n_ord = self.tables["orders"].num_rows
        n_cust = self.tables["customer"].num_rows
        keys = [int(k) for k in rng.integers(0, n_ord, 64)]
        custs = [int(c) for c in rng.integers(0, n_cust, 64)]
        dates = [f"{y}-{m:02d}-01 00:00:00" for y in (1995, 1997, 1999) for m in (1, 7)]
        amounts = [1400.0, 1800.0, 2200.0, 2600.0]
        draws = {
            "key": _skewed(rng, keys, n),
            "cust": _skewed(rng, custs, n),
            "date": _skewed(rng, dates, n),
            "status": _skewed(rng, ["F", "O", "P"], n),
            "amount": _skewed(rng, amounts, n),
            "limit": [int(x) for x in rng.integers(3, 12, n)],
        }
        o, li, sm = f"{DB}.orders", f"{DB}.lineitem", f"{DB}.sales_masked"
        ops = []
        for i in range(n):
            kind, who = cycle[i % len(cycle)]
            k, c, d = draws["key"][i], draws["cust"][i], draws["date"][i]
            s, a, lim = draws["status"][i], draws["amount"][i], draws["limit"][i]
            if kind in SCAN_QUERIES:
                ops.append(Op("scan", kind, arg=kind))
                continue
            sql = {
                "point": f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                f"FROM {o} WHERE o_orderkey = {k}",
                "denied": f"SELECT o_orderkey, o_totalprice FROM {o} WHERE o_orderkey = {k}",
                "part_agg": f"SELECT o_orderstatus, count(*) AS n, "
                f"round(sum(o_totalprice), 2) AS total FROM {o} "
                f"WHERE o_orderstatus = '{s}' AND o_orderdate >= TIMESTAMP '{d}' "
                "GROUP BY o_orderstatus",
                "full_agg": "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "round(sum(l_quantity), 2) AS qty, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
                f"FROM {li} WHERE l_shipdate >= TIMESTAMP '{d}' "
                "GROUP BY l_returnflag, l_linestatus",
                "join": "SELECT o.o_orderstatus, count(*) AS n, "
                "round(sum(l.l_extendedprice), 2) AS rev "
                f"FROM {o} o JOIN {li} l ON o.o_orderkey = l.l_orderkey "
                f"WHERE o.o_custkey = {c} GROUP BY o.o_orderstatus",
                "count": f"SELECT count(*) AS n FROM {li}",
                "masked": "SELECT customer_id, customer_email, ssn, sales_amount "
                f"FROM {sm} WHERE sales_amount >= {a} ORDER BY customer_id LIMIT {lim}",
            }[kind]
            ops.append(Op("read", kind, who, sql, expect_denied=kind == "denied"))
        return ops

    def run_op(self, op: Op) -> None:
        if op.cls == "scan":
            spec = self.pkg.operators.REGISTRY[op.arg]
            with self.ctx.layer_span("operators", op.arg):
                df = spec.builder(self.spark, self.src)
            # drained to the client as Arrow, so the rows can be checked
            op.rows = df.toArrow().to_pylist()
            op.ok = True
            return
        self.governed_read(self.eng, op)

    def check(self, ops: list[Op]) -> list[str]:
        fx = self.pkg.fixtures
        con = _duck(self.src, data.TPCH_NAMES)
        _sales_duck(con, fx)
        for who in (ADMIN, ANALYST, AUDITOR):
            _policy_views(con, who, ("orders", "lineitem", "sales"))
        problems, seen = [], {}
        for op in ops:
            if not op.ok:
                continue
            if op.cls == "scan":
                key = ("scan", op.arg)
                if key not in seen:
                    oracle = self.pkg.operators.REGISTRY[op.arg].oracle
                    seen[key] = con.execute(oracle).fetchall()
                got = [tuple(r.values()) for r in op.rows]
                if not same_rows(got, seen[key]):
                    problems.append(f"scan {op.arg}: rows differ from the DuckDB oracle")
                continue
            if op.expect_denied:
                continue  # ``governed_read`` already required the denial
            key = (op.principal, op.sql)
            if key not in seen:
                dsql = op.sql.replace(f"{DB}.", f"p_{op.principal}.")
                seen[key] = con.execute(dsql).fetchall()[:100]
            if not same_rows(op.rows, seen[key], ordered="ORDER BY" in op.sql):
                problems.append(f"{op.principal}: {op.sql[:80]}: rows differ from policy")
        # every principal's full view, once per run
        full = {
            ADMIN: f"SELECT * FROM {DB}.sales",
            ANALYST: f"SELECT * FROM {DB}.sales",
            AUDITOR: f"SELECT * FROM {DB}.sales_masked",
        }
        for who, sql in full.items():
            got = [tuple(r) for r in self.eng.sql(sql, who).collect()]
            want = con.execute(sql.replace(f"{DB}.", f"p_{who}.")).fetchall()
            if not same_rows(got, want):
                problems.append(f"{who}: full read of {sql.split()[-1]} differs from policy")
        denied = Op("read", "denied", GUEST, f"SELECT * FROM {DB}.sales", expect_denied=True)
        self.governed_read(self.eng, denied)
        if not denied.ok:
            problems.append(f"ungranted principal was not denied: {denied.error}")
        con.close()
        return problems


class LakeDml(Workload):
    """DML, maintenance and a lake-append stream with an MV refreshed
    after every commit, interleaved with governed reads."""

    name = "lake_dml"
    REQUIRED_CALLS = GovernedReads.REQUIRED_CALLS + (
        "statements.extract_as_of",
        "engine.sql",
        "engine.refresh_materialized_view",
        "lake.append_rows",
        "lake.merge_into",
        "lake.update_rows",
        "lake.delete_rows",
        "lake.optimize_binpack",
        "lake.vacuum_manifests",
        "lake.read_manifest",
    )
    STREAM_ID = "ingest"
    CHUNK = 1000  # rows per landed change file
    # keys each UPDATE, MERGE and DELETE touches: positions are seeded,
    # sizes fixed, so every seed asks the same work of each op kind
    KEYS_PER_OP = 16

    def setup_lake(self, lake: str) -> None:
        pkg = self.pkg
        cat = self._catalog(lake)
        self.orders_loc = self._publish(cat, lake, "orders", "o_orderstatus")
        cat.grant(ADMIN, pkg.ALL, DB, "orders")
        self._grant_filtered(cat, ANALYST, "orders")
        # events: a seeded prefix is the table, the rest arrives by stream
        ev = self.tables["events"]
        order = np.random.default_rng(self.ctx.seed + 1).permutation(ev.num_rows)
        self.events = ev.take(pa.array(order))
        self.n_seed_events = 5 * self.CHUNK
        ev_src = f"{lake}_landing_seed"
        os.makedirs(ev_src, exist_ok=True)
        pq.write_table(self.events.slice(0, self.n_seed_events), f"{ev_src}/seed.parquet")
        edf = self.spark.read.parquet(ev_src)
        self.events_loc = f"{lake}/events"
        pkg.sources.publish_overwrite(
            self.spark, self.events_loc, edf, ["event_type"], manifest=True
        )
        cat.create_database("stream_db")
        cat.register_table(
            pkg.TableDef(
                "stream_db", "events", self.events_loc, schema=edf.schema,
                partition_keys=("event_type",),
            )
        )
        self.events_schema = edf.schema
        eng = pkg.Engine(self.spark, cat)
        eng.create_materialized_view(
            "stream_db.events_mv", "stream_db.events", ["event_type"],
            {"n": ("count", None), "total": ("sum", "value")}, principal=OPS,
        )
        self.landing = f"{lake}_landing"
        self.ckpt = f"{lake}/_ckpt"
        os.makedirs(self.landing, exist_ok=True)
        self.landed = 0
        self.catalog, self.eng, self.lake = cat, eng, lake
        self.engines = [eng]
        names = pkg.fixtures.SALES_SCHEMA.fieldNames()
        sales = pa.Table.from_pylist([dict(zip(names, r)) for r in pkg.fixtures.sales_rows()])
        # Arrow bytes per row: the user-data size behind write_amp
        self.row_bytes = {
            name: t.nbytes / t.num_rows
            for name, t in (("orders", self.tables["orders"]), ("events", ev), ("sales", sales))
        }
        self._new_key = 10 * self.tables["orders"].num_rows
        self._merges = 0

    # seven writes (two of them stream epochs), two reads and one
    # OPTIMIZE + VACUUM per cycle; a timed window holds about one cycle
    CYCLE = [
        "insert", "read_admin", "update", "merge", "ingest",
        "delete", "read_analyst", "maint", "update_sales", "ingest",
    ]
    # one of each kind: a second stream epoch is already at its steady cost
    WARMUP = CYCLE[:-1]

    def make_ops(self, n: int, cycle=None) -> list[Op]:
        cycle = cycle or self.CYCLE
        rng = self.rng
        n_ord = self.tables["orders"].num_rows
        starts = [int(k) for k in rng.integers(0, n_ord - 50, 48)]
        deltas = [0.5, 1.25, 2.0, 3.75]
        prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]
        o = f"{DB}.orders"
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        ops = []
        for i in range(n):
            kind = cycle[i % len(cycle)]
            a = _skewed(rng, starts, 1)[0]
            w = self.KEYS_PER_OP
            dl = float(rng.choice(deltas))
            if kind == "insert":
                vals = []
                for _ in range(3):
                    self._new_key += 1
                    vals.append(
                        f"({self._new_key}, {int(rng.integers(0, 15000))}, "
                        f"'{rng.choice(['O', 'F', 'P'])}', {round(float(rng.uniform(1000, 5e5)), 2)}, "
                        f"TIMESTAMP '199{int(rng.integers(5, 9))}-0{int(rng.integers(1, 9))}-15 00:00:00', "
                        f"'{rng.choice(prios)}')"
                    )
                sql = f"INSERT INTO {o} ({cols}) VALUES {', '.join(vals)}"
                ops.append(Op("write", kind, ADMIN, sql, [sql.replace(f"{DB}.", "")]))
            elif kind == "update":
                where = f"o_orderkey BETWEEN {a} AND {a + w}"
                sql = f"UPDATE {o} SET o_totalprice = o_totalprice + {dl} WHERE {where}"
                ops.append(Op("write", kind, ADMIN, sql, [sql.replace(f"{DB}.", "")]))
            elif kind == "delete":
                sql = f"DELETE FROM {o} WHERE o_orderkey BETWEEN {a} AND {a + w // 4}"
                ops.append(Op("write", kind, ADMIN, sql, [sql.replace(f"{DB}.", "")]))
            elif kind == "merge":
                self._merges += 1
                shift = self._new_key + 1_000_000 * self._merges
                b = _skewed(rng, starts, 1)[0]
                using = (
                    f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + {dl} AS o_totalprice, "
                    f"o_orderdate, o_orderpriority FROM {o} WHERE o_orderkey BETWEEN {a} AND {a + w} "
                    f"UNION ALL SELECT o_orderkey + {shift} AS o_orderkey, o_custkey, o_orderstatus, "
                    f"o_totalprice, o_orderdate, o_orderpriority FROM {o} "
                    f"WHERE o_orderkey BETWEEN {b} AND {b + 3}"
                )
                sql = (
                    f"MERGE INTO {o} AS t USING ({using}) AS s ON t.o_orderkey = s.o_orderkey "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
                )
                src = using.replace(f"{DB}.", "")
                duck = [
                    f"CREATE OR REPLACE TEMP TABLE merge_src AS {src}",
                    "UPDATE orders SET o_custkey = s.o_custkey, o_orderstatus = s.o_orderstatus, "
                    "o_totalprice = s.o_totalprice, o_orderdate = s.o_orderdate, "
                    "o_orderpriority = s.o_orderpriority FROM merge_src s "
                    "WHERE orders.o_orderkey = s.o_orderkey",
                    "INSERT INTO orders SELECT * FROM merge_src s WHERE s.o_orderkey NOT IN "
                    "(SELECT o_orderkey FROM orders)",
                ]
                ops.append(Op("write", kind, ADMIN, sql, duck))
            elif kind == "update_sales":
                cid = f"CUST{int(rng.integers(1, 21)):04d}"
                sql = (
                    f"UPDATE {DB}.sales SET sales_amount = sales_amount + {dl} "
                    f"WHERE customer_id = '{cid}'"
                )
                ops.append(Op("write", kind, ADMIN, sql, [sql.replace(f"{DB}.", "")]))
            elif kind == "read_admin":
                sql = (
                    f"SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total "
                    f"FROM {o} GROUP BY o_orderstatus"
                )
                ops.append(Op("read", kind, ADMIN, sql))
            elif kind == "read_analyst":
                sql = (
                    f"SELECT o_orderkey, o_totalprice FROM {o} "
                    f"WHERE o_orderkey BETWEEN {a} AND {a + 40} ORDER BY o_orderkey"
                )
                ops.append(Op("read", kind, ANALYST, sql))
            elif kind == "ingest":
                ops.append(Op("ingest", kind, OPS))
            else:
                ops.append(
                    Op("maint", kind, ADMIN, [f"OPTIMIZE {o}", f"VACUUM {o} RETAIN 2 SNAPSHOTS"])
                )
        return ops

    def _land_next(self) -> int:
        start = self.n_seed_events + self.landed * self.CHUNK
        chunk = self.events.slice(start, self.CHUNK)
        pq.write_table(chunk, f"{self.landing}/part-{self.landed:05d}.parquet")
        self.landed += 1
        return chunk.num_rows

    def run_op(self, op: Op) -> None:
        eng = self.eng
        if op.cls == "read":
            self.governed_read(eng, op)
            return
        if op.cls == "ingest":
            rows = self._land_next()
            self.pkg.operators.streaming_ops.stream_lake_append(
                self.spark, self.landing, self.events_schema, self.events_loc,
                partition_by=["event_type"], stream_id=self.STREAM_ID, checkpoint=self.ckpt,
            )
            eng.refresh_materialized_view("stream_db.events_mv", principal=OPS)
            op.user_bytes = rows * self.row_bytes["events"]
            op.arg = rows
            op.ok = True
            return
        if op.cls == "maint":
            op.rows = [tuple(eng.sql(s, op.principal).collect()[0]) for s in op.sql]
            op.ok = True
            return
        res = eng.sql(op.sql, op.principal).collect()[0].asDict()
        changed = sum(
            int(res.get(k, 0) or 0) for k in ("rows_inserted", "rows_updated", "rows_deleted")
        )
        table = "sales" if op.kind == "update_sales" else "orders"
        op.user_bytes = changed * self.row_bytes[table]
        op.rows = [tuple(res.values())]
        op.ok = True

    def check(self, ops: list[Op]) -> list[str]:
        fx = self.pkg.fixtures
        problems = []
        con = _duck(self.src, ["orders"])
        _sales_duck(con, fx)
        for who in (ADMIN, ANALYST):
            _policy_views(con, who, ("orders", "sales"))
        for op in ops:
            if not op.ok:
                continue
            if op.cls == "write":
                for stmt in op.duck:
                    con.execute(stmt)
            elif op.cls == "read":
                dsql = op.sql.replace(f"{DB}.", f"p_{op.principal}.")
                want = con.execute(dsql).fetchall()[:100]
                if not same_rows(op.rows, want, ordered="ORDER BY" in op.sql):
                    problems.append(f"{op.kind}: {op.sql[:70]}: differs from the DuckDB replay")
        final = (
            "SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS keys, "
            "round(sum(o_totalprice), 2) AS total FROM {t} GROUP BY o_orderstatus"
        )
        got = [tuple(r) for r in self.eng.sql(final.format(t=f"{DB}.orders"), ADMIN).collect()]
        if not same_rows(got, con.execute(final.format(t="orders")).fetchall()):
            problems.append("final orders table differs from the DuckDB replay")
        sales = "SELECT customer_id, sales_amount FROM {t}"
        got = [tuple(r) for r in self.eng.sql(sales.format(t=f"{DB}.sales"), ADMIN).collect()]
        if not same_rows(got, con.execute(sales.format(t="sales")).fetchall()):
            problems.append("final sales table differs from the DuckDB replay")
        for loc in (self.orders_loc, self.events_loc):
            report = self.pkg.sources.verify_table(loc)
            if not report["ok"]:
                problems.append(f"verify_table({os.path.basename(loc)}) is not clean")
        problems += self._check_stream(con)
        con.close()
        return problems

    def _check_stream(self, con) -> list[str]:
        problems = []
        n_rows = self.n_seed_events + self.landed * self.CHUNK
        con.register("ev_all", self.events.slice(0, n_rows))
        want_n = con.execute(
            "SELECT event_type, count(*) FROM ev_all GROUP BY event_type"
        ).fetchall()
        got_n = [
            tuple(r)
            for r in self.eng.sql(
                "SELECT event_type, count(*) AS n FROM stream_db.events GROUP BY event_type",
                OPS,
            ).collect()
        ]
        if not same_rows(got_n, want_n):
            problems.append("streamed table row counts per event type are wrong")
        replay = self.pkg.sources.append_rows(
            self.spark,
            self.events_loc,
            self.spark.read.parquet(f"{self.landing}/part-00000.parquet"),
            partition_by=["event_type"],
            stream_id=self.STREAM_ID,
            batch_id=0,
        )
        if replay is not None:
            problems.append("a replayed micro-batch was committed again")
        if self.eng.refresh_materialized_view("stream_db.events_mv", principal=OPS)["refreshed"]:
            problems.append("an MV refresh after a replay was not a no-op")
        got_mv = [
            tuple(r)
            for r in self.eng.sql(
                "SELECT event_type, n, round(total, 2) FROM stream_db.events_mv", OPS
            ).collect()
        ]
        want_mv = con.execute(
            "SELECT event_type, count(*), round(sum(value), 2) FROM ev_all GROUP BY event_type"
        ).fetchall()
        if not same_rows(got_mv, want_mv):
            problems.append("the MV differs from a full recompute")
        return problems


WORKLOADS = {w.name: w for w in (GovernedReads, LakeDml)}
