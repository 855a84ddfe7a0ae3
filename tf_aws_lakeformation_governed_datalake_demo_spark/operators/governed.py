"""Governance operators exposed as driver queries (SURVEY.md §2.10).

These reproduce the reference's five validation query shapes
(outputs.tf:57-97) against the regenerated 20-row sales fixture. The
fixture tables are not in the driver's DuckDB view set, but the fixture
IS deterministic (fixtures.sales_rows, the faithful port of
generate_sample_data.py:21-62) — so each query carries a DIFFERENTIAL
oracle: the fixture rows inlined as a VALUES CTE with the governance
semantics (row predicate, column allowlist, masking regexes) applied
declaratively in DuckDB SQL. The driver therefore hash-verifies that the
engine's scan-interception rewrite produces exactly what the declared
policy says, rather than recording a rows-only count. Golden-value
assertions additionally live in tests/test_governance.py.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures as fx
from ..engine import Engine
from ..scratch import scratch_dir
from .registry import _require, query

# Weak keys: the cache entry dies with the SparkSession object, so a new
# session allocated at a recycled id() can never alias a stale Engine
# (round-1 VERDICT #8).
_ENGINES: "weakref.WeakKeyDictionary[SparkSession, Engine]" = (
    weakref.WeakKeyDictionary()
)


def _engine(spark: SparkSession) -> Engine:
    """One bootstrapped sales lake per SparkSession (cached)."""
    eng = _ENGINES.get(spark)
    if eng is None:
        lake = scratch_dir("sales_lake_")
        eng = Engine(spark, fx.bootstrap(spark, lake))
        _ENGINES[spark] = eng
    return eng


def _sales_values_sql() -> str:
    """The 20 fixture rows as a SQL VALUES list (repr round-trips the
    doubles exactly; single quotes doubled for SQL)."""

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    return ", ".join(
        "(" + ", ".join(lit(c) for c in row) + ")" for row in fx.sales_rows()
    )


_SALES_CTE = (
    "sales_fixture(customer_id, customer_name, customer_email, ssn, "
    f"sales_region, sales_amount, sale_date) AS (VALUES {_sales_values_sql()})"
)


@query(
    "governance_admin_count_by_region",
    f"""
    WITH {_SALES_CTE}
    SELECT sales_region, CAST(count(*) AS BIGINT) AS count
    FROM sales_fixture
    GROUP BY sales_region
    ORDER BY sales_region
    """,
    "G4 — DataAdmin sees all 3 regions (outputs.tf:67-73): AMER=6, "
    "APAC=8, EMEA=6. Differential oracle: the fixture VALUES aggregated "
    "ungoverned (ALL grant = no rewrite).",
)
def governance_admin_count_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark).sql(
        "SELECT sales_region, COUNT(*) as count FROM sales_db.sales "
        "GROUP BY sales_region ORDER BY sales_region",
        principal="dataadmin",
    )


@query(
    "governance_analyst_row_column_security",
    f"""
    WITH {_SALES_CTE}
    SELECT customer_id, customer_name, sales_region,
           CAST(sales_amount AS DOUBLE) AS sales_amount, sale_date
    FROM sales_fixture
    WHERE sales_region = 'APAC'
    ORDER BY customer_id
    LIMIT 10
    """,
    "G3/G5 — Analyst star-expands to the 5-col allowlist, APAC rows only "
    "(outputs.tf:75-80). Differential oracle: the fixture VALUES with "
    "the data-cells filter's row predicate and column allowlist applied "
    "declaratively (main.tf:442-453).",
)
def governance_analyst_row_column_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark).sql(
        "SELECT * FROM sales_db.sales ORDER BY customer_id LIMIT 10",
        principal="analyst",
    )


@query(
    "governance_masked_view",
    f"""
    WITH {_SALES_CTE}
    SELECT customer_id, customer_name,
           regexp_replace(customer_email, '^([^@]{{1,3}}).*@', '***@')
             AS customer_email,
           regexp_replace(ssn, '\\d', '*', 'g') AS ssn,
           sales_region,
           CAST(sales_amount AS DOUBLE) AS sales_amount,
           sale_date
    FROM sales_fixture
    WHERE sales_region = 'APAC'
    ORDER BY customer_id
    LIMIT 10
    """,
    "V3/F1/F2 — Analyst on sales_masked: APAC rows, ***@ emails, "
    "***-**-**** SSNs (outputs.tf:82-87). Differential oracle: the "
    "fixture VALUES with view masking (outputs.tf:48-49's regexes in "
    "DuckDB's RE2 dialect) composed over the row filter.",
)
def governance_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark).sql(
        "SELECT * FROM sales_db.sales_masked ORDER BY customer_id LIMIT 10",
        principal="analyst",
    )


@query(
    "governance_schema_evolution",
    f"""
    WITH {_SALES_CTE}
    SELECT customer_id, customer_name, sales_region,
           CAST(sales_amount AS DOUBLE) AS sales_amount, sale_date,
           CASE WHEN customer_id IN ('CUST0001','CUST0002','CUST0003',
                                     'CUST0004','CUST0005')
                THEN 'gold' END AS loyalty_tier
    FROM sales_fixture
    WHERE sales_region = 'APAC'
    ORDER BY customer_id
    """,
    "Fail-closed schema evolution on the governed lake (round-5 VERDICT "
    "#3): sales evolves a loyalty_tier column (catalog ALTER + merge "
    "with evolve_schema), which stays INVISIBLE to the analyst's "
    "allowlist until the two explicit decisions land — "
    "approve_evolved_columns plus an allowlist that names it (the "
    "pre-grant invisibility is pinned in tests/test_governance.py). "
    "Differential oracle: fixture VALUES + row predicate + the EXTENDED "
    "6-column allowlist, loyalty_tier = 'gold' for the five merged "
    "customers and NULL elsewhere.",
)
def governance_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the full week-one evolution flow on ITS OWN bootstrapped
    lake (never the shared cached engine — this query mutates catalog
    state): evolve schema -> land values through the evolved MERGE path
    -> approve the column -> extend the analyst allowlist -> analyst
    star-select shows the new column with values. Reference analogs:
    catalog-held schema main.tf:330-371, allowlist main.tf:442-448."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..governance import DataCellsFilter
    from ..sources.lake import merge_into

    lake = scratch_dir("sales_evolve_")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    q = f"{fx.DATABASE}.{fx.TABLE}"
    cat.evolve_table_schema(
        q,
        [T.StructField("loyalty_tier", T.StringType())],
        comments={"loyalty_tier": "Loyalty tier (evolved column)"},
    )
    path = cat.tables[q].location
    upd = (
        spark.read.parquet(path)
        .filter(F.col("customer_id") <= "CUST0005")
        .withColumn("loyalty_tier", F.lit("gold"))
    )
    merge_into(spark, path, upd, ["customer_id"], evolve_schema=True)
    # The two explicit governance decisions that make the column visible:
    cat.approve_evolved_columns(q, ["loyalty_tier"])
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="analyst-apac-filter",
            database=fx.DATABASE,
            table=fx.TABLE,
            columns=fx.ANALYST_COLUMNS + ("loyalty_tier",),
            row_filter="sales_region = 'APAC'",
        )
    )
    return eng.sql(
        "SELECT * FROM sales_db.sales ORDER BY customer_id",
        principal="analyst",
    )


@query(
    "governance_catalog_reload",
    f"""
    WITH {_SALES_CTE}
    SELECT customer_id, sales_region,
           CAST(sales_amount AS DOUBLE) AS sales_amount
    FROM sales_fixture
    WHERE sales_region = 'EMEA'
    ORDER BY customer_id
    """,
    "Durable catalog (round-6 VERDICT #2): a grant issued in one "
    "'process' exists in the next. Process 1 bootstraps durably, issues "
    "an auditor EMEA cells-filter grant, saves; process 2 is a BRAND-NEW "
    "GovernedCatalog.load from <lake>/_catalog/catalog.json that "
    "enforces that grant identically (the reference's catalog/policies "
    "are durable cloud state surviving any client restart, "
    "main.tf:291-372, 374-490). Differential oracle: fixture VALUES "
    "with the EMEA row predicate and 3-column allowlist.",
)
def governance_catalog_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import GovernedCatalog
    from ..governance import SELECT, DataCellsFilter

    lake = scratch_dir("sales_durable_")
    # -- process 1: create, extend, save --------------------------------
    cat1 = fx.bootstrap(spark, lake, durable=True)
    cat1.create_data_cells_filter(
        DataCellsFilter(
            name="auditor-emea-filter",
            database=fx.DATABASE,
            table=fx.TABLE,
            columns=("customer_id", "sales_region", "sales_amount"),
            row_filter="sales_region = 'EMEA'",
        )
    )
    cat1.grant(
        "auditor", SELECT, fx.DATABASE, fx.TABLE, via_filter="auditor-emea-filter"
    )
    cat1.save()
    # -- process 2: load-from-disk, enforce ----------------------------
    cat2 = GovernedCatalog.load(spark, lake)
    _require(cat2.governance_fingerprint() == cat1.governance_fingerprint())
    eng = Engine(spark, cat2)
    return eng.sql(
        "SELECT * FROM sales_db.sales ORDER BY customer_id",
        principal="auditor",
    )


_GOV_STREAM_SEQ = __import__("itertools").count()

# Weak keys for the same session-lifetime reason as _ENGINES.
_STREAM_CATALOGS: "weakref.WeakKeyDictionary[SparkSession, object]" = (
    weakref.WeakKeyDictionary()
)


def _stream_catalog(spark: SparkSession):
    """One manifest-committed governed sales lake per SparkSession —
    separate from _engine's lake (converting THAT one to manifest mode
    mid-session would alter the other goldens' read path)."""
    cat = _STREAM_CATALOGS.get(spark)
    if cat is None:
        from ..sources import publish_overwrite

        lake = scratch_dir("gov_stream_lake_")
        cat = fx.bootstrap(spark, lake)
        publish_overwrite(
            spark,
            f"{lake}/sales",
            spark.read.parquet(f"{lake}/sales"),
            None,
        )
        _STREAM_CATALOGS[spark] = cat
    return cat


@query(
    "governance_streamed_counts",
    f"""
    WITH {_SALES_CTE}
    SELECT sales_region, CAST(count(*) AS BIGINT) AS count,
           round(CAST(sum(CAST(round(sales_amount * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS total_amount
    FROM sales_fixture
    WHERE sales_region = 'APAC'
    GROUP BY sales_region
    """,
    "Governed STREAMING read (round-8): the sales table is converted to "
    "manifest commits and the Analyst SUBSCRIBES to it — "
    "catalog.stream_table routes the lake_manifest source through the "
    "same data-cells enforcement as batch, so every micro-batch carries "
    "only APAC rows and the 5 non-PII columns; a complete-mode "
    "aggregation over the stream equals the fixture VALUES with the "
    "declared row predicate applied (differential oracle). Streaming is "
    "not a governance bypass.",
)
def governance_streamed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes S30 (the manifest streaming source) with §2.10
    governance: the stream's plan is filter+project ABOVE the source,
    identical to the batch rewrite, so enforcement cost is the same
    pushable predicate. Uses its own scratch lake (converting the
    shared fixture lake to manifest mode would alter the other
    goldens' read path mid-session)."""
    from pyspark.sql import functions as F

    from ..streaming.events import run_stream_to_batch

    catalog = _stream_catalog(spark)
    agg = (
        catalog.stream_table("sales_db.sales", "analyst")
        .groupBy("sales_region")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.round(
                F.sum(F.round(F.col("sales_amount") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("total_amount"),
        )
    )
    name = f"gov_stream_out_{next(_GOV_STREAM_SEQ)}"
    from ..streaming.events import source_bytes, stream_state_partitions

    width = stream_state_partitions(
        spark, source_bytes(catalog.tables["sales_db.sales"].location)
    )
    return run_stream_to_batch(
        agg, name, output_mode="complete", state_partitions=width
    )


@query(
    "governance_materialized_view",
    """
    WITH v2 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
      WHERE doc_id % 10 <> 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM v2 GROUP BY lang
    """,
    "MATERIALIZED VIEW with incremental refresh (round-9): the engine "
    "creates a per-lang count/sum MV over a governed manifest table, "
    "the source takes a MoR DELETE (every 10th doc) and an update "
    "merge (every 4th remaining doc grows n_chars by 1000), and ONE "
    "refresh folds the signed change feed into the stored state — the "
    "source is never rescanned. The oracle is the full recompute of "
    "the v-final state, so the hash check proves engine-level "
    "feed-refresh == recompute across deletes and updates.",
)
def governance_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse object tying the round-8/9 machinery together:
    manifest commits give the change feed, additive aggregates refresh
    from it in O(changed files) + O(groups), the stored state is
    itself a governed manifest table (grants, AS OF, result reuse all
    apply), and erasure on the source fail-closes the refresh with a
    re-create instruction (tests/test_mv.py). Measures are additive
    only — the invariant that makes the signed merge exact."""
    from ..catalog import GovernedCatalog, TableDef
    from ..sources import delete_rows_mor, load, merge_into, publish_overwrite

    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("gov_mv_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, d, ["lang"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=d.schema, partition_keys=("lang",))
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["lang"],
        {"n_docs": ("count", None), "total_chars": ("sum", "n_chars")},
        principal="ops",
    )
    delete_rows_mor(spark, loc, "doc_id % 10 = 0")
    upd = (
        d.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 4 == 0))
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    merge_into(spark, loc, upd, ["doc_id"], ["lang"], collect_stats=False)
    out = eng.refresh_materialized_view("db.docs_mv", principal="ops")
    _require(out["refreshed"], out)
    return eng.sql(
        "SELECT lang, n_docs, total_chars FROM db.docs_mv", principal="ops"
    )
