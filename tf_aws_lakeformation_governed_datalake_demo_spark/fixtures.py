"""Deterministic fixtures: the reference's 20-row sales dataset + bootstrap.

Faithful re-expression of ``scripts/generate_sample_data.py:21-62`` (the
authoritative source of golden counts: APAC=8, EMEA=6, AMER=6 — the README's
9/6/5 claim is stale, see SURVEY.md §5.1) and the full governance bootstrap
declared across ``main.tf:286-549``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .catalog import GovernedCatalog, TableDef
from .governance import ALL, SELECT, DataCellsFilter
from .session import local_frame

DATABASE = "sales_db"  # locals.tf:10
TABLE = "sales"  # locals.tf:11
VIEW = "sales_masked"  # locals.tf:14
PII_TAG = "pii"  # locals.tf:16
PII_VALUES = ["sensitive", "clear"]  # locals.tf:17

# Glue schema, main.tf:330-371. sale_date is a 'YYYY-MM-DD' STRING (not
# DATE) — a reference quirk we replicate (generate_sample_data.py:56-61).
SALES_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType()),
        T.StructField("customer_name", T.StringType()),
        T.StructField("customer_email", T.StringType()),
        T.StructField("ssn", T.StringType()),
        T.StructField("sales_region", T.StringType()),
        T.StructField("sales_amount", T.DoubleType()),
        T.StructField("sale_date", T.StringType()),
    ]
)

SALES_COLUMN_COMMENTS = {
    "customer_id": "Unique customer identifier",
    "customer_name": "Customer full name",
    "customer_email": "Customer email (PII)",
    "ssn": "Social Security Number (PII)",
    "sales_region": "Sales region (APAC, EMEA, AMER)",
    "sales_amount": "Sale amount in USD",
    "sale_date": "Date of sale",
}

# The masked-view DDL body (outputs.tf:44-53). Spark's regexp_replace uses
# Java regex and replaces globally — both patterns behave identically to
# Athena's RE2-style engine on these inputs (SURVEY.md §7.5).
MASKED_VIEW_SQL = f"""
SELECT
  customer_id,
  customer_name,
  REGEXP_REPLACE(customer_email, '^([^@]{{1,3}}).*@', '***@') AS customer_email,
  REGEXP_REPLACE(ssn, '\\\\d', '*') AS ssn,
  sales_region,
  sales_amount,
  sale_date
FROM {DATABASE}.{TABLE}
"""

# Non-PII allowlist of the analyst's data cells filter (main.tf:442-448).
ANALYST_COLUMNS = (
    "customer_id",
    "customer_name",
    "sales_region",
    "sales_amount",
    "sale_date",
)


def sales_rows() -> list[tuple]:
    """The exact 20 rows of generate_sample_data.py:21-62."""
    customer_ids = [f"CUST{i:04d}" for i in range(1, 21)]
    names = [
        "Alice Johnson", "Bob Smith", "Charlie Brown", "Diana Prince",
        "Eve Wilson", "Frank Miller", "Grace Lee", "Henry Davis",
        "Ivy Chen", "Jack Taylor", "Karen White", "Liam O'Brien",
        "Mia Garcia", "Noah Martinez", "Olivia Anderson", "Paul Thompson",
        "Quinn Jackson", "Rachel Green", "Sam Wilson", "Tina Brown",
    ]
    emails = [
        "alice.j@example.com", "bob.smith@example.com", "charlie.b@example.com",
        "diana.p@example.com", "eve.w@example.com", "frank.m@example.com",
        "grace.lee@example.com", "henry.d@example.com", "ivy.chen@example.com",
        "jack.t@example.com", "karen.w@example.com", "liam.ob@example.com",
        "mia.g@example.com", "noah.m@example.com", "olivia.a@example.com",
        "paul.t@example.com", "quinn.j@example.com", "rachel.g@example.com",
        "sam.w@example.com", "tina.b@example.com",
    ]
    ssns = [
        "123-45-6789", "234-56-7890", "345-67-8901", "456-78-9012",
        "567-89-0123", "678-90-1234", "789-01-2345", "890-12-3456",
        "901-23-4567", "012-34-5678", "111-22-3333", "222-33-4444",
        "333-44-5555", "444-55-6666", "555-66-7777", "666-77-8888",
        "777-88-9999", "888-99-0000", "999-00-1111", "000-11-2222",
    ]
    regions = (
        ["APAC"] * 5 + ["EMEA"] * 5 + ["AMER"] * 5
        + ["APAC", "APAC", "EMEA", "AMER", "APAC"]
    )
    amounts = [
        1250.50, 2300.75, 1890.25, 3200.00, 1450.30,
        2100.00, 1750.50, 2900.25, 1650.75, 2400.00,
        1950.50, 2800.25, 1550.75, 3100.00, 2200.50,
        1850.25, 2600.75, 1400.00, 2700.50, 1900.25,
    ]
    dates = [
        "2024-01-15", "2024-01-16", "2024-01-17", "2024-01-18", "2024-01-19",
        "2024-02-10", "2024-02-11", "2024-02-12", "2024-02-13", "2024-02-14",
        "2024-03-05", "2024-03-06", "2024-03-07", "2024-03-08", "2024-03-09",
        "2024-04-20", "2024-04-21", "2024-04-22", "2024-04-23", "2024-04-24",
    ]
    return list(zip(customer_ids, names, emails, ssns, regions, amounts, dates))


def sales_dataframe(spark: SparkSession) -> DataFrame:
    """S3 — in-memory source (generate_sample_data.py:21-67)."""
    return local_frame(spark, sales_rows(), SALES_SCHEMA)


def write_sales(spark: SparkSession, lake_dir: str) -> str:
    """S2/S4 — write the fixture into the lake at ``<lake>/sales/``
    (snappy parquet, upload_sample.sh:27 analog). Returns the table path.
    """
    path = f"{lake_dir}/sales"
    # one file: the local relation's slices coalesce without a shuffle
    sales_dataframe(spark).coalesce(1).write.mode("overwrite").option(
        "compression", "snappy"
    ).parquet(path)
    return path


def bootstrap(
    spark: SparkSession,
    lake_dir: str,
    governance_enabled: bool = True,
    write_data: bool = True,
    durable: bool = False,
) -> GovernedCatalog:
    """Entry point B — the ``terraform apply`` analog (SURVEY.md §3.2).

    Idempotently creates the database, external table, PII tag + column
    assignments, the analyst data-cells filter, and the grants. The masked
    view + its grant are the two-phase flow (V1 then G7), mirroring the
    reference's deferred view grant (main.tf:538-549).

    ``durable=True`` is the load-or-create mode (round-6 VERDICT #2): if
    ``<lake_dir>/_catalog/catalog.json`` exists the persisted catalog is
    loaded — grants issued in a previous process, schema evolutions,
    audit history all survive, and the defaults below are NOT re-applied
    (terraform semantics: apply converges to recorded state, it doesn't
    reset it). Otherwise the defaults are created and saved. The default
    stays ephemeral because test harnesses deliberately re-bootstrap
    divergent catalog states into one lake dir.
    """
    if durable and GovernedCatalog.exists(lake_dir):
        return GovernedCatalog.load(spark, lake_dir)
    if write_data:
        write_sales(spark, lake_dir)
    cat = GovernedCatalog(
        spark, governance_enabled=governance_enabled, lake_root=lake_dir
    )
    cat.create_database(DATABASE, "Sales database for Lake Formation demo")
    cat.register_table(
        TableDef(
            database=DATABASE,
            name=TABLE,
            location=f"{lake_dir}/sales",
            schema=SALES_SCHEMA,
            column_comments=dict(SALES_COLUMN_COMMENTS),
        )
    )
    if governance_enabled:
        cat.create_tag(PII_TAG, PII_VALUES)  # G1
        cat.tag_columns(f"{DATABASE}.{TABLE}", ["customer_email", "ssn"], PII_TAG, "sensitive")  # G2
        cat.create_data_cells_filter(  # G3, main.tf:432-457
            DataCellsFilter(
                name="analyst-apac-filter",
                database=DATABASE,
                table=TABLE,
                columns=ANALYST_COLUMNS,
                row_filter="sales_region = 'APAC'",
            )
        )
        cat.grant("dataadmin", ALL, DATABASE, TABLE)  # G4
        cat.grant("analyst", SELECT, DATABASE, TABLE, via_filter="analyst-apac-filter")  # G5
    # Phase 2 of the two-phase flow: view DDL + deferred view grant.
    cat.create_view(DATABASE, VIEW, MASKED_VIEW_SQL)  # V1
    if governance_enabled:
        cat.grant("dataadmin", ALL, DATABASE, VIEW)
        cat.grant("analyst", SELECT, DATABASE, VIEW)  # G7
    if durable:
        cat.save()
    return cat
