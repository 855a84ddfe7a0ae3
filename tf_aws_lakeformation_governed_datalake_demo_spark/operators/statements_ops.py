"""SQL-statement-surface operators (round 10) — the mutation verbs of
the reference's ACTUAL interface, driven end-to-end as SQL strings.

The reference submits every operation as a SQL string to a workgroup
(``validate.sh:74-87``); Athena engine v3 executes MERGE INTO / UPDATE
/ DELETE / OPTIMIZE / VACUUM against governed Iceberg tables through
that same interface. Each query here seeds a governed manifest table
from the driver testdata, runs the verb THROUGH ``engine.sql`` (parse
-> grant gate -> audit -> lake implementation), and returns an
aggregate of the final on-disk state; the DuckDB oracle replays the
mutation declaratively, so the hash verdict proves the statement
surface executes exactly the semantics the SQL declares.

Scale notes: every statement routes to the partition-pruned lake
primitives (merge_into / update_rows / delete_rows /
optimize_binpack) — the SQL layer adds parsing and gating, never a
second data path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import GovernedCatalog, TableDef
from ..engine import Engine
from ..scratch import scratch_dir
from ..sources import load, publish_overwrite
from .governed import _SALES_CTE
from .registry import _require, query


def _governed_docs(
    spark: SparkSession, sf_dir: str, prefix: str
) -> tuple[Engine, str]:
    """Seed a lang-partitioned manifest `documents` table under a fresh
    governed catalog (admin principal 'ops'); returns (engine, lake)."""
    d = load(spark, sf_dir, "documents")
    lake = scratch_dir(prefix)
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, d, ["lang"])
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=d.schema, partition_keys=("lang",)
        )
    )
    return Engine(spark, cat), lake


_FINAL_AGG = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
    "CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) "
    "AS BIGINT) AS text_chk "
    "FROM db.docs GROUP BY lang"
)


def _final_agg_spark(eng: Engine) -> DataFrame:
    """Final-state aggregate, Spark side (md5 checksum proves content
    landed on disk; integer sum keeps the verdict order-free)."""
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_update_rows",
    """
    WITH v AS (
      SELECT doc_id, text, lang,
             CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END
               AS source,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 500 ELSE n_chars END
               AS n_chars
      FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM v GROUP BY lang
    """,
    "UPDATE as a governed SQL statement: engine.sql parses the verb, "
    "gates it (admin-or-ALL), audits the verbatim SET/WHERE, and "
    "routes to sources.lake.update_rows — a touched-partition rewrite "
    "where SET expressions see old values simultaneously. The oracle "
    "replays the update as a CASE WHEN over the raw table.",
)
def sql_update_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: identical plan to update_rows (scan-pruned match,
    touched-partition atomic rewrite); the statement layer adds a
    regex parse and a grant lookup, both O(statement)."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlupd_")
    res = eng.sql(
        "UPDATE db.docs SET n_chars = n_chars + 500, source = upper(source) "
        "WHERE doc_id % 7 = 0",
        "ops",
    ).first()
    _require(res.rows_updated > 0, "driver data must produce matches")
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources "
        "FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_delete_rows",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents
    WHERE NOT (doc_id % 13 = 0 OR n_chars < 60)
    GROUP BY lang
    """,
    "DELETE FROM as a governed SQL statement: routes through "
    "maintain('delete_rows') — same grant gate, verbatim-predicate "
    "audit line, partition-pruned eager erasure, history truncation. "
    "The oracle keeps the complement rows.",
)
def sql_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure through the SQL modality: after the statement returns,
    no reader (current or time-traveling) can observe a matched row —
    the same contract delete_rows gives the Python API."""
    eng, _ = _governed_docs(spark, sf_dir, "sqldel_")
    res = eng.sql(
        "DELETE FROM db.docs WHERE doc_id % 13 = 0 OR n_chars < 60", "ops"
    ).first()
    _require(res.rows_deleted > 0, "driver data must produce matches")
    return _final_agg_spark(eng)


@query(
    "sql_merge_upsert",
    """
    WITH updates AS (
      SELECT doc_id, upper(text) AS text, lang, source,
             n_chars + 1000 AS n_chars
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source, n_chars
      FROM documents WHERE doc_id % 17 = 3
    ),
    merged AS (
      SELECT d.* FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.doc_id = d.doc_id)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM merged GROUP BY lang
    """,
    "MERGE INTO as a governed SQL statement: the USING select reads "
    "THROUGH the governance rewrite as the submitting principal, the "
    "write gate is the same admin-or-ALL rule as maintain, and the "
    "merge is the partition-pruned replace-by-key merge_into. Mixed "
    "batch: 10% replaced rows + inserted rows.",
)
def sql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-user migration path: an Athena v3 MERGE string "
    "runs here unchanged (restricted to UPDATE SET * / INSERT *, "
    "which is exactly merge_into's replace-by-key contract)."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlmerge_")
    res = eng.sql(
        "MERGE INTO db.docs AS t USING ("
        "  SELECT doc_id, upper(text) AS text, lang, source,"
        "         n_chars + 1000 AS n_chars"
        "  FROM db.docs WHERE doc_id % 10 = 0"
        "  UNION ALL"
        "  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars"
        "  FROM db.docs WHERE doc_id % 17 = 3"
        ") AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "ops",
    ).first()
    _require(res.rows_updated > 0 and res.rows_inserted > 0)
    return _final_agg_spark(eng)


@query(
    "sql_optimize_vacuum",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    "OPTIMIZE + VACUUM as governed SQL statements: a table fragmented "
    "by four appends is bin-packed (files_after < files_before, "
    "asserted) and its pre-OPTIMIZE snapshots expired (>=1 removed, "
    "asserted); results are layout-independent, so the oracle is the "
    "plain aggregate — the hash proves maintenance moved bytes without "
    "changing a single row.",
)
def sql_optimize_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance cadence as SQL: OPTIMIZE rewrites only the
    small-file tail per partition (targeted bin-pack), VACUUM =
    snapshot retention + publish-artifact reclamation. Verbs a
    reference user types into the Athena console today."""
    from ..sources import append_rows, read_manifest

    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("sqlopt_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    seed = d.filter(F.col("doc_id") % 5 != 0)
    publish_overwrite(spark, loc, seed, ["lang"])
    for k in range(4):  # fragment: four small per-partition appends
        batch = d.filter(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 4 == k)
        )
        append_rows(spark, loc, batch, partition_by=["lang"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=d.schema, partition_keys=("lang",))
    )
    eng = Engine(spark, cat)
    files_before = len(read_manifest(loc)["files"])
    o = eng.sql("OPTIMIZE db.docs", "ops").first()
    _require(o.files_after < files_before, (o, files_before))
    v = eng.sql("VACUUM db.docs RETAIN 1 SNAPSHOTS", "ops").first()
    _require(v.snapshots_removed >= 1, v)
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_refresh_mv",
    """
    WITH v2 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 4 = 0 THEN n_chars + 2000
                  ELSE n_chars END AS n_chars
      FROM documents
    ),
    final AS (
      SELECT * FROM v2
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, lang, n_chars FROM v2
      WHERE doc_id % 9 = 1
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM final GROUP BY lang
    """,
    "The MV lifecycle as SQL statements: CREATE MATERIALIZED VIEW "
    "parses group-by + additive measures from the select list, two "
    "MERGE statements mutate the source (updates every 4th doc, "
    "inserts a 1/9 slice), and ONE REFRESH MATERIALIZED VIEW folds "
    "the signed change feed. Oracle = full recompute of the final "
    "state, so the hash proves SQL-surface refresh == recompute.",
)
def sql_refresh_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the round-9 MV machinery with the round-10 statement
    surface: every step a reference user would type — no Python API
    call in the flow."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlmv_")
    eng.sql(
        "CREATE MATERIALIZED VIEW db.mv AS "
        "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars "
        "FROM db.docs GROUP BY lang",
        "ops",
    )
    eng.sql(
        "MERGE INTO db.docs AS t USING ("
        "  SELECT doc_id, text, lang, source, n_chars + 2000 AS n_chars"
        "  FROM db.docs WHERE doc_id % 4 = 0"
        ") AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "ops",
    )
    eng.sql(
        "MERGE INTO db.docs AS t USING ("
        "  SELECT doc_id + 5000000 AS doc_id, text, lang, source, n_chars"
        "  FROM db.docs WHERE doc_id % 9 = 1"
        ") AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "ops",
    )
    r = eng.sql("REFRESH MATERIALIZED VIEW db.mv", "ops").first()
    _require(r.refreshed)
    return eng.sql(
        "SELECT lang, n_docs, total_chars FROM db.mv", "ops"
    )


@query(
    "sql_ctas_unload",
    """
    WITH big AS (SELECT * FROM documents WHERE n_chars >= 120)
    SELECT b.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.n_chars) AS BIGINT) AS total_chars,
           CAST(any_value(s.n_src) AS BIGINT) AS n_src
    FROM big b
    JOIN (SELECT lang, count(DISTINCT source) AS n_src
          FROM documents WHERE n_chars >= 120 GROUP BY lang) s
      ON s.lang = b.lang
    GROUP BY b.lang
    """,
    "CTAS + UNLOAD as governed SQL statements (Athena WITH-property "
    "forms): CREATE TABLE ... WITH (external_location, partitioned_by) "
    "AS materializes a filtered slice as a registered lang-partitioned "
    "table owned by its creator; UNLOAD writes a per-lang source-count "
    "rollup to bare parquet. The result joins the CTAS table (read "
    "governed, partition-pruned) with the UNLOAD files read back — "
    "hash equality proves both statements materialized exactly the "
    "governed select they declared.",
)
def sql_ctas_unload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last two Athena statement shapes (validate.sh's submission
    modality; outputs.tf:44-95 name CTAS result tables). Scale: CTAS
    is one governed query + one partitioned write; UNLOAD the same
    minus registration."""
    eng, lake = _governed_docs(spark, sf_dir, "sqlctas_")
    eng.sql(
        f"CREATE TABLE db.big_docs WITH ("
        f"external_location = '{lake}/big_docs', "
        f"partitioned_by = ARRAY['lang']) AS "
        "SELECT doc_id, source, n_chars, lang FROM db.docs "
        "WHERE n_chars >= 120",
        "ops",
    )
    out = f"{lake}/unload_rollup"
    eng.sql(
        f"UNLOAD (SELECT lang AS u_lang, "
        f"CAST(count(DISTINCT source) AS BIGINT) AS n_src "
        f"FROM db.docs WHERE n_chars >= 120 GROUP BY lang) "
        f"TO '{out}' WITH (format = 'PARQUET')",
        "ops",
    )
    rollup = spark.read.parquet(out)
    ctas_agg = eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.big_docs GROUP BY lang",
        "ops",
    )
    return ctas_agg.join(
        rollup, ctas_agg.lang == rollup.u_lang
    ).select("lang", "n_docs", "total_chars", "n_src")


@query(
    "sql_view_ddl",
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
    "View DDL as governed SQL statements (round-11): the reference's "
    "masked-view flow is EXACTLY this — CREATE OR REPLACE VIEW pasted "
    "into Athena (outputs.tf:44-53) and DROP VIEW for cleanup "
    "(README.md:320). The statement-created view composes with the "
    "analyst's row security (V3) after the deferred second-phase grant "
    "(main.tf:538-549); the oracle replays the fixture VALUES with the "
    "masking regexes over the row filter — identical semantics to the "
    "API-created governance_masked_view.",
)
def sql_view_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the last reference-DDL gap: a reference user's CREATE OR
    REPLACE VIEW / DROP VIEW strings run here unchanged, with the body
    validated as the submitting principal (implicit deny at CREATE
    time) and stored verbatim so every READER's own security applies."""
    from .. import fixtures as fx
    from ..governance import SELECT

    lake = scratch_dir("sqlview_")
    eng = Engine(spark, fx.bootstrap(spark, lake))
    # the cleanup verb (README.md:320) — on the bootstrap-made view
    r = eng.sql("DROP VIEW sales_db.sales_masked", "dataadmin").first()
    _require(r.dropped is True)
    # phase 1: the DDL verbatim from outputs.tf:44-53, new view name
    # (no pre-existing grants — the two-phase flow is the claim)
    eng.sql(
        "CREATE OR REPLACE VIEW sales_db.sales_masked2 AS SELECT "
        "customer_id, customer_name, "
        "REGEXP_REPLACE(customer_email, '^([^@]{1,3}).*@', '***@') "
        "AS customer_email, "
        "REGEXP_REPLACE(ssn, '\\\\d', '*') AS ssn, "
        "sales_region, sales_amount, sale_date FROM sales_db.sales",
        "dataadmin",
    )
    # phase 2: the deferred view grant (main.tf:538-549)
    eng.catalog.grant("analyst", SELECT, "sales_db", "sales_masked2")
    return eng.sql(
        "SELECT * FROM sales_db.sales_masked2 ORDER BY customer_id "
        "LIMIT 10",
        "analyst",
    )


@query(
    "sql_insert_append",
    """
    WITH ins(doc_id, text, lang, source, n_chars) AS (VALUES
      (9000001, 'inserted row one', 'de', 'manual', 16),
      (9000002, 'inserted row two', 'fr', 'manual', 16)),
    final AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id, text, lang, source, n_chars FROM ins
      UNION ALL
      SELECT doc_id + 8000000, text, lang, source, n_chars
      FROM documents WHERE doc_id % 11 = 5
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM final GROUP BY lang
    """,
    "INSERT INTO as a governed SQL statement (round-11): the VALUES "
    "form and the SELECT form (read THROUGH the governance rewrite as "
    "the submitting principal), landing as transactional append_rows "
    "commits on the manifest table — ledgered snapshots, O(batch) "
    "cost, rows_inserted from the manifest's own footer row counts. "
    "Oracle = seed UNION inserted rows.",
)
def sql_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Athena executes INSERT INTO; this engine routed it to the
    fail-closed error until round 11. Write gate = admin-or-ALL (the
    MERGE rule); positional mapping + NULL fill are schema-driven."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlins_")
    r = eng.sql(
        "INSERT INTO db.docs VALUES "
        "(9000001, 'inserted row one', 'de', 'manual', 16), "
        "(9000002, 'inserted row two', 'fr', 'manual', 16)",
        "ops",
    ).first()
    _require(r.rows_inserted == 2, r)
    r = eng.sql(
        "INSERT INTO db.docs SELECT doc_id + 8000000, text, lang, "
        "source, n_chars FROM db.docs "
        "WHERE doc_id % 11 = 5 AND doc_id < 8000000",
        "ops",
    ).first()
    _require(r.rows_inserted > 0, "driver data must produce a slice")
    return _final_agg_spark(eng)


@query(
    "sql_prepared_exec",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars >= 100 AND source <> 'no''such'
    GROUP BY lang
    """,
    "PREPARE / EXECUTE ... USING as governed SQL statements "
    "(round-11): Athena ships these verbs; parameters are parsed as "
    "LITERALS only and re-rendered through the escaping literal "
    "writer, so the quote-bearing second parameter stays one literal "
    "(the injection-proof contract, pinned adversarially in "
    "tests/test_sql_statements.py). Oracle replays the filled query.",
)
def sql_prepared_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filled statement routes through the normal dispatch, so the
    filled verb's own gates apply at EXECUTE time — a prepared DELETE
    still needs the maintenance grant."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlprep_")
    eng.sql(
        "PREPARE lang_stats FROM SELECT lang, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.docs WHERE n_chars >= ? AND source <> ? GROUP BY lang",
        "ops",
    )
    return eng.sql("EXECUTE lang_stats USING 100, 'no''such'", "ops")


@query(
    "sql_time_travel",
    """
    WITH seed AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
    v1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_v1,
                  CAST(sum(n_chars) AS BIGINT) AS chars_v1
           FROM seed GROUP BY lang),
    cur AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cur
            FROM documents GROUP BY lang)
    SELECT v1.lang, v1.n_v1, v1.chars_v1, cur.n_cur
    FROM v1 JOIN cur ON cur.lang = v1.lang
    """,
    "Inline SQL time travel (round-11): FOR VERSION AS OF — the "
    "Athena/Iceberg syntax — parsed out of the query text "
    "(literal-aware) and resolved through the same governed snapshot "
    "read as the as_of_versions map. The query joins the v1 aggregate "
    "(pre-append seed) with the current one; the oracle replays both "
    "snapshots from the raw table, so hash equality proves the pin "
    "resolved to exactly the committed v1 file set.",
)
def sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance composes: the pinned read applies the principal's
    row/column security to HISTORICAL rows identically (history is not
    a bypass — the S20 rule, now reachable from plain SQL text)."""
    from ..sources import append_rows

    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("sqltt_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(
        spark, loc, d.filter(F.col("doc_id") % 3 != 0), ["lang"],
    )
    append_rows(
        spark, loc, d.filter(F.col("doc_id") % 3 == 0), partition_by=["lang"]
    )
    cat.register_table(
        TableDef("db", "docs", loc, schema=d.schema, partition_keys=("lang",))
    )
    eng = Engine(spark, cat)
    v1 = eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_v1, "
        "CAST(sum(n_chars) AS BIGINT) AS chars_v1 "
        "FROM db.docs FOR VERSION AS OF 1 GROUP BY lang",
        "ops",
    )
    cur = eng.sql(
        "SELECT lang AS c_lang, CAST(count(*) AS BIGINT) AS n_cur "
        "FROM db.docs GROUP BY lang",
        "ops",
    )
    return v1.join(cur, v1.lang == cur.c_lang).select(
        "lang", "n_v1", "chars_v1", "n_cur"
    )


@query(
    "sql_script_exec",
    """
    WITH v2 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 3 = 1 THEN n_chars + 700
                  ELSE n_chars END AS n_chars
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM v2 GROUP BY lang
    """,
    "Multi-statement SCRIPT through Engine.sql_script (round-11): the "
    "MERGE-then-REFRESH cadence as ONE ;-separated script — CREATE "
    "MATERIALIZED VIEW; MERGE INTO; REFRESH — executed sequentially "
    "under one audit span, stopping at first failure (each statement "
    "keeps its own gates and audit lines; a script is a cadence, not "
    "a transaction). Oracle = full recompute of the final MV state.",
)
def sql_script_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Athena runs scripts one statement at a time; so does this —
    the grammar half (literal-aware ';' split) is
    statements.split_statements."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlscript_")
    results = eng.sql_script(
        "CREATE MATERIALIZED VIEW db.mv AS "
        "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars "
        "FROM db.docs GROUP BY lang;"
        "MERGE INTO db.docs AS t USING ("
        "  SELECT doc_id, text, lang, source, n_chars + 700 AS n_chars"
        "  FROM db.docs WHERE doc_id % 3 = 1"
        ") AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *;"
        "REFRESH MATERIALIZED VIEW db.mv;",
        "ops",
    )
    _require(len(results) == 3 and results[2].first().refreshed)
    return eng.sql("SELECT lang, n_docs, total_chars FROM db.mv", "ops")


@query(
    "governance_mv_rewrite",
    """
    WITH v2 AS (
      SELECT doc_id, lang, source,
             CASE WHEN doc_id % 6 = 0 THEN n_chars + 300
                  ELSE n_chars END AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars
    FROM v2 GROUP BY lang
    """,
    "Transparent MV-backed query rewrite (round-11): an ordinary "
    "governed SELECT over the SOURCE table — group-by (lang) a strict "
    "subset of the MV's (lang, source), measures count/sum/avg — is "
    "served from the MV's O(groups) state with the source never "
    "scanned (asserted via inputFiles in the body; plan-pinned in "
    "tests/test_mv.py). The MV was refreshed after an update merge, so "
    "the oracle is the full recompute: hash equality proves "
    "rewrite == recompute including the re-aggregation and the "
    "avg-from-sum-pairs derivation.",
)
def governance_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 VERDICT's 'make MVs useful to readers': before
    this, a SELECT matching an MV's shape still scanned the source.
    100 TB: the reader pays O(groups), the refresh cadence pays the
    incremental maintenance — the BigQuery/Athena MV acceleration
    contract, with governance fail-backs (conditioned principals and
    stale state fall back to the real scan, tests/test_mv.py)."""
    eng, lake = _governed_docs(spark, sf_dir, "mvrw_")
    eng.sql(
        "CREATE MATERIALIZED VIEW db.docs_mv AS "
        "SELECT lang, source, count(*) AS n_docs, "
        "sum(n_chars) AS total_chars, avg(n_chars) AS avg_chars "
        "FROM db.docs GROUP BY lang, source",
        "ops",
    )
    eng.sql(
        "MERGE INTO db.docs AS t USING ("
        "  SELECT doc_id, text, lang, source, n_chars + 300 AS n_chars"
        "  FROM db.docs WHERE doc_id % 6 = 0"
        ") AS s ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "ops",
    )
    r = eng.sql("REFRESH MATERIALIZED VIEW db.docs_mv", "ops").first()
    _require(r.refreshed)
    out = eng.sql(
        "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars, "
        "avg(n_chars) AS avg_chars FROM db.docs GROUP BY lang",
        "ops",
        use_mvs=True,
    )
    # the claim: served from the MV state, source never scanned
    files = out.inputFiles()
    _require(files and all("/_mv/" in f for f in files), files[:3])
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.col("avg_chars").cast("double").alias("avg_chars"),
    )


@query(
    "governance_mv_rewrite_filtered",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars >= 120 AND source = 'src1'
    GROUP BY lang
    """,
    "FILTERED-MV rewrite with a STRICTLY TIGHTER query predicate "
    "(round-12): the MV stores WHERE n_chars >= 120 grouped by (lang, "
    "source); the query adds source = 'src1'. The restricted-but-sound "
    "implication prover (statements.filtered_mv_residual) decomposes "
    "the query WHERE as mv.where AND residual-on-group-columns and "
    "serves the MV state filtered by the residual — the round-11 "
    "textual-equality rule left exactly this most-common acceleration "
    "shape on the floor. The body asserts the source was never "
    "scanned; oracle is the full recompute.",
)
def governance_mv_rewrite_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unprovable shapes (OR, function calls, non-group residual
    columns, string ranges) still fall back — refusal-pinned in
    tests/test_mv.py. 100 TB: same O(groups)-state read as
    governance_mv_rewrite, now reachable from the slice-plus-extra-
    conjunct queries real dashboards issue."""
    eng, _lake = _governed_docs(spark, sf_dir, "mvrwf_")
    eng.sql(
        "CREATE MATERIALIZED VIEW db.docs_mv_f AS "
        "SELECT lang, source, count(*) AS n_docs, "
        "sum(n_chars) AS total_chars "
        "FROM db.docs WHERE n_chars >= 120 GROUP BY lang, source",
        "ops",
    )
    out = eng.sql(
        "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars "
        "FROM db.docs WHERE n_chars >= 120 AND source = 'src1' "
        "GROUP BY lang",
        "ops",
        use_mvs=True,
    )
    files = out.inputFiles()
    _require(files and all("/_mv/" in f for f in files), files[:3])
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


@query(
    "sql_create_table_ddl",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
    """,
    "Plain DDL lifecycle as governed SQL (round-13; closes r12 What's "
    "missing #1): CREATE DATABASE, then a column-list CREATE EXTERNAL "
    "TABLE ... PARTITIONED BY (lang string) LOCATION ... — the "
    "reference's own provisioning objects (main.tf:291-300 database, "
    "main.tf:303-372 table) as the Athena DDL a console user pastes "
    "(README.md:109-151) — then INSERT INTO the declared table from a "
    "governed SELECT and aggregate the final on-disk state. The md5 "
    "checksum proves the declared-schema scan returns exactly the "
    "inserted rows; the oracle replays the slice declaratively.",
)
def sql_create_table_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admin-gated: declaring a LOCATION is Lake Formation's "
    "data-location permission (a non-admin could otherwise point a new "
    "table at another table's files); deny/refusal paths pinned in "
    "tests/test_sql_ddl.py. 100 TB: DDL is O(statement) catalog "
    "metadata — no data is read or written by the declarations; the "
    "INSERT is the ordinary partitioned append."""
    eng, lake = _governed_docs(spark, sf_dir, "sqlddl_")
    r = eng.sql("CREATE DATABASE ddl_db COMMENT 'round-13 DDL'", "ops")
    _require(r.first().created)
    r = eng.sql(
        "CREATE EXTERNAL TABLE ddl_db.docs2 ("
        "doc_id bigint COMMENT 'document id', text string, "
        "source string, n_chars bigint) "
        "PARTITIONED BY (lang string) STORED AS PARQUET "
        f"LOCATION '{lake}/docs2'",
        "ops",
    )
    _require(r.first().created)
    eng.sql(
        "INSERT INTO ddl_db.docs2 SELECT doc_id, text, source, n_chars, "
        "lang FROM db.docs WHERE doc_id % 3 = 0",
        "ops",
    )
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM ddl_db.docs2 GROUP BY lang",
        "ops",
    )


@query(
    "sql_count_metadata",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    """,
    "Metadata-only SELECT count(*) (round-13; closes r12 What's "
    "missing #3): the bare-count shape through engine.sql is served "
    "from the manifest's recorded per-file footer row counts — the "
    "body asserts ZERO files entered the plan (inputFiles() empty) — "
    "exactly how Athena/Iceberg/Delta answer counts from statistics. "
    "Eligibility is provably exact: unconditioned principal, "
    "tombstone-free manifest snapshot, no WHERE; everything else "
    "falls open to the scan (tests/test_count_metadata.py). The "
    "oracle counts the raw table.",
)
def sql_count_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: a trillion-row count is O(#files) driver arithmetic "
    "already paid at commit time (the same footer read that records "
    "min/max skipping stats); audit carries COUNT_STATS so reviewers "
    "see stats-served vs scanned."""
    eng, _lake = _governed_docs(spark, sf_dir, "sqlcnt_")
    qe = eng._execute(
        "SELECT count(*) AS n_docs FROM db.docs", "ops", raise_on_error=True
    )
    out = qe.result
    _require(not out.inputFiles(), "bare count must plan zero files")
    _require("COUNT_STATS:db.docs" in qe.filters_applied)
    return out


@query(
    "sql_count_partitions_metadata",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
    "Per-partition count from metadata (round-13): SELECT <partition "
    "col>, count(*) GROUP BY <partition col> through engine.sql is "
    "served from hive directory names + manifest footer row counts — "
    "the Iceberg partitions-metadata-table analog; the body asserts "
    "ZERO files entered the plan. Values decode back to the declared "
    "partition type; null partitions, layout drift, non-partition "
    "group columns, extra measures, and WHERE all fall open to the "
    "scan (tests/test_count_metadata.py). Oracle aggregates the raw "
    "table.",
)
def sql_count_partitions_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """100 TB: the per-partition profile of a trillion-row table — "
    "the first query every capacity review runs — at O(#files) "
    "driver cost instead of a full shuffle."""
    eng, _lake = _governed_docs(spark, sf_dir, "sqlcntp_")
    out = eng.sql(
        "SELECT lang, count(*) AS n_docs FROM db.docs GROUP BY lang",
        "ops",
    )
    _require(not out.inputFiles(), "grouped count must plan zero files")
    return out


@query(
    "sql_grant_revoke",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    "GRANT/REVOKE as governed SQL (round-13; closes r12 What's "
    "missing #2): an admin grants SELECT by statement, the analyst's "
    "governed read succeeds (returned result), SHOW GRANTS lists the "
    "row, then REVOKE strips it and the SAME query is denied "
    "immediately — asserted in the body, with the revoke also "
    "churning the governance fingerprint so no cached result "
    "survives (tests/test_revoke.py). Oracle is the table aggregate "
    "the granted analyst saw.",
)
def sql_grant_revoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The permissions-console loop (main.tf:460-487) closed over "
    "SQL. 100 TB: grant mutation is O(grants) catalog metadata."""
    from ..governance import PermissionDeniedError

    eng, _lake = _governed_docs(spark, sf_dir, "sqlgrant_")
    agg = (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.docs GROUP BY lang"
    )
    try:
        eng.sql(agg, "analyst9")
        raise AssertionError("ungranted principal must be denied")
    except PermissionDeniedError:
        pass
    _require(eng.sql(
        "GRANT SELECT ON db.docs TO analyst9", "ops"
    ).first().granted)
    shown = eng.sql("SHOW GRANTS FOR analyst9 ON db.docs", "ops").collect()
    _require([(g.principal, g.permission) for g in shown] == [
        ("analyst9", "SELECT")
    ], shown)
    out = eng.sql(agg, "analyst9")
    n_rows = out.count()
    _require(n_rows > 0)
    _require(eng.sql(
        "REVOKE SELECT ON db.docs FROM analyst9", "ops"
    ).first().revoked == 1)
    try:
        eng.sql(agg, "analyst9")
        raise AssertionError("revoked principal must be denied")
    except PermissionDeniedError:
        pass
    return out


@query(
    "governance_mv_rewrite_inlist",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars >= 120 AND source IN ('src1', 'src3')
    GROUP BY lang
    """,
    "FILTERED-MV rewrite with an IN-LIST residual (round-13; closes "
    "r12 What's missing #4): the MV stores WHERE n_chars >= 120 "
    "grouped by (lang, source); the query adds source IN ('src1', "
    "'src3') — a finite disjunction of literals on a GROUP column, "
    "which the implication prover now admits as a sound residual "
    "(constant per state row, so serving = filtering the state by "
    "the same list). Subquery/function/NOT-IN/non-group IN shapes "
    "still refuse — pinned in tests/test_mv.py. The body asserts the "
    "source was never scanned; oracle is the full recompute.",
)
def governance_mv_rewrite_inlist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """100 TB: same O(groups)-state read as the equality-residual
    rewrite — the IN-list is the second-most-common dashboard
    predicate after equality, so this closes the last common
    accelerable shape the round-12 prover refused."""
    eng, _lake = _governed_docs(spark, sf_dir, "mvrwi_")
    eng.sql(
        "CREATE MATERIALIZED VIEW db.docs_mv_i AS "
        "SELECT lang, source, count(*) AS n_docs, "
        "sum(n_chars) AS total_chars "
        "FROM db.docs WHERE n_chars >= 120 GROUP BY lang, source",
        "ops",
    )
    out = eng.sql(
        "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars "
        "FROM db.docs WHERE n_chars >= 120 AND source IN ('src1', 'src3') "
        "GROUP BY lang",
        "ops",
        use_mvs=True,
    )
    files = out.inputFiles()
    _require(files and all("/_mv/" in f for f in files), files[:3])
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


@query(
    "governance_materialized_view_distinct",
    """
    WITH final AS (
      SELECT * FROM documents
      UNION ALL
      SELECT doc_id + 7000000 AS doc_id, text, lang,
             'src_extra_' || CAST(doc_id % 3 AS VARCHAR) AS source, n_chars
      FROM documents WHERE doc_id % 8 = 2
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM final GROUP BY lang
    """,
    "APPROX_COUNT_DISTINCT materialized view (round-10): the state "
    "stores a mergeable HLL sketch per group (Datasketches via "
    "hll_sketch_agg), the MV's view derives the estimate, and an "
    "insert-only append refreshes by hll_union_agg — "
    "sketch-of-union == union-of-sketches, so refresh == recompute "
    "EXACTLY at the sketch level (pinned in tests); a deleting feed "
    "fail-closes (sketches cannot subtract). Oracle is the exact "
    "distinct count: source cardinality is <= 23 per lang — deep in "
    "the sketch's sparse-exact range, so estimate == exact at every "
    "driver scale (bounded by construction, not by luck).",
)
def governance_materialized_view_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The count-distinct rung the round-9 VERDICT named as the MV's
    natural next increment. 100 TB: the stored state is O(groups) of
    ~1.5 KB sketches regardless of source cardinality; refresh reads
    only the appended files."""
    from pyspark.sql import types as T

    from ..sources import append_rows

    eng, lake = _governed_docs(spark, sf_dir, "mvdist_")
    eng.create_materialized_view(
        "db.docs_mv",
        "db.docs",
        ["lang"],
        {
            "n_docs": ("count", None),
            "n_sources": ("approx_count_distinct", "source"),
        },
        principal="ops",
    )
    d = load(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 8 == 2).select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        "text",
        "lang",
        F.concat(
            F.lit("src_extra_"), (F.col("doc_id") % 3).cast("string")
        ).alias("source"),
        "n_chars",
    )
    append_rows(spark, f"{lake}/docs", batch, partition_by=["lang"])
    out = eng.refresh_materialized_view("db.docs_mv", principal="ops")
    _require(out["refreshed"], out)
    return eng.sql(
        "SELECT lang, n_docs, CAST(n_sources AS BIGINT) AS n_sources "
        "FROM db.docs_mv",
        "ops",
    )


@query(
    "governance_materialized_view_filtered",
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
    FROM v2
    WHERE n_chars >= 150
    GROUP BY lang
    """,
    "Filtered materialized view (round-10): CREATE MATERIALIZED VIEW "
    "... WHERE n_chars >= 150 through the SQL statement surface; the "
    "refresh applies the SAME predicate to the signed change feed, so "
    "a MoR delete of matching rows subtracts, the +1000 update merge "
    "MOVES rows across the predicate boundary in both directions "
    "(its delete+insert pair handles the membership change "
    "automatically), and filtered refresh == filtered recompute — the "
    "oracle is the recompute.",
)
def governance_materialized_view_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WHERE increment closes a real modeling gap: production MVs
    almost always aggregate a slice (status='active', date >= ...),
    and the signed feed makes the filter exact even when updates move
    rows across the predicate boundary. 100 TB: the predicate pushes
    into both the creation scan and the O(changed files) feed read."""
    from ..sources import delete_rows_mor, merge_into

    eng, lake = _governed_docs(spark, sf_dir, "gov_mv_filt_")
    eng.sql(
        "CREATE MATERIALIZED VIEW db.docs_mv AS "
        "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars "
        "FROM db.docs WHERE n_chars >= 150 GROUP BY lang",
        "ops",
    )
    d = load(spark, sf_dir, "documents")
    loc = f"{lake}/docs"
    delete_rows_mor(spark, loc, "doc_id % 10 = 0")
    upd = d.filter(
        (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 4 == 0)
    ).withColumn("n_chars", F.col("n_chars") + 1000)
    merge_into(spark, loc, upd, ["doc_id"], ["lang"], collect_stats=False)
    r = eng.sql("REFRESH MATERIALIZED VIEW db.docs_mv", "ops").first()
    _require(r.refreshed)
    return eng.sql(
        "SELECT lang, n_docs, total_chars FROM db.docs_mv", "ops"
    )


@query(
    "governance_materialized_view_join",
    """
    WITH o2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 4 = 0
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 10000
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS cents
      FROM orders WHERE o_orderkey % 10 <> 0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM o2 LEFT JOIN customer c ON c.c_custkey = o2.o_custkey
    GROUP BY c.c_mktsegment
    """,
    "Enriched (join) materialized view (round-10): the orders fact "
    "LEFT-joins the customer dimension PINNED at its creation-time "
    "snapshot (group by c_mktsegment — a dimension column), the fact "
    "takes a MoR DELETE + an update merge, and ONE refresh joins the "
    "signed feed against the SAME pinned dimension — so enriched "
    "refresh == enriched recompute (the oracle). A drifted dimension "
    "fail-closes the refresh instead of mixing join eras "
    "(tests/test_mv.py).",
)
def governance_materialized_view_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bounded-honest MV-over-join: full bitemporal join-delta
    algebra is a non-goal; fact-changes-over-pinned-dim covers the
    enrichment-rollup shape (fact x small dim) that dominates real
    reporting MVs. 100 TB: the dim broadcasts; the feed join is
    O(changed files) x broadcast."""
    from ..sources import delete_rows_mor, merge_into, read_table

    lake = scratch_dir("gov_mv_join_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    fact = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    floc, dloc = f"{lake}/orders_f", f"{lake}/cust_d"
    publish_overwrite(spark, floc, fact, None)
    publish_overwrite(spark, dloc, dim, None)
    cat.register_table(TableDef("db", "orders_f", floc, schema=fact.schema))
    cat.register_table(TableDef("db", "cust_d", dloc, schema=dim.schema))
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.seg_mv",
        "db.orders_f",
        ["c_mktsegment"],
        {"n_orders": ("count", None), "cents": ("sum", "cents")},
        principal="ops",
        enrich={
            "table": "db.cust_d",
            "on": {"o_custkey": "c_custkey"},
            "select": ["c_mktsegment"],
        },
    )
    delete_rows_mor(spark, floc, "o_orderkey % 10 = 0")
    upd = (
        read_table(spark, floc, schema=fact.schema)
        .filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("cents", F.col("cents") + 10000)
    )
    merge_into(spark, floc, upd, ["o_orderkey"], collect_stats=False)
    out = eng.refresh_materialized_view("db.seg_mv", principal="ops")
    _require(out["refreshed"], out)
    return eng.sql(
        "SELECT c_mktsegment, n_orders, cents FROM db.seg_mv", "ops"
    )


@query(
    "lake_multi_table_publish",
    """
    WITH seed AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    batch AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    final_docs AS (SELECT * FROM seed UNION ALL SELECT * FROM batch),
    final_stats AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM seed GROUP BY lang
      UNION ALL
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM batch GROUP BY lang
    ),
    stats_t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_stats
                FROM final_stats GROUP BY lang)
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs, s.n_stats
    FROM final_docs d JOIN stats_t s ON s.lang = d.lang
    GROUP BY d.lang, s.n_stats
    """,
    "Multi-table coordinated publish (round-10, SURVEY §7.5's shipped "
    "alternative to catalog transactions): a docs batch AND its "
    "per-lang stats delta stage on per-table branches — invisible to "
    "every reader (asserted mid-callback) — then publish as "
    "back-to-back pointer renames. The result joins both final tables "
    "per lang; hash equality proves the pair landed consistently "
    "(n_docs == n_stats per lang by construction).",
)
def lake_multi_table_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-and-summary pattern that needs cross-table
    coordination at 100 TB: staging is zero-copy branch commits,
    publication is O(tables) renames regardless of batch size, and a
    failed validation abandons both branches without any reader ever
    seeing a half-published pair (Engine.stage_and_publish)."""
    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("multipub_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    seed = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    publish_overwrite(spark, f"{lake}/docs", seed, ["lang"])
    seed_stats = seed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    publish_overwrite(spark, f"{lake}/stats", seed_stats, None)
    cat.register_table(
        TableDef(
            "db", "docs", f"{lake}/docs", schema=d.schema,
            partition_keys=("lang",),
        )
    )
    cat.register_table(
        TableDef("db", "stats", f"{lake}/stats", schema=seed_stats.schema)
    )
    eng = Engine(spark, cat)
    seed_total = seed.count()

    def writer(stage):
        stage.append("db.docs", batch)
        stage.append(
            "db.stats",
            batch.groupBy("lang").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
        )
        # staging is invisible: main still serves the seed only
        _require(
            eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n
            == seed_total
        )

    eng.stage_and_publish(["db.docs", "db.stats"], writer, "ops")
    docs_agg = eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM db.docs "
        "GROUP BY lang",
        "ops",
    )
    stats_agg = eng.sql(
        "SELECT lang, CAST(sum(n) AS BIGINT) AS n_stats FROM db.stats "
        "GROUP BY lang",
        "ops",
    )
    return docs_agg.join(stats_agg, "lang").select(
        "lang", "n_docs", "n_stats"
    )


@query(
    "governance_materialized_view_avg",
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
           CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars
    FROM v2 GROUP BY lang
    """,
    "AVG materialized view (round-10): avg is not additive, so the "
    "state stores sum + non-null count and the MV's name is a catalog "
    "VIEW deriving CAST(sum AS DOUBLE)/n at read time. Source takes a "
    "MoR DELETE + an update merge; ONE refresh folds the signed feed "
    "into both complements. Oracle recomputes the quotient from the "
    "raw final state — hash equality proves derived-avg refresh == "
    "recompute across deletes and updates.",
)
def governance_materialized_view_avg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-9 VERDICT next-#3: the derivable aggregate ships; min/max
    stay refused (a delete can strand them — no stored complement
    cures that). Division semantics: the exact integer sum and count
    divide identically in Spark and DuckDB, so the verdict needs no
    rounding."""
    from ..sources import delete_rows_mor, merge_into

    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("gov_mv_avg_")
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
        "db.docs_mv",
        "db.docs",
        ["lang"],
        {"n_docs": ("count", None), "avg_chars": ("avg", "n_chars")},
        principal="ops",
    )
    delete_rows_mor(spark, loc, "doc_id % 10 = 0")
    upd = d.filter(
        (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 4 == 0)
    ).withColumn("n_chars", F.col("n_chars") + 1000)
    merge_into(spark, loc, upd, ["doc_id"], ["lang"], collect_stats=False)
    out = eng.refresh_materialized_view("db.docs_mv", principal="ops")
    _require(out["refreshed"], out)
    return eng.sql(
        "SELECT lang, n_docs, avg_chars FROM db.docs_mv", principal="ops"
    )


@query(
    "lake_txlog_commit",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_stats
    FROM documents GROUP BY lang
    """,
    "Lake-level TRANSACTION-LOG commit (round-12; SURVEY §7.5's "
    "design sketch shipped): two sequential cross-table transactions "
    "— a docs batch AND its per-lang stats delta each time — commit "
    "through ONE _txlog record rename per transaction (seq 1 then 2), "
    "with the per-table pointer moves demoted to idempotent "
    "propagation inside the locked region. Mid-callback, BOTH the "
    "plain and the txn read path still serve the pre-commit cut "
    "(asserted in the body). The result joins the final docs and "
    "stats tables per lang; hash equality proves every (batch, delta) "
    "pair landed consistently — n_docs == n_stats per lang by "
    "construction because the three stats slices partition the corpus.",
)
def lake_txlog_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine.lake_transaction upgrades stage_and_publish's N-rename
    publication window to ONE record rename; txlog-aware readers see
    the whole cut flip atomically even across a crash before the
    pointer moves (torn-cut test in tests/test_txlog.py). 100 TB: the
    commit is O(tables) JSON bytes; staging stays zero-copy branch
    commits; the txn read adds one tiny JSON resolution."""
    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("txlog_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    seed = d.filter(F.col("doc_id") % 3 == 0)
    b1 = d.filter(F.col("doc_id") % 3 == 1)
    b2 = d.filter(F.col("doc_id") % 3 == 2)
    publish_overwrite(spark, f"{lake}/docs", seed, ["lang"])
    stats_of = lambda batch: batch.groupBy("lang").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n")
    )
    publish_overwrite(
        spark, f"{lake}/stats", stats_of(seed), None
    )
    cat.register_table(
        TableDef("db", "docs", f"{lake}/docs", schema=d.schema,
                 partition_keys=("lang",))
    )
    cat.register_table(
        TableDef("db", "stats", f"{lake}/stats",
                 schema=stats_of(seed).schema)
    )
    eng = Engine(spark, cat)
    seed_total = seed.count()

    def txn(batch):
        def writer(stage):
            stage.append("db.docs", batch)
            stage.append("db.stats", stats_of(batch))

        return eng.lake_transaction(["db.docs", "db.stats"], writer, "ops")

    def writer1(stage):
        stage.append("db.docs", b1)
        stage.append("db.stats", stats_of(b1))
        # pre-commit: both read paths still serve the seed cut only
        _require(eng.table_txn("db.docs", "ops").count() == seed_total)
        _require(
            eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n
            == seed_total
        )

    out1 = eng.lake_transaction(["db.docs", "db.stats"], writer1, "ops")
    out2 = txn(b2)
    _require((out1["seq"], out2["seq"]) == (1, 2), (out1, out2))
    docs_agg = (
        eng.table_txn("db.docs", "ops")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    stats_agg = (
        eng.table_txn("db.stats", "ops")
        .groupBy("lang")
        .agg(F.sum("n").cast("long").alias("n_stats"))
    )
    return docs_agg.join(stats_agg, "lang").select(
        "lang", "n_docs", "n_stats"
    )


@query(
    "sql_analyze_stats",
    """
    WITH s AS (
      SELECT 'doc_id' AS col_name, count(*) AS row_count,
             count(*) - count(doc_id) AS null_count,
             CAST(min(doc_id) AS VARCHAR) AS min_value,
             CAST(max(doc_id) AS VARCHAR) AS max_value
      FROM documents
      UNION ALL
      SELECT 'lang', count(*), count(*) - count(lang),
             CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'n_chars', count(*), count(*) - count(n_chars),
             CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'source', count(*), count(*) - count(source),
             CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
      FROM documents
    )
    SELECT col_name, CAST(row_count AS BIGINT) AS row_count,
           CAST(null_count AS BIGINT) AS null_count, min_value, max_value
    FROM s
    """,
    "ANALYZE TABLE as a governed SQL statement (round 12): engine.sql "
    "parses the Spark CBO-stats verb, gates it admin-or-ALL (stats are "
    "table-wide unfiltered aggregates — a row-filtered principal must "
    "not read a masked column's min/max through them), audits it, "
    "computes all column stats in ONE aggregate pass, and stores them "
    "on the durable catalog entry where the cost-based broadcast "
    "decision reads them. The oracle recomputes each column's stats "
    "declaratively.",
)
def sql_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the no-columns form is ZERO-scan on a manifest table
    (footer row counts); FOR COLUMNS is one map-side-combined aggregate
    pass — count/min/max/HLL-NDV are all partial-aggregable, so the
    shuffle is one row per partition regardless of table size. The
    stored row count then upgrades every later governed join against
    the table to a broadcast join (catalog._broadcast_small) — the
    ANALYZE pays for itself on the first join.

    tests/test_analyze.py pins the zero-scan fast path, the gate, the
    fingerprint stability, and the broadcast plan flip."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlanalyze_")
    res = eng.sql(
        "ANALYZE TABLE db.docs COMPUTE STATISTICS "
        "FOR COLUMNS doc_id, lang, n_chars, source",
        "ops",
    ).first()
    _require(res.columns_analyzed == 4, res)
    st = eng.catalog.tables["db.docs"].stats
    _require(st["snapshot_version"] == 1)
    rows = [
        (
            c,
            int(st["row_count"]),
            int(st["columns"][c]["null_count"]),
            st["columns"][c]["min"],
            st["columns"][c]["max"],
        )
        for c in ("doc_id", "lang", "n_chars", "source")
    ]
    return spark.createDataFrame(
        rows,
        "col_name string, row_count long, null_count long, "
        "min_value string, max_value string",
    )


@query(
    "lake_clone_zero_copy",
    """
    WITH src AS (
      SELECT 'src' AS tbl, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang),
    cl AS (
      SELECT 'clone' AS tbl, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents WHERE NOT doc_id % 13 = 0 GROUP BY lang)
    SELECT * FROM src UNION ALL SELECT * FROM cl
    """,
    "Zero-copy CLONE as a governed SQL statement (round 12): CREATE "
    "TABLE db.c CLONE db.docs hardlinks the snapshot's files and "
    "inherits its recorded stats (no bytes copied, no footers read), "
    "then the two tables evolve independently — a DELETE erases rows "
    "from the clone while the source keeps them. The oracle replays "
    "both final states from the raw table.",
)
def lake_clone_zero_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: clone = O(#files) link syscalls + ONE manifest write
    inheriting per-file stats/rows/blooms — no scan is ever planned.
    Hardlinks make source vacuum/erasure physically unable to corrupt
    the clone (tests/test_clone.py erases the whole source and reads
    the clone), the failure mode Delta documents for its
    path-referencing shallow clones."""
    from ..sources import read_manifest

    eng, lake = _governed_docs(spark, sf_dir, "sqlclone_")
    out = eng.sql(
        f"CREATE TABLE db.c CLONE db.docs "
        f"WITH (external_location = '{lake}/c')",
        "ops",
    ).first()
    _require(out.cloned_from_version == 1, out)
    # zero-copy pin: the clone's v1 manifest carries the source
    # snapshot's recorded stats verbatim (no footer was re-read)
    _require(
        read_manifest(f"{lake}/c")["file_stats"]
        == read_manifest(f"{lake}/docs")["file_stats"]
    )
    d = eng.sql("DELETE FROM db.c WHERE doc_id % 13 = 0", "ops").first()
    _require(d.rows_deleted > 0)
    return eng.sql(
        "SELECT 'src' AS tbl, lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.docs GROUP BY lang "
        "UNION ALL "
        "SELECT 'clone' AS tbl, lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.c GROUP BY lang",
        "ops",
    )


@query(
    "sql_insert_overwrite_static",
    """
    WITH v AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      WHERE lang <> 'en'
      UNION ALL
      SELECT doc_id + 2000000, reverse(text), 'en' AS lang, source,
             n_chars
      FROM documents WHERE lang = 'en')
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM v GROUP BY lang
    """,
    "Static-partition INSERT OVERWRITE (round-13): the hive/Athena "
    "PARTITION (lang='en') form — the named partition is replaced in "
    "one atomic manifest commit, the governed SELECT supplies the "
    "NON-partition columns, every other partition's files carry by "
    "name. Partial/mixed specs, non-partition columns, NULL and "
    "non-literal values all refuse (tests/test_insert_overwrite.py). "
    "The oracle rebuilds the final state declaratively.",
)
def sql_insert_overwrite_static(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The backfill operator's explicit-target form: at 100 TB the
    statement names the partition being reprocessed, so a bug in the
    batch's derivation CANNOT touch any other partition — the spec is
    a blast-radius declaration the dynamic form lacks."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlows_")
    out = eng.sql(
        "INSERT OVERWRITE db.docs PARTITION (lang = 'en') "
        "SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text, "
        "source, n_chars FROM db.docs WHERE lang = 'en'",
        "ops",
    ).first()
    _require(out.partitions_replaced == 1, out)
    _require(out.rows_inserted > 0)
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_insert_overwrite",
    """
    WITH v AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      WHERE lang <> 'de'
      UNION ALL
      SELECT doc_id + 1000000, upper(text), lang, source, n_chars
      FROM documents WHERE lang = 'de')
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM v GROUP BY lang
    """,
    "INSERT OVERWRITE as a governed SQL statement (round 12): "
    "dynamic-partition overwrite — the batch (a governed SELECT over "
    "the table itself) replaces exactly the lang='de' partition in "
    "ONE atomic manifest commit while every other partition's files "
    "carry by name. The oracle rebuilds the expected final state "
    "declaratively; the md5 checksum proves the replaced partition's "
    "new content landed.",
)
def sql_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the daily-reprocess primitive — re-derive one partition,
    commit O(batch files) + carried NAMES, never rewrite the table.
    Staging is invisible until the pointer flips; schema drift, CHECK
    constraints, layout and rename-mapping races all fail closed
    (tests/test_insert_overwrite.py; carried files asserted by
    identity, tombstones on carried files keep applying, evolved
    layouts refused with the OPTIMIZE cure)."""
    eng, _ = _governed_docs(spark, sf_dir, "sqlow_")
    out = eng.sql(
        "INSERT OVERWRITE db.docs "
        "SELECT doc_id + 1000000 AS doc_id, upper(text) AS text, lang, "
        "source, n_chars FROM db.docs WHERE lang = 'de'",
        "ops",
    ).first()
    _require(out.partitions_replaced == 1, out)
    _require(out.rows_inserted > 0)
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_alter_column_widen",
    """
    WITH v AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
      UNION ALL
      SELECT doc_id + 4000000, lang,
             CAST(n_chars AS BIGINT) + 3000000000
      FROM documents WHERE lang = 'en')
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM v GROUP BY lang
    """,
    "ALTER TABLE ... ALTER COLUMN <c> TYPE <wider> (round-14): safe "
    "type widening as ONE metadata commit — the manifest's recorded "
    "writer schema and the catalog's declared schema widen together, "
    "no data rewrite; old int32 footers read back as bigint through "
    "Spark's parquet type promotion, and the next governed INSERT "
    "lands values beyond the old int domain. Narrowing refuses "
    "(asserted in-body); the oracle replays seed + wide batch "
    "declaratively, and max_chars > 2^31 makes the widening binding.",
)
def sql_alter_column_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common schema change on a long-lived fact table
    (Iceberg/Delta both ship exactly this safe direction). 100 TB: a
    widening is O(1) metadata — the alternative (CTAS rewrite) is a
    full-table pass; reads pay nothing (parquet type promotion happens
    inside the vectorized reader), appends validate against the
    widened type from the next batch on. Cites the reference's
    long-lived evolving Glue tables (main.tf:177-178)."""
    from pyspark.sql import types as T

    from ..sources.lake import read_manifest

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars")
    )
    lake = scratch_dir("widen_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, d, ["lang"])
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=d.schema, partition_keys=("lang",)
        )
    )
    eng = Engine(spark, cat)
    # the seed files really are narrow: one old footer reads int32
    first_file = sorted(read_manifest(loc)["files"])[0]
    _require(isinstance(
        spark.read.parquet(f"{loc}/{first_file}").schema["n_chars"].dataType,
        T.IntegerType,
    ))
    # narrowing fails closed
    try:
        eng.sql(
            "ALTER TABLE db.docs ALTER COLUMN n_chars TYPE smallint", "ops"
        )
        raise AssertionError("narrowing must refuse")
    except ValueError:
        pass
    out = eng.sql(
        "ALTER TABLE db.docs ALTER COLUMN n_chars TYPE bigint", "ops"
    ).first()
    _require(out.new_type == "bigint", out)
    # the widened domain is real: values beyond int32 land through the
    # governed INSERT and aggregate with the old-vintage int32 footers
    eng.sql(
        "INSERT INTO db.docs SELECT doc_id + 4000000 AS doc_id, lang, "
        "n_chars + 3000000000 AS n_chars FROM db.docs WHERE lang = 'en'",
        "ops",
    )
    res = eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
        "CAST(max(n_chars) AS BIGINT) AS max_chars "
        "FROM db.docs GROUP BY lang",
        "ops",
    )
    _require(dict(res.dtypes)["max_chars"] == "bigint")
    return res


@query(
    "sql_add_files",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents GROUP BY lang
    """,
    "ALTER TABLE ... ADD FILES '<dir>' (round-14): bulk-landed parquet "
    "imports into the manifest-committed layout as ONE O(new files) "
    "commit — hive layout and schema validated, footer stats + exact "
    "row counts recorded at import, carried files untouched (asserted "
    "by identity in-body), and the metadata-only COUNT serves the "
    "post-import total with zero files planned (asserted). The table "
    "seeds with doc_id % 3 <> 0; the % 3 = 0 rows land out-of-band "
    "and import — the oracle over ALL documents is reproducible only "
    "if the import landed exactly.",
)
def sql_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg add_files / Hive MSCK parity for the transactional
    layout: the bridge from bulk landing (distcp-style drops) into
    the manifest path that time travel / CDF / stats skipping /
    metadata COUNT serve from. 100 TB: the commit is O(imported
    files) hardlinks + one footer read each — table size never
    enters. Cites the reference's out-of-band landing
    (upload_sample.sh:27)."""
    from ..sources.lake import count_rows, read_manifest

    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("addf_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    seed = d.filter(F.col("doc_id") % 3 != 0)
    publish_overwrite(spark, loc, seed, ["lang"])
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=d.schema, partition_keys=("lang",)
        )
    )
    eng = Engine(spark, cat)
    # out-of-band landing: plain Spark write, NOT an engine verb
    landing = f"{lake}/_landing"
    d.filter(F.col("doc_id") % 3 == 0).write.partitionBy("lang").parquet(
        landing
    )
    import pathlib

    n_landed = len(
        [
            p
            for p in pathlib.Path(landing).rglob("*.parquet")
            if p.is_file() and not p.name.startswith("_")
        ]
    )
    before = set(read_manifest(loc)["files"])
    out = eng.sql(f"ALTER TABLE db.docs ADD FILES '{landing}'", "ops").first()
    after = read_manifest(loc)
    # O(new files) commit: every carried file identical, import count exact
    _require(before <= set(after["files"]), "carried files must be untouched")
    _require(out.files_added == n_landed == len(set(after["files"]) - before))
    _require(out.rows_added > 0)
    # imported rows serve from the metadata-only COUNT (zero files)
    total = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    _require(not total.inputFiles(), "COUNT must serve from statistics")
    _require(total.first().n == d.count())
    _require(count_rows(loc)["rows"] == d.count())
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_truncate_table",
    """
    WITH v AS (
      SELECT doc_id + 7000000 AS doc_id, text, lang, source, n_chars
      FROM documents WHERE lang IN ('de', 'fr'))
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM v GROUP BY lang
    """,
    "TRUNCATE TABLE (round-14): one zero-file snapshot commit — a "
    "mutation, not erasure: time travel to the pre-truncate version "
    "still serves every row (asserted in-body) until vacuum reclaims "
    "it on the retention schedule; layout, constraints, and the "
    "replay ledger carry so the next INSERT lands exactly as it would "
    "have. The oracle sees ONLY the post-truncate insert — "
    "reproducible only if the truncate removed every seed row and "
    "the re-insert landed.",
)
def sql_truncate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reset-and-reload primitive (Athena/Iceberg TRUNCATE
    parity): at 100 TB the commit is O(1) metadata — no file deletes
    on the critical path; storage reclaims asynchronously via
    VACUUM's snapshot retention."""
    eng, lake = _governed_docs(spark, sf_dir, "sqltrunc_")
    pre = eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n
    # stage the reload batch BEFORE the truncate (CTAS = a governed
    # read at the pre-truncate cut)
    eng.sql(
        "CREATE TABLE db.stash WITH (external_location = "
        f"'{lake}/stash') AS SELECT doc_id + 7000000 AS doc_id, text, "
        "lang, source, n_chars FROM db.docs WHERE lang IN ('de', 'fr')",
        "ops",
    )
    out = eng.sql("TRUNCATE TABLE db.docs", "ops").first()
    _require(out.rows_removed == pre > 0, out)
    _require(eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 0)
    # mutation, not erasure: the pre-truncate snapshot still serves
    tt = eng.sql(
        "SELECT count(*) AS n FROM db.docs FOR VERSION AS OF 1", "ops"
    ).first()
    _require(tt.n == pre)
    # the next insert lands exactly as it would have (layout carried)
    eng.sql("INSERT INTO db.docs SELECT * FROM db.stash", "ops")
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_drop_partition",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents WHERE lang <> 'fr' GROUP BY lang
    """,
    "ALTER TABLE ... DROP PARTITION (round-16; r15 What's missing "
    "#1): the hive/Athena partition-retirement verb (the Glue "
    "partition surface the reference's IAM anticipates, "
    "main.tf:177-178), routed to the static-overwrite machinery with "
    "an EMPTY batch — one atomic manifest commit drops the named "
    "partition's files from the snapshot, every other partition "
    "carries by name. A mutation, not erasure: time travel to the "
    "pre-drop version still serves the partition (asserted in-body) "
    "until vacuum reclaims it. IF EXISTS makes a missing partition a "
    "no-op; without it, missing refuses (asserted in-body). The "
    "oracle is the remaining-profile aggregate.",
)
def sql_drop_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-lifecycle verb users actually type for 'retire
    this day/tenant/language' — the engine had the SEMANTICS (an
    empty static INSERT OVERWRITE truncates a named partition) but
    not the verb. At 100 TB the commit is O(1) manifest arithmetic:
    no file deletes on the critical path (storage reclaims via
    VACUUM), no scan of the retired partition, carried partitions'
    file entries are untouched by identity. Maintain-gated (admin or
    unconditioned ALL), audited with the verbatim PARTITION spec;
    partition-evolved tables refuse with the OPTIMIZE cure
    (tests/test_sql_statements.py)."""
    eng, _ = _governed_docs(spark, sf_dir, "sqldroppart_")
    pre_fr = (
        eng.sql(
            "SELECT count(*) AS n FROM db.docs WHERE lang = 'fr'", "ops"
        )
        .first()
        .n
    )
    out = eng.sql(
        "ALTER TABLE db.docs DROP PARTITION (lang = 'fr')", "ops"
    ).first()
    _require(out.files_removed > 0 and out.rows_removed == pre_fr > 0, out)
    _require(
        eng.sql(
            "SELECT count(*) AS n FROM db.docs WHERE lang = 'fr'", "ops"
        )
        .first()
        .n
        == 0
    )
    # mutation, not erasure: the pre-drop snapshot still serves it
    tt = eng.sql(
        "SELECT count(*) AS n FROM db.docs FOR VERSION AS OF 1 "
        "WHERE lang = 'fr'",
        "ops",
    ).first()
    _require(tt.n == pre_fr)
    # IF EXISTS: a missing partition is a no-op, not an error…
    noop = eng.sql(
        "ALTER TABLE db.docs DROP IF EXISTS PARTITION (lang = 'xx')",
        "ops",
    ).first()
    _require(noop.files_removed == 0 and noop.rows_removed == 0)
    # …and without IF EXISTS it refuses loudly
    try:
        eng.sql("ALTER TABLE db.docs DROP PARTITION (lang = 'xx')", "ops")
        raise AssertionError("missing partition must refuse")
    except ValueError:
        pass
    return _final_agg_spark(eng)


@query(
    "sql_vacuum_age",
    """
    WITH final AS (
      SELECT * FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 7 = 2)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM final GROUP BY lang
    """,
    "Age-based snapshot retention (round-15): VACUUM ... OLDER THAN "
    "<interval/timestamp> — the production retention contract ('keep "
    "7 days', Athena vacuum_max_snapshot_age_seconds; the reference's "
    "own S3 lifecycle analog expires noncurrent versions by AGE, "
    "main.tf:25-30). In-body asserts: count+age compose as a UNION "
    "(RETAIN 1 + OLDER THAN 1 DAY removes nothing — age can only "
    "widen retention), a tag PINS a snapshot past any age horizon, "
    "DRY RUN reports the removal without moving the horizon, and the "
    "real age vacuum expires the pre-horizon snapshot: time travel "
    "to it refuses while the current cut stays green — which is what "
    "the oracle's final-state hash proves.",
)
def sql_vacuum_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the retention walk is O(history length) manifest reads
    plus one directory listing — data size never enters; expiring by
    age is the policy a compliance schedule actually states, and the
    union composition means adding it cannot narrow an existing
    count-based policy."""
    from ..sources import drop_tag, tag_snapshot

    eng, lake = _governed_docs(spark, sf_dir, "sqlvage_")  # v1 seed
    loc = f"{lake}/docs"
    pre = eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n
    eng.sql(
        "INSERT INTO db.docs SELECT doc_id + 3000000 AS doc_id, text, "
        "lang, source, n_chars FROM db.docs WHERE doc_id % 7 = 2",
        "ops",
    )  # v2

    def _v1_count():
        return (
            eng.sql(
                "SELECT count(*) AS n FROM db.docs FOR VERSION AS OF 1",
                "ops",
            )
            .first()
            .n
        )

    # union composition: every snapshot is newer than a 1-day horizon,
    # so adding the age clause to RETAIN 1 removes NOTHING (age only
    # widens retention, never narrows the count policy)
    u = eng.sql(
        "VACUUM db.docs RETAIN 1 SNAPSHOTS OLDER THAN INTERVAL '1' DAY",
        "ops",
    ).first()
    _require(u.snapshots_removed == 0, u)
    _require(_v1_count() == pre)
    # a tag pins the snapshot past ANY age horizon
    tag_snapshot(loc, "audit", 1)
    p = eng.sql(
        "VACUUM db.docs OLDER THAN INTERVAL '0' SECONDS", "ops"
    ).first()
    _require(p.snapshots_removed == 0, p)
    _require(_v1_count() == pre)
    drop_tag(loc, "audit")
    # DRY RUN reports exactly what the real run would expire — and
    # moves nothing
    d = eng.sql(
        "VACUUM db.docs OLDER THAN INTERVAL '0' SECONDS DRY RUN", "ops"
    ).first()
    _require(d.snapshots_removed == 1 and d.dry_run, d)
    _require(_v1_count() == pre)
    # the real age vacuum: pre-horizon history expires, head survives
    r = eng.sql(
        "VACUUM db.docs OLDER THAN INTERVAL '0' SECONDS", "ops"
    ).first()
    _require(r.snapshots_removed == 1, r)
    refused = False
    try:
        _v1_count()
    except Exception:
        refused = True
    _require(refused, "pre-horizon time travel must refuse after age vacuum")
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(conv(substr(md5(text), 1, 8), 16, 10)) AS BIGINT) "
        "AS text_chk FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_msck_repair",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    "MSCK REPAIR TABLE (round-14): index a declared-LOCATION table's "
    "hive layout — every k=v partition directory plus each file's "
    "exact footer row count — so the metadata-only COUNT serves "
    "schema-on-read tables with ZERO files planned (asserted), and "
    "files landed AFTER the repair fall open to the scan (asserted: "
    "the drifted count is still exact, served by scanning) until an "
    "incremental re-repair (O(new files) footer reads) re-indexes. "
    "The oracle over all documents is reproducible only if discovery "
    "saw every partition directory.",
)
def sql_msck_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Athena's companion verb for out-of-band landing (the reference
    IAM scaffolds GetPartitions, main.tf:177-178): declared-location
    tables read landed files immediately, but their counts cost a
    scan — MSCK records the footer counts once, and the consumer-side
    listing guard (names + sizes) makes the served count exact or
    absent, never stale. 100 TB: the repair is one walk + O(new
    files) footer reads; each served count pays a listing, the
    GetPartitions-class price."""
    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("msck_")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    # out-of-band landing: plain hive-partitioned write, NO engine verb
    d.filter(F.col("lang") != "zh").write.partitionBy("lang").parquet(loc)
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=d.schema, partition_keys=("lang",)
        )
    )
    eng = Engine(spark, cat)
    out = eng.sql("MSCK REPAIR TABLE db.docs", "ops").first()
    _require(out.partitions == 4 and out.rows_indexed > 0, out)
    # the indexed count serves with zero files planned
    c1 = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    _require(not c1.inputFiles(), "post-repair COUNT must serve from index")
    _require(c1.first().n == out.rows_indexed)
    # drift: land MORE data out-of-band -> the count falls OPEN (scan),
    # stays exact, and never serves the stale index
    d.filter(F.col("lang") == "zh").write.mode("append").partitionBy(
        "lang"
    ).parquet(loc)
    c2 = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    _require(c2.inputFiles(), "drifted index must fall open to the scan")
    _require(c2.first().n == d.count())
    # incremental re-repair: only the new files pay footer reads
    out2 = eng.sql("MSCK REPAIR TABLE db.docs", "ops").first()
    _require(out2.partitions == 5 and out2.new_files > 0)
    _require(out2.files_indexed == out.files_indexed + out2.new_files)
    c3 = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    _require(not c3.inputFiles() and c3.first().n == d.count())
    # per-partition counts serve from the index too
    per = eng.sql(
        "SELECT lang, count(*) AS n FROM db.docs GROUP BY lang", "ops"
    )
    _require(not per.inputFiles())
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.docs GROUP BY lang",
        "ops",
    )


@query(
    "sql_describe_files",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
    "DESCRIBE FILES (round-14): the Iceberg files-metadata-table "
    "analog — one row per live data file (path, partition, exact "
    "footer row count, size, adding snapshot version) straight from "
    "the manifest, zero data scanned (asserted: no input files). The "
    "returned aggregate folds the per-file row counts by partition "
    "and must equal the per-lang corpus counts — the file inventory "
    "is exact, not approximate.",
)
def sql_describe_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops-debugging surface for small-file and skew problems: at
    100 TB you ask the METADATA how many files/rows each partition
    holds (then OPTIMIZE the offenders) — never a data scan. Cost is
    O(#files) driver-side, same class as the manifest read every
    commit already pays."""
    eng, _ = _governed_docs(spark, sf_dir, "sqldf_")
    files = eng.sql("DESCRIBE FILES db.docs", "ops")
    _require(not files.inputFiles(), "file inventory must not scan data")
    rows = files.collect()
    _require(rows and all(
        r.rows is not None and r.size_bytes > 0 and r.added_version == 1
        for r in rows
    ), rows[:3])
    _require(all(r.partition.startswith("lang=") for r in rows))
    return (
        files.groupBy(
            F.regexp_replace("partition", "^lang=", "").alias("lang")
        )
        .agg(F.sum("rows").cast("long").alias("n_docs"))
        .orderBy("lang")
    )


@query(
    "sql_add_constraint",
    """
    WITH v AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 8000000, text, lang, source, n_chars
      FROM documents
      UNION ALL
      SELECT doc_id + 9000000, text, lang, source, n_chars + 1000
      FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM v GROUP BY lang
    """,
    "ALTER TABLE ADD/DROP CONSTRAINT (round-14): Delta's named CHECK "
    "constraint as governed SQL — existing data validates FIRST, the "
    "commit is metadata-only, every later batch validates by one scan "
    "of its staged files before anything becomes visible. In-body: a "
    "violating INSERT refuses with ZERO table change; after DROP "
    "CONSTRAINT the same batch lands. The oracle replays seed + the "
    "compliant batch + the formerly-refused batch — reproducible only "
    "if enforcement admitted and refused exactly as declared.",
)
def sql_add_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-contract primitive for a shared lake: at 100 TB the
    add pays ONE validation scan of existing data, each later batch
    one scan of the BATCH (never the table); a violating batch leaves
    zero trace (the staged tree is discarded before the pointer
    moves)."""
    from ..sources.lake import ConstraintViolationError, read_manifest

    eng, _ = _governed_docs(spark, sf_dir, "sqlcon_")
    out = eng.sql(
        "ALTER TABLE db.docs ADD CONSTRAINT chars_bound "
        "CHECK (n_chars < 600)",
        "ops",
    ).first()
    _require(out.status == "added", out)
    # a compliant batch lands
    eng.sql(
        "INSERT INTO db.docs SELECT doc_id + 8000000 AS doc_id, text, "
        "lang, source, n_chars FROM db.docs WHERE doc_id < 8000000",
        "ops",
    )
    loc = eng.catalog.tables["db.docs"].location
    v_before = read_manifest(loc)["version"]
    # a violating batch refuses with zero table change
    try:
        eng.sql(
            "INSERT INTO db.docs SELECT doc_id + 9000000 AS doc_id, "
            "text, lang, source, n_chars + 1000 AS n_chars FROM db.docs "
            "WHERE doc_id < 8000000",
            "ops",
        )
        raise AssertionError("violating batch must refuse")
    except ConstraintViolationError:
        pass
    _require(read_manifest(loc)["version"] == v_before)
    # dropping the contract admits the same batch
    eng.sql("ALTER TABLE db.docs DROP CONSTRAINT chars_bound", "ops")
    eng.sql(
        "INSERT INTO db.docs SELECT doc_id + 9000000 AS doc_id, text, "
        "lang, source, n_chars + 1000 AS n_chars FROM db.docs "
        "WHERE doc_id < 8000000",
        "ops",
    )
    return eng.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM db.docs GROUP BY lang",
        "ops",
    )
