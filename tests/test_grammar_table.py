"""The statement grammar is one table, ``statements._GRAMMAR``.

Each row is a form text, a pattern and a builder; every refusal message
lists form texts taken from the table. These tests pin that the table
covers every statement class, that each row parses its own example, and
that the refusals list exactly the forms the parser accepts.
"""

from __future__ import annotations

import dataclasses

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark import statements
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    UnsupportedStatementError,
    parse_statement,
)

# one statement per grammar row: (form text, example, statement class)
EXAMPLES = [
    ("EXPLAIN ANALYZE <query>", "EXPLAIN ANALYZE SELECT 1",
     "ExplainStatement"),
    ("EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST|SIMPLE] <query>",
     "EXPLAIN COST SELECT * FROM db.t", "ExplainStatement"),
    ("MSCK REPAIR TABLE <db.table>", "MSCK REPAIR TABLE db.t",
     "MsckRepairStatement"),
    ("TRUNCATE TABLE <db.table>", "TRUNCATE TABLE db.t",
     "TruncateTableStatement"),
    ("ALTER TABLE <db.table> RENAME COLUMN <old> TO <new>",
     "ALTER TABLE db.t RENAME COLUMN a TO b", "RenameColumnStatement"),
    ("ALTER TABLE <db.table> DROP COLUMN <col>",
     "ALTER TABLE db.t DROP COLUMN a", "DropColumnStatement"),
    ("ALTER TABLE <db.table> ADD FILES '<dir>'",
     "ALTER TABLE db.t ADD FILES '/landing'", "AddFilesStatement"),
    ("ALTER TABLE <db.table> ADD CONSTRAINT <name> CHECK (<expr>)",
     "ALTER TABLE db.t ADD CONSTRAINT c CHECK (v < 100)",
     "AddConstraintStatement"),
    ("ALTER TABLE <db.table> DROP CONSTRAINT <name>",
     "ALTER TABLE db.t DROP CONSTRAINT c", "DropConstraintStatement"),
    ("ALTER TABLE <db.table> DROP [IF EXISTS] PARTITION "
     "(col = <literal>, ...)",
     "ALTER TABLE db.t DROP IF EXISTS PARTITION (grp = 'a')",
     "DropPartitionStatement"),
    ("ALTER TABLE <db.table> ALTER COLUMN <col> TYPE <type>",
     "ALTER TABLE db.t ALTER COLUMN n SET DATA TYPE bigint",
     "WidenColumnStatement"),
    ("ALTER TABLE <db.table> ADD COLUMNS "
     "(<col> <type> [COMMENT '<text>'], ...)",
     "ALTER TABLE db.t ADD COLUMNS (c int COMMENT 'x')",
     "AddColumnsStatement"),
    ("MERGE INTO <db.table> [AS <t>] USING (<select>) [AS <s>] "
     "ON <t.col = s.col [AND ...]> "
     "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
     "MERGE INTO db.t AS t USING (SELECT * FROM db.s) AS s "
     "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * "
     "WHEN NOT MATCHED THEN INSERT *", "MergeStatement"),
    ("UPDATE <db.table> SET col = expr[, ...] WHERE <predicate>",
     "UPDATE db.t SET v = v + 1 WHERE grp = 'a'", "UpdateStatement"),
    ("DELETE FROM <db.table> WHERE <predicate>",
     "DELETE FROM db.t WHERE id = 3", "DeleteStatement"),
    ("OPTIMIZE <db.table> [REWRITE DATA USING BIN_PACK] "
     "[WHERE <partition predicate>]",
     "OPTIMIZE db.t REWRITE DATA USING BIN_PACK WHERE grp = 'a'",
     "OptimizeStatement"),
    ("OPTIMIZE <db.table> CLUSTER BY (col, ...)",
     "OPTIMIZE db.t CLUSTER BY (a, b)", "OptimizeStatement"),
    ("VACUUM <db.table> [RETAIN <n> SNAPSHOTS] [OLDER THAN "
     "INTERVAL '<n>' <unit> | OLDER THAN TIMESTAMP "
     "'<iso-or-epoch>'] [DRY RUN]",
     "VACUUM db.t RETAIN 2 SNAPSHOTS DRY RUN", "VacuumStatement"),
    ("INSERT OVERWRITE [TABLE] <db.table> "
     "[PARTITION (col = <literal>, ...)] <query>",
     "INSERT OVERWRITE db.t PARTITION (grp = 'x') SELECT id FROM db.t",
     "InsertStatement"),
    ("INSERT INTO <db.table> [(col, ...)] <query>",
     "INSERT INTO db.t (a, b) VALUES (1, 'x')", "InsertStatement"),
    ("PREPARE <name> FROM <statement>",
     "PREPARE q FROM SELECT * FROM db.t WHERE a = ?", "PrepareStatement"),
    ("EXECUTE <name> [USING <literal>, ...]", "EXECUTE q USING 3, 'x'",
     "ExecuteStatement"),
    ("CREATE DATABASE|SCHEMA [IF NOT EXISTS] <name> [COMMENT '<text>']",
     "CREATE SCHEMA IF NOT EXISTS db COMMENT 'it''s'",
     "CreateDatabaseStatement"),
    ("CREATE MATERIALIZED VIEW <db.mv> AS SELECT <group cols>, "
     "count(*) AS a [, sum(col) AS b, avg(col) AS c, "
     "approx_count_distinct(col) AS d ...] "
     "FROM <db.table> [WHERE <predicate>] GROUP BY <group cols>",
     "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n "
     "FROM db.t GROUP BY g", "CreateMVStatement"),
    ("CREATE [OR REPLACE] VIEW <db.view> AS <query>",
     "CREATE OR REPLACE VIEW db.v AS SELECT a FROM db.t",
     "CreateViewStatement"),
    ("CREATE TABLE <db.table> CLONE <db.source> [VERSION AS OF <n>] "
     "WITH (external_location = '<path>')",
     "CREATE TABLE db.c CLONE db.t VERSION AS OF 1 "
     "WITH (external_location = '/l/c')", "CloneStatement"),
    ("CREATE [EXTERNAL] TABLE [IF NOT EXISTS] <db.table> "
     "LIKE <db.source> LOCATION '<path>'",
     "CREATE TABLE db.n LIKE db.t LOCATION '/l/n'",
     "CreateTableLikeStatement"),
    ("CREATE [EXTERNAL] TABLE [IF NOT EXISTS] <db.table> "
     "(col type [COMMENT '<text>'], ...) "
     "[PARTITIONED BY (col type, ...)] [STORED AS PARQUET] "
     "LOCATION '<path>'",
     "CREATE EXTERNAL TABLE db.e (id bigint) PARTITIONED BY (g string) "
     "STORED AS PARQUET LOCATION '/l/e'", "CreateTableStatement"),
    ("CREATE TABLE <db.table> WITH (external_location = '<path>'"
     "[, format = 'PARQUET', partitioned_by = ARRAY['col', ...]]) "
     "AS <query>",
     "CREATE TABLE db.x WITH (external_location = '/l/x', "
     "partitioned_by = ARRAY['g']) AS SELECT * FROM db.t",
     "CtasStatement"),
    ("UNLOAD (<query>) TO '<path>' [WITH (format = "
     "'PARQUET'|'CSV'|'JSON'|'ORC'[, partitioned_by = "
     "ARRAY['col', ...]])]",
     "UNLOAD (SELECT * FROM db.t) TO '/out' WITH (format = 'CSV')",
     "UnloadStatement"),
    ("REFRESH MATERIALIZED VIEW <db.mv>", "REFRESH MATERIALIZED VIEW db.mv",
     "RefreshMVStatement"),
    ("DROP MATERIALIZED VIEW <db.mv> [PURGE]",
     "DROP MATERIALIZED VIEW db.mv PURGE", "DropMVStatement"),
    ("DROP VIEW [IF EXISTS] <db.view>", "DROP VIEW IF EXISTS db.v",
     "DropViewStatement"),
    ("DROP TABLE [IF EXISTS] <db.table>", "DROP TABLE db.t",
     "DropTableStatement"),
    ("SHOW CREATE TABLE <db.table>", "SHOW CREATE TABLE db.t",
     "ShowCreateTableStatement"),
    ("SHOW COLUMNS IN|FROM <db.table>", "SHOW COLUMNS FROM db.t",
     "ShowColumnsStatement"),
    ("SHOW TABLES [IN <db>]", "SHOW TABLES IN db", "ShowTablesStatement"),
    ("SHOW VIEWS [IN <db>]", "SHOW VIEWS", "ShowViewsStatement"),
    ("SHOW DATABASES|SCHEMAS", "SHOW SCHEMAS", "ShowDatabasesStatement"),
    ("SHOW PARTITIONS <db.table>", "SHOW PARTITIONS db.t",
     "ShowPartitionsStatement"),
    ("SHOW STATS [FOR] <db.table>", "SHOW STATS FOR db.t",
     "ShowStatsStatement"),
    ("SHOW GRANTS [FOR <principal>] ON <db.table>",
     "SHOW GRANTS FOR analyst ON db.t", "ShowGrantsStatement"),
    ("GRANT SELECT|ALL ON [TABLE] <db.obj> TO <principal>",
     "GRANT SELECT ON TABLE db.t TO analyst", "GrantStatement"),
    ("REVOKE [SELECT|ALL] ON [TABLE] <db.obj> FROM <principal>",
     "REVOKE ON db.t FROM analyst", "RevokeStatement"),
    ("ANALYZE TABLE <db.table> COMPUTE STATISTICS "
     "[FOR COLUMNS <col>, ... | FOR ALL COLUMNS]",
     "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS a, b",
     "AnalyzeStatement"),
    ("DESCRIBE DATABASE|SCHEMA <db>", "DESC SCHEMA db",
     "DescribeDatabaseStatement"),
    ("DESCRIBE HISTORY <db.table>", "DESCRIBE HISTORY db.t",
     "DescribeHistoryStatement"),
    ("DESCRIBE DETAIL <db.table>", "DESCRIBE DETAIL db.t",
     "DescribeDetailStatement"),
    ("DESCRIBE FILES <db.table>", "DESCRIBE FILES db.t",
     "DescribeFilesStatement"),
    ("DESCRIBE [TABLE] <db.table>", "DESCRIBE TABLE db.t",
     "DescribeStatement"),
]


def _rows():
    """(verb, row) for every grammar row; ``desc`` aliases ``describe``."""
    return [
        (verb, row)
        for verb, rows in statements._GRAMMAR.items()
        if verb != "desc"
        for row in rows
    ]


def _statement_classes() -> set:
    return {
        obj
        for name, obj in vars(statements).items()
        if name.endswith("Statement")
        and isinstance(obj, type)
        and dataclasses.is_dataclass(obj)
    }


def _unknown_verb_message() -> str:
    with pytest.raises(UnsupportedStatementError) as exc:
        parse_statement("FROB db.t")
    return str(exc.value)


def _verb_message(verb: str) -> str:
    with pytest.raises(UnsupportedStatementError) as exc:
        parse_statement(verb.upper())
    return str(exc.value)


def test_examples_cover_every_row_once():
    texts = [text for text, _sql, _cls in EXAMPLES]
    assert len(texts) == len(set(texts))
    assert sorted(texts) == sorted(row.text for _verb, row in _rows())


@pytest.mark.parametrize(
    "text,sql,cls", EXAMPLES, ids=[t for t, _s, _c in EXAMPLES]
)
def test_each_row_parses_its_example(text, sql, cls):
    verb = sql.split()[0].lower()
    first = next(
        row for row in statements._GRAMMAR[verb] if row.pattern.fullmatch(sql)
    )
    assert first.text == text
    assert type(parse_statement(sql)).__name__ == cls


def test_every_statement_class_is_built_by_a_row():
    built = {cls for _text, _sql, cls in EXAMPLES}
    classes = {c.__name__ for c in _statement_classes()}
    assert not classes - built, f"no grammar row builds {classes - built}"


def test_refusals_list_every_form_from_the_table():
    everything = _unknown_verb_message()
    for verb, row in _rows():
        assert row.text in _verb_message(verb), (verb, row.text)
        assert row.text in everything, row.text
    # the verb refusal lists exactly its own forms
    alter = _verb_message("alter")
    assert "SHOW" not in alter and "CREATE" not in alter


def test_refusals_name_the_forms_the_parser_accepts():
    everything = _unknown_verb_message()
    for form in (
        "UNLOAD (<query>)",
        "CREATE TABLE <db.table> WITH (external_location",
        "CREATE TABLE <db.table> CLONE",
        "LIKE <db.source> LOCATION",
        "DROP [IF EXISTS] PARTITION",
        "SHOW STATS",
        "SHOW CREATE TABLE",
        "SHOW COLUMNS",
        "DESCRIBE DATABASE",
    ):
        assert form in everything, form
    alter = _verb_message("alter")
    assert "ADD CONSTRAINT <name> CHECK" in alter
    assert "DROP CONSTRAINT <name>" in alter
    # a LIKE without LOCATION is refused with the CREATE forms, the LIKE
    # form among them, not with the CTAS grammar alone
    with pytest.raises(UnsupportedStatementError) as exc:
        parse_statement("CREATE TABLE db.a LIKE db.b")
    assert "supported CREATE forms" in str(exc.value)
    assert "LIKE <db.source> LOCATION '<path>'" in str(exc.value)


def test_a_matched_form_keeps_its_own_refusal():
    # the first matching row owns the statement: its builder's refusal
    # is raised, not the verb's form list
    with pytest.raises(UnsupportedStatementError, match="queries only"):
        parse_statement("EXPLAIN DELETE FROM db.t WHERE TRUE")
    with pytest.raises(UnsupportedStatementError, match="empty UNLOAD"):
        parse_statement("UNLOAD () TO '/out'")
    with pytest.raises(UnsupportedStatementError, match="MV needs GROUP BY"):
        parse_statement(
            "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n "
            "FROM db.t GROUP BY"
        )
