from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tf_aws_lakeformation_governed_datalake_demo_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", extra_conf={"spark.driver.memory": "8g"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def lake(tmp_path_factory):
    return str(tmp_path_factory.mktemp("lake"))


@pytest.fixture(scope="session")
def sf001_dir(sf_dir):
    """The sf0.01 fixture the similarity/PQ recall gates were calibrated
    on, derived as a sibling of the (env-overridable) test sf_dir rather
    than hardcoded (round-5 ADVICE): recall measurements are
    corpus-size-dependent, so the gates only hold at that scale."""
    cand = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.exists(os.path.join(cand, "embeddings.parquet")):
        pytest.skip(f"sf0.01 calibration fixture not found at {cand}")
    return cand


@pytest.fixture()
def spark_jobs(spark):
    """A context-manager factory: ``with spark_jobs() as jobs:`` leaves
    in the list ``jobs``, on exit, the number of Spark jobs the block ran
    on this thread. Jobs are counted through a job group and
    ``statusTracker``, so the count does not depend on the host."""

    @contextmanager
    def count():
        sc = spark.sparkContext
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count probe")
        counted: list[int] = []
        try:
            yield counted
        finally:
            counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)

    return count


@pytest.fixture()
def eng(spark, tmp_path):
    """An engine over a fresh lake holding ``db.t (id bigint, n int)``
    partitioned by ``grp`` with three rows in two partitions; ``ops`` is
    the admin. Modules that need another engine define their own."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine

    lake = str(tmp_path)
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.set_admins(["ops"])
    eng = Engine(spark, cat)
    eng.sql("CREATE DATABASE db", "ops")
    eng.sql(
        "CREATE EXTERNAL TABLE db.t (id bigint, n int) "
        f"PARTITIONED BY (grp string) LOCATION '{lake}/t'",
        "ops",
    )
    eng.sql(
        "INSERT INTO db.t VALUES (1, 10, 'x'), (2, 20, 'x'), (3, 30, 'y')",
        "ops",
    )
    return eng
