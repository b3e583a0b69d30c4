"""Shared test fixtures: one SparkSession per test run, fixture dirs."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from species_range_data_pipeline_spark.session import get_spark

    spark = get_spark("pytest")
    yield spark
    spark.stop()


@pytest.fixture
def packed_file_splits(spark):
    """Make every file scan pack all its files into ONE task (tiny
    per-file open cost, huge split size, no minimum split count), then
    restore the session conf."""
    conf = {
        "spark.sql.files.openCostInBytes": "1",
        "spark.sql.files.maxPartitionBytes": str(256 << 20),
        "spark.sql.files.minPartitionNum": "1",
    }
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def registry_plans(spark):
    """ONE construction + formatted-explain of every registered query at
    SF_CORRECT, shared by the registry-wide audit tests (r19, VERDICT
    r18 #1): constructing the full registry executes the eager lanes
    (streaming drains, iterative graph rounds, BPE training), so each
    independent full pass costs ~3 min — the r18 suite paid it three
    times (runnable-plan, cartesian/row-python census, driver-sortable
    schemas) plus once per ``_plan`` pin.  Returns
    ``{name: (schema, formatted_plan_text)}``."""
    import contextlib
    import io

    from species_range_data_pipeline_spark.plans import registry

    out = {}
    for name, fn in registry.all_queries().items():
        df = fn(spark, SF_CORRECT)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out[name] = (df.schema, buf.getvalue())
    return out


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECT}/{name}.parquet'"
        )
    yield con
    con.close()
