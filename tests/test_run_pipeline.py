"""The nightly warehouse build, ``run_pipeline``: its row counts against
the DuckDB oracle of ``etl_pipeline_counts``, its table order and fact
layout, its jobs staying in the caller's job group, and a failing table
reaching the caller.

The five tables build concurrently on a driver thread pool; the counts,
their order and the partitioned fact must be the same as a one-by-one
build's.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

from e_commerce_data_warehouse_recommendation_system_spark import registry
from e_commerce_data_warehouse_recommendation_system_spark.plans import etl
from tests.conftest import SF0001

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_correctness import duck_connect  # noqa: E402


GROUP = "test-run-pipeline"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One build, run in a job group; also returns the jobs it submitted
    outside that group."""
    out = str(tmp_path_factory.mktemp("warehouse"))
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(GROUP, GROUP)
    try:
        counts = etl.run_pipeline(spark, SF0001, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    strays = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    return out, counts, strays


def test_run_pipeline_counts_match_duckdb_oracle(built):
    _, counts, _ = built
    con = duck_connect(SF0001)
    try:
        want = dict(con.execute(registry.components()["etl_pipeline_counts"].oracle).fetchall())
    finally:
        con.close()
    assert counts == want


def test_run_pipeline_returns_dims_then_fact(built):
    _, counts, _ = built
    assert list(counts) == [*etl.DIM_BUILDERS, "fact_sales"]


def test_run_pipeline_partitions_fact_by_order_year(built):
    out, _, _ = built
    years = [d for d in os.listdir(f"{out}/fact_sales") if not d.startswith(("_", "."))]
    assert years and all(d.startswith("order_year=") for d in years)


def test_run_pipeline_jobs_keep_the_callers_job_group(spark, built):
    _, _, strays = built
    assert strays == set(), f"build jobs {sorted(strays)} left the caller's job group"
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(GROUP)


def test_run_pipeline_raises_when_a_table_fails(spark, tmp_path, monkeypatch):
    def broken(spark, sf_dir):
        raise RuntimeError("dim_part build failed")

    monkeypatch.setitem(etl.DIM_BUILDERS, "dim_part", broken)
    with pytest.raises(RuntimeError, match="dim_part build failed"):
        etl.run_pipeline(spark, SF0001, str(tmp_path))
