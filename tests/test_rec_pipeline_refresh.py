"""The daily refresh, ``rec_pipeline_e2e``: its rows against the DuckDB
oracle, and a result frame that costs no Spark job.

The refresh takes its stage counts from the one collect of the
interactions, which the driver encodes and splits, and its factor counts
from the driver-resident serving state. Its own conservation link
``n_train + n_test == n_interactions`` therefore holds by construction;
here every count is checked against the oracle, which derives it
independently from the raw tables.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from e_commerce_data_warehouse_recommendation_system_spark.recommend import queries as rq
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare
from tests.conftest import SF0001

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_correctness import duck_connect, normalize  # noqa: E402

# full-gate lane: trains a model (see pytest.ini)
pytestmark = pytest.mark.slow

#: Spark jobs of one cold refresh at sf0.001 on local[4]: the interactions
#: collect (3, its query stages under adaptive execution), the ALS fit
#: (21, 4 blocks per side), the factor collect (1) and the publish
#: read-back (3). The encoding, the split, the held-out pairs and stages
#: 5-8 run on the driver.
COLD_REFRESH_JOBS = 28


@pytest.fixture(scope="module")
def refresh(spark):
    return rq.rec_pipeline_e2e(spark, SF0001)


def test_rec_pipeline_e2e_matches_duckdb_oracle(refresh):
    got = refresh.collect()
    con = duck_connect(SF0001)
    try:
        res = con.execute(rq._sql_rec_pipeline())
        want_cols = [d[0] for d in res.description]
        want = res.fetchall()
    finally:
        con.close()
    assert len(got) == 16
    assert normalize([tuple(r) for r in got], refresh.columns, exact_floats=True) == (
        normalize(want, want_cols, exact_floats=True)
    )


def test_rec_pipeline_e2e_result_frame_runs_no_job(spark, refresh):
    sc = spark.sparkContext
    group = "test-rec-pipeline-result-zero-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = refresh.collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], f"collecting the refresh's result submitted Spark jobs {jobs}"
    assert len(rows) == 16


def test_cold_refresh_submits_a_pinned_number_of_jobs(spark):
    """From no memoized model and an empty Spark cache, the refresh
    submits exactly ``COLD_REFRESH_JOBS`` jobs, so a stage that goes back
    to Spark, or an extra pass before the fit, shows as a count."""
    prepare(spark, SF0001)  # views registered outside the counted group
    rq._CACHE.pop((spark.sparkContext.applicationId, SF0001), None)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "test-cold-refresh-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = rq.rec_pipeline_e2e(spark, SF0001).collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 16
    assert len(jobs) == COLD_REFRESH_JOBS
