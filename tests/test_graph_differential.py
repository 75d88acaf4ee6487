"""Adversarial differential test for the graph family.

graph_kcore and graph_triangle_count are driver-checked on the TPC-H-ish
co-purchase graph, whose structure is near-regular; this builds a
CONSTRUCTED graph with known exact answers — a K6 clique, a pendant path
that unravels ONE NODE PER ROUND under the data-derived k=2 threshold
(the multi-round cascade the level-synchronous peel exists for, reaching
round 9 of the 12-round bound), and a 6-cycle that is a 2-core and must
survive every round — runs both operators AND their DuckDB oracles on it,
and checks the full results exactly plus the hand-derived ground truth.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from e_commerce_data_warehouse_recommendation_system_spark import registry
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import TABLES

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def graph_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("graph_diff")
    out = str(base / "fixture")
    os.makedirs(out)
    for t in TABLES:
        if t == "lineitem":  # replaced below by the constructed graph
            continue
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{out}/{t}.parquet")
    rows = []
    # K6 clique: one basket holding parts 1..6
    rows += [(1000, p) for p in range(1, 7)]
    # pendant path 6 - 7 - 8 - ... - 15 (nine 2-item baskets)
    for i, (a, b) in enumerate(zip(range(6, 15), range(7, 16))):
        rows += [(2000 + i, a), (2000 + i, b)]
    # 6-cycle on parts 20..25 (a 2-core: survives k=2 peeling forever)
    cyc = list(range(20, 26))
    for i in range(6):
        rows += [(3000 + i, cyc[i]), (3000 + i, cyc[(i + 1) % 6])]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(f"{out}/lineitem.parquet")
    return out


def _duck(graph_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{graph_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def test_kcore_cascade_matches_oracle_and_ground_truth(spark, graph_dir):
    comp = registry.components()["graph_kcore"]
    got = sorted(tuple(r) for r in comp.fn(spark, graph_dir).collect())
    want = sorted(tuple(r) for r in _duck(graph_dir).execute(comp.oracle).fetchall())
    assert got == want, (got, want)

    by = {r[0]: r for r in got}  # part -> (part, k, in_core, peel_round, core_degree, converged)
    assert all(r[1] == 2 for r in got), "data-derived k should be 2 here"
    assert all(r[5] for r in got), "fixpoint inside the bound -> converged"
    # the clique and the cycle survive; the path unravels one node per round
    for p in list(range(1, 7)) + list(range(20, 26)):
        assert by[p][2] and by[p][3] is None, by[p]
    for rnd, p in enumerate(range(15, 6, -1), start=1):
        assert not by[p][2] and by[p][3] == rnd, (p, by[p])
    # within-core degrees: clique interior 5, attachment node 6 loses its
    # pendant edge, cycle nodes keep 2
    assert by[1][4] == 5 and by[6][4] == 5
    assert all(by[p][4] == 2 for p in range(20, 26))


def test_triangles_match_oracle_and_ground_truth(spark, graph_dir):
    comp = registry.components()["graph_triangle_count"]
    got = sorted(tuple(r) for r in comp.fn(spark, graph_dir).collect())
    want = sorted(tuple(r) for r in _duck(graph_dir).execute(comp.oracle).fetchall())
    assert got == want, (got, want)
    by = {r[0]: r for r in got}  # (part, degree, n_triangles, clustering_micro, rnk)
    # every K6 node closes C(5,2) = 10 triangles; clique interiors are
    # fully clustered (coefficient exactly 1.0 in micro units); the
    # attachment node 6 has degree 6 so 2*10/(6*5) = 2/3
    for p in range(1, 6):
        assert by[p][2] == 10 and by[p][1] == 5 and by[p][3] == 1_000_000, by[p]
    assert by[6][2] == 10 and by[6][1] == 6 and by[6][3] == 666_666, by[6]
    for p in list(range(7, 16)) + list(range(20, 26)):
        if p in by:  # top-K report may omit zero-triangle nodes
            assert by[p][2] == 0, by[p]
