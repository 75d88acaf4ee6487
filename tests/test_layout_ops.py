"""Z-order clustered layout + runtime bloom-filter reduction.

The layout/runtime-filter operators make claims that must hold as exact
invariants, not just "the digest matched once": the Morton interleave is
bit-for-bit a known function (pinned against a pure-Python reference),
skipping a file by min/max stats must never lose a row (the component's
``skip_scan_exact`` flag), and Catalyst must actually inject the bloom
filter in the configured regime (``bloom_injected``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
    j_bloom_reduce,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.writer_queries import (
    _Z_BITS,
    wr_zorder_layout,
    zorder_value,
)

SF_DIR = "/root/testdata/sf0.001"


def _morton_py(x: int, y: int, bits: int = _Z_BITS) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_value_matches_python_reference(spark):
    n_bins = 1 << _Z_BITS
    pts = [
        (0, 0),
        (1, 0),
        (0, 1),
        (n_bins - 1, n_bins - 1),
        (n_bins // 2, n_bins // 4),
        (341, 682),  # alternating bit patterns 0101.../1010...
        (1023, 0),
        (0, 1023),
    ]
    df = spark.createDataFrame(pts, "xb long, yb long").withColumn(
        "zval", zorder_value(F.col("xb"), F.col("yb"))
    )
    got = {(r.xb, r.yb): r.zval for r in df.collect()}
    assert got == {(x, y): _morton_py(x, y) for x, y in pts}


def test_zorder_is_monotone_in_box_membership(spark):
    """The interleave structure behind the pruning claim: xb < 2^(b-2) AND
    yb < 2^(b-2)  <=>  z < 2^(2b-4). A regression in bit placement breaks
    this equivalence long before it breaks a digest sum."""
    rows = [(x, y) for x in (0, 100, 255, 256, 700, 1023) for y in (0, 37, 255, 256, 1023)]
    df = spark.createDataFrame(rows, "xb long, yb long").withColumn(
        "zval", zorder_value(F.col("xb"), F.col("yb"))
    )
    box, zcut = 1 << (_Z_BITS - 2), 1 << (2 * _Z_BITS - 4)
    for r in df.collect():
        assert ((r.xb < box) and (r.yb < box)) == (r.zval < zcut)


def test_zorder_layout_flags(spark):
    row = wr_zorder_layout(spark, SF_DIR).collect()[0]
    assert row.files_ok, "z-ordered write exceeded the planned file count"
    assert row.zorder_prunes, (
        "z-ordered layout did not beat the hash layout on file pruning"
    )
    assert row.skip_scan_exact, (
        "min/max-pruned scan lost rows — file skipping is UNSOUND"
    )
    assert row.n_rows > 0 and row.n_box_rows > 0


def test_bloom_reduce_injects_and_stays_exact(spark):
    row = j_bloom_reduce(spark, SF_DIR).collect()[0]
    assert row.bloom_injected, (
        "Catalyst did not inject the runtime bloom filter under the "
        "configured thresholds — the scale lever this operator exists for"
    )
    assert row.n_items > 0 and row.revenue > 0.0


def test_bloom_confs_restored(spark):
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    j_bloom_reduce(spark, SF_DIR).collect()
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
