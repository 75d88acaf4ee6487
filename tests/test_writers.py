"""Writer/maintenance operator semantics (S5-S12) on tiny frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
    append_rows,
    delete_by_keys,
    truncate_like,
    upsert,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, schema="k int, v string")


def test_upsert_replaces_colliding_keys(spark):
    old = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _df(spark, [(2, "B!"), (4, "d")])
    got = {r.k: r.v for r in upsert(old, new, ["k"]).collect()}
    assert got == {1: "a", 2: "B!", 3: "c", 4: "d"}


def test_upsert_is_idempotent(spark):
    old = _df(spark, [(1, "a")])
    new = _df(spark, [(1, "A")])
    once = upsert(old, new, ["k"])
    twice = upsert(once, new, ["k"])
    assert sorted(map(tuple, twice.collect())) == [(1, "A")]


def test_upsert_matches_null_key_components(spark):
    """A NULL key component matches its NULL twin: the new row replaces
    the old one instead of both surviving."""
    schema = "k1 int, k2 int, v string"
    old = spark.createDataFrame([(1, 1, "a"), (2, None, "b")], schema)
    new = spark.createDataFrame([(2, None, "b2")], schema)
    got = sorted(map(tuple, upsert(old, new, ["k1", "k2"]).collect()), key=str)
    assert got == [(1, 1, "a"), (2, None, "b2")]


def test_upsert_path_matches_null_key_components(spark, tmp_path):
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        upsert_path,
    )

    schema = "k1 int, k2 int, v string"
    target = str(tmp_path / "tgt")
    upsert_path(spark, target, spark.createDataFrame([(2, None, "b")], schema), ["k1", "k2"])
    upsert_path(spark, target, spark.createDataFrame([(2, None, "b2")], schema), ["k1", "k2"])
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(2, None, "b2")]


def test_upsert_path_rejects_a_repeated_delta_key(spark, tmp_path):
    """A delta that holds one key twice raises and names the key; the
    target keeps its rows."""
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        upsert_path,
    )

    schema = "k1 int, k2 int, v string"
    target = str(tmp_path / "tgt")
    first = spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], schema)
    upsert_path(spark, target, first, ["k1", "k2"])
    delta = spark.createDataFrame([(1, 1, "x"), (1, 1, "y")], schema)
    with pytest.raises(ValueError, match=r"\{'k1': 1, 'k2': 1\}.*\['k1', 'k2'\]"):
        upsert_path(spark, target, delta, ["k1", "k2"])
    got = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert got == [(1, 1, "a"), (2, 2, "b")]


def test_delete_by_keys(spark):
    df = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    dels = spark.createDataFrame([(2,), (9,)], schema="k int")
    got = sorted(r.k for r in delete_by_keys(df, dels, ["k"]).collect())
    assert got == [1, 3]


def test_append_keeps_duplicates(spark):
    df = _df(spark, [(1, "a")])
    out = append_rows(df, _df(spark, [(1, "a"), (2, "b")]))
    assert out.count() == 3


def test_truncate_preserves_schema(spark):
    df = _df(spark, [(1, "a")])
    t = truncate_like(df)
    assert t.count() == 0
    assert t.schema == df.schema


def test_merge_keys_condition():
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        merge_keys_condition,
    )

    # null-safe, like upsert's anti-join
    assert merge_keys_condition(["a"]) == "t.a <=> s.a"
    assert merge_keys_condition(["a", "b"]) == "t.a <=> s.a AND t.b <=> s.b"


def test_upsert_path_parquet_fallback(spark, tmp_path):
    """Bootstrap write, then a keyed merge: collided key replaced, new key
    inserted, untouched key survives — MERGE semantics on plain parquet."""
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        upsert_path,
    )

    target = str(tmp_path / "tgt")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    upsert_path(spark, target, first, ["k"])
    second = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    upsert_path(spark, target, second, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_path_keeps_partitioned_layout(spark, tmp_path):
    """An upsert into a ``partitionBy`` target rewrites it partitioned the
    same way, so partition pruning still works after the merge."""
    import os

    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        upsert_path,
    )

    target = str(tmp_path / "tgt")
    schema = "k int, v string, p int"
    old = spark.createDataFrame([(1, "a", 10), (2, "b", 10), (3, "c", 20)], schema)
    old.write.partitionBy("p").parquet(target)
    new = spark.createDataFrame([(2, "B", 10), (4, "d", 30)], schema)
    upsert_path(spark, target, new, ["k"])

    dirs = sorted(d for d in os.listdir(target) if not d.startswith(("_", ".")))
    assert dirs == ["p=10", "p=20", "p=30"]
    got = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a", 10), (2, "B", 10), (3, "c", 20), (4, "d", 30)}
    pruned = spark.read.parquet(target).filter("p = 20").collect()
    assert [tuple(r) for r in pruned] == [(3, "c", 20)]


def test_avro_roundtrip_when_available(spark, tmp_path):
    """Avro interchange seam: spark-avro is an EXTERNAL module (not bundled
    with pip pyspark), so this round-trips only when the jar is deployed —
    same gating pattern as the Delta MERGE path in writers.upsert_path.
    Skipped (not failed) where the jar is absent, so the capability is
    documented and instantly exercised on any real cluster that ships it."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    df = spark.range(0, 100).selectExpr("id AS k", "id % 7 AS v")
    path = str(tmp_path / "avro_rt")
    try:
        df.write.mode("overwrite").format("avro").save(path)
    except AnalysisException as exc:
        if "Failed to find data source: avro" in str(exc):
            pytest.skip("spark-avro jar not on this classpath (external module)")
        raise
    back = spark.read.format("avro").load(path)
    assert back.count() == 100
    assert {r.k for r in back.collect()} == set(range(100))


def test_delta_merge_branch_when_available(spark, tmp_path):
    """Delta MERGE seam: delta-spark is not pip-installable in this sandbox
    (no network installs), so the real MERGE INTO branch of
    writers.upsert_path is exercised only where the Delta jars + extension
    are deployed — the same gating pattern as the Avro round-trip above.
    Where Delta exists this runs the genuine whenMatched/whenNotMatched
    merge and asserts upsert semantics; here it documents the attempt and
    skips. The parquet fallback branch carries the same public semantics
    and is oracle-checked through wr_upsert."""
    import pytest

    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        _has_delta,
        upsert_path,
    )

    if not _has_delta():
        pytest.skip(
            "delta-spark not on this classpath (sandbox forbids pip installs; "
            "the MERGE INTO branch runs wherever Delta is deployed)"
        )
    target = str(tmp_path / "delta_upsert")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upsert_path(spark, target, base, ["k"])
    delta_new = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    upsert_path(spark, target, delta_new, ["k"])
    got = {(r.k, r.v) for r in spark.read.format("delta").load(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


# --------------------------------------------------------------------------
# Write-audit-publish edge cases (the component covers the happy cascade;
# these pin the failure-ordering contract)
# --------------------------------------------------------------------------


def test_wap_failed_first_publish_leaves_no_manifest(spark, tmp_path):
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        wap_publish,
        wap_read,
    )

    root = str(tmp_path / "wap")
    (tmp_path / "wap").mkdir()
    df = spark.range(5).select(F.col("id").alias("k"))
    # audit rejects everything -> nothing must ever become readable
    assert wap_publish(spark, root, df, "1", lambda staged: False) is False
    with pytest.raises(FileNotFoundError):
        wap_read(spark, root)


def test_wap_recovers_after_failed_attempt(spark, tmp_path):
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        wap_publish,
        wap_read,
    )

    root = str(tmp_path / "wap")
    (tmp_path / "wap").mkdir()
    ok = lambda staged: staged.count() > 0  # noqa: E731
    v1 = spark.range(3).select(F.col("id").alias("k"))
    assert wap_publish(spark, root, v1, "1", ok)
    # v2 fails its audit; v3 then publishes cleanly over the v1 pointer
    assert wap_publish(spark, root, spark.range(9), "2", lambda s: False) is False
    assert wap_read(spark, root).count() == 3
    v3 = spark.range(7).select(F.col("id").alias("k"))
    assert wap_publish(spark, root, v3, "3", ok)
    assert wap_read(spark, root).count() == 7


def test_wap_time_travel_reads_old_versions(spark, tmp_path):
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        wap_publish,
        wap_read,
        wap_read_version,
        wap_versions,
    )

    root = str(tmp_path / "wap")
    (tmp_path / "wap").mkdir()
    ok = lambda staged: True  # noqa: E731
    wap_publish(spark, root, spark.range(3).select(F.col("id").alias("k")), "1", ok)
    wap_publish(spark, root, spark.range(8).select(F.col("id").alias("k")), "2", ok)
    assert wap_versions(root) == ["1", "2"]
    assert wap_read(spark, root).count() == 8          # manifest -> current
    assert wap_read_version(spark, root, "1").count() == 3  # time travel


def test_wap_vacuum_edges(spark, tmp_path):
    """Retention edges: keep=0 retains ONLY the manifest's current version
    (the pointer is protected whatever `keep` says); on a never-published
    root keep=0 may sweep every staged version; and vacuuming more than
    exists is a no-op."""
    from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
        wap_publish,
        wap_read,
        wap_vacuum,
        wap_versions,
    )

    root = str(tmp_path / "wap")
    (tmp_path / "wap").mkdir()
    df = spark.range(5).select(F.col("id").alias("k"))
    ok = lambda d: d.count() > 0  # noqa: E731
    assert wap_publish(spark, root, df, "1", ok)
    assert wap_publish(spark, root, df, "2", ok)
    # keep=0: everything except the CURRENT version (v2) must go
    assert wap_vacuum(root, keep=0) == ["1"]
    assert wap_versions(root) == ["2"]
    assert wap_read(spark, root).count() == 5
    # keep larger than retained versions: no-op
    assert wap_vacuum(root, keep=5) == []
    assert wap_versions(root) == ["2"]

    # never-published root: no manifest to protect — keep=0 sweeps all
    root2 = str(tmp_path / "wap2")
    (tmp_path / "wap2").mkdir()
    rejected = lambda d: False  # noqa: E731
    assert not wap_publish(spark, root2, df, "1", rejected)
    assert wap_versions(root2) == ["1"]
    assert wap_vacuum(root2, keep=0) == ["1"]
    assert wap_versions(root2) == []
