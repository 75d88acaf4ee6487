"""Driver-replica gate: the registry must fit the driver's correctness
window, fully oracled, with every SURVEY.md §2 family represented.

CORRECTNESS_r02 proved the driver records exactly the first
``DRIVER_QUERY_BUDGET`` (50) registered queries — round 2 silently lost all
etl_/rec_/dedup_/sim_/text_/stream_/wr_ rows to the truncation. These
assertions make a registration-order regression (a new module import
reshuffling the window) a test failure instead of a silent scoreboard hole.
"""

from __future__ import annotations

import pytest

from e_commerce_data_warehouse_recommendation_system_spark import registry

#: every family that must be driver-visible, by name prefix
FAMILIES = (
    "q",  # headline analytics
    "j_asof",  # custom as-of join
    "etl_",  # warehouse ETL
    "text_",  # text analysis
    "dq_",  # data quality
    "rec_",  # recommender
    "stream_",  # structured streaming
    "wr_",  # sinks / maintenance
    "rel_",  # micro-relational digest suites
)


def test_registry_fits_driver_window():
    qs = registry.queries()
    assert len(qs) <= registry.DRIVER_QUERY_BUDGET, (
        f"{len(qs)} registered queries exceed the driver's "
        f"{registry.DRIVER_QUERY_BUDGET}-row correctness window — "
        "consolidate new micro-operators into a digest suite "
        "(operators/digest.py) instead of registering them individually"
    )


def test_every_query_has_an_oracle():
    qs, os_ = registry.queries(), registry.oracles()
    missing = sorted(set(qs) - set(os_))
    assert not missing, (
        f"queries without oracles read as `err: no_oracle` on the driver "
        f"scoreboard: {missing} — give each a digest/invariant oracle"
    )


def test_every_family_is_driver_visible():
    names = list(registry.queries())
    for prefix in FAMILIES:
        assert any(n.startswith(prefix) for n in names), (
            f"no registered query for family {prefix!r} — it has zero "
            "driver-visible correctness rows"
        )


def test_every_component_is_covered_by_a_suite():
    from e_commerce_data_warehouse_recommendation_system_spark.suites import SUITE_SPECS

    comps = set(registry.components())
    in_suites = {n for members in SUITE_SPECS.values() for n in members}
    orphans = sorted(comps - in_suites)
    assert not orphans, (
        f"components registered but absent from every suite (invisible to "
        f"the driver): {orphans}"
    )


def test_suite_digest_rows_match_member_specs():
    """Suite-member drift canary (VERDICT r9 item 7): re-derive each
    suite's member list from the registry and assert the REGISTERED suite
    oracle carries exactly the expected digest rows per member — one
    `'{member}' AS op` select per metric, where the metric count derives
    from the member's col spec via the same _metrics() table the Spark
    digest uses. A member silently dropped from one side of the digest
    machinery (or a one-sided digest_sql/digest_df change) fails loudly
    here instead of shadowing its suite's innocents on the scoreboard."""
    import re

    from e_commerce_data_warehouse_recommendation_system_spark.operators.digest import _metrics
    from e_commerce_data_warehouse_recommendation_system_spark.suites import SUITE_SPECS

    comps = registry.components()
    oracles = registry.oracles()
    # the digest wrapper's exact row shape (digest_sql) — member oracles may
    # legitimately contain their own `'x' AS op` strings, so anchor on the
    # op+metric pair only the wrapper emits
    digest_row = r"SELECT '([^']+)' AS op, '[^']+' AS metric"
    for suite, members in SUITE_SPECS.items():
        oracle = oracles[suite]
        ops_in_oracle = re.findall(digest_row, oracle)
        assert set(ops_in_oracle) == set(members), (
            f"{suite}: oracle ops {sorted(set(ops_in_oracle) ^ set(members))} "
            "differ from SUITE_SPECS members"
        )
        for m in members:
            expected = len(_metrics(comps[m].cols))
            got = sum(1 for op in ops_in_oracle if op == m)
            assert got == expected, (
                f"{suite}/{m}: {got} digest rows in the oracle, "
                f"{expected} expected from its col spec"
            )


def test_components_have_full_oracles_and_cols():
    bad = [
        n
        for n, c in registry.components().items()
        if c.oracle is None or not c.cols
    ]
    assert not bad, f"components need a full-result oracle and a digest col spec: {bad}"


def test_component_fns_take_spark_and_sfdir():
    """Every registered component/query fn must accept (spark, sf_dir) —
    a decorator landing on the wrong def (e.g. a helper extracted above a
    @component) registers an uncallable fn that only fails at driver
    runtime. Caught in round 6 by a driver-scale re-run; pinned here so it
    fails in pytest instead."""
    import inspect

    def required_positional(fn) -> int:
        return len(
            [
                p
                for p in inspect.signature(fn).parameters.values()
                if p.default is inspect.Parameter.empty
                and p.kind
                in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            ]
        )

    bad = [
        n
        for n, c in registry.components().items()
        if required_positional(c.fn) != 2
    ] + [n for n, fn in registry.queries().items() if required_positional(fn) != 2]
    assert not bad, f"registered fns not shaped (spark, sf_dir): {bad}"


@pytest.mark.slow  # ~7 min: executes every registered query's schema
def test_no_decimal_output_columns(spark):
    """No driver-visible query may emit a DecimalType column. Round 7 lost
    11 slots to exactly this: values bit-identical on both engines, but the
    driver's oracle fetch collapses DECIMAL to float64, so a Spark Decimal
    can never value-hash-match — rows/schema green, hash red. Exact sums
    cross as scale-pinned strings (functions/scalar.dec_str / dec_sum_str;
    the form every digest suite already uses).

    Builds every registered query's DataFrame at sf0.001 and inspects the
    schema. Most queries are lazy (schema-only build); the stream_* entries
    execute their micro-batch pipelines, which at sf0.001 is seconds.
    """
    from tests.conftest import SF0001

    violations = {}
    for name, fn in sorted(registry.queries().items()):
        df = fn(spark, SF0001)
        bad = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName().startswith("decimal")
        ]
        if bad:
            violations[name] = bad
    assert not violations, (
        "driver-unhashable DecimalType output columns (emit via "
        f"dec_str/dec_sum_str instead): {violations}"
    )
