"""DuckDB-side oracle schema canary.

Two rounds of correctness reds were engine-vs-oracle TYPE drifts, not value
bugs: r3's DuckDB ``SUM(BIGINT)`` silently widening to HUGEINT (int128 —
needs ``CAST(... AS BIGINT)``), and r4's events.ts physical-layout change
(ns vs µs instants). tests/test_schema_canary.py pins the Spark-facing
side; this file pins the ORACLE side: every registered oracle and every
component oracle is DESCRIBEd in DuckDB and its result columns must stay
inside the portable type set the cross-engine comparator actually
normalizes correctly. An added oracle with a missing cast (SUM int,
DECIMAL literal arithmetic, ns timestamps) fails HERE, in seconds and
without Spark, before the driver ever sees it.

The canary also asserts the drift MECHANISMS still exist (SUM(int) ->
HUGEINT, bare 1.0 literal -> DECIMAL) so a DuckDB behavior change that
silently retires a rule is itself visible.
"""

from __future__ import annotations

import duckdb
import pytest

from e_commerce_data_warehouse_recommendation_system_spark import registry
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import TABLES
from tests.conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow

#: Result types the driver's comparator round-trips losslessly: exact ints
#: that fit int64, IEEE floats, strings, booleans, dates, and µs
#: timestamps. Everything else (HUGEINT, TIMESTAMP_NS,
#: TIMESTAMP WITH TIME ZONE, INTERVAL, nested types) has engine-specific
#: normalization and MUST be cast inside the oracle SQL.
#:
#: DECIMAL(p,s) joined the portable set in round 7 — deliberately: casting
#: a wide decimal sum to DOUBLE is what diverges (1 ulp above 2^53, the
#: r6 red + the q_revenue_rollup near-miss), while the DECIMAL itself
#: crosses bit-identically (probed, and verified by two full bit-exact
#: 50/50 sweeps). Both engines emit SUM(DECIMAL(28,s)) as DECIMAL(38,s),
#: and Python compares Decimal values numerically (scale-insensitively).
#: CAVEAT the canary cannot see: decimal ARITHMETIC that overflows
#: precision 38 makes Spark reduce scale AND ROUND where DuckDB keeps the
#: scale (probed on subtraction) — ± on two DECIMAL(38,s) operands must
#: down-cast them first (see q_dashboard_yoy); never divide decimals
#: cross-engine (scale-inference rules differ — use dec_avg_exact).
ALLOWED = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT", "DOUBLE",
           "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP"}

_DECIMAL_RE = __import__("re").compile(r"^DECIMAL\(\d+,\d+\)$")


def _portable(typ: str) -> bool:
    return typ in ALLOWED or bool(_DECIMAL_RE.match(typ))


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF0001}/{t}.parquet'")
    return c


def _all_oracles():
    items = list(registry.oracles().items())
    items += [
        (f"component:{n}", comp.oracle)
        for n, comp in registry.components().items()
        if comp.oracle is not None
    ]
    return items


def test_every_oracle_returns_portable_types(con):
    offenders = []
    for name, sql in _all_oracles():
        for col, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall():
            if not _portable(typ):
                offenders.append((name, col, typ))
    assert not offenders, (
        "oracle columns with non-portable DuckDB types (add a CAST in the "
        f"oracle SQL): {offenders}"
    )


def test_drift_mechanisms_still_real(con):
    """One representative per drift family, asserted on raw DuckDB — if an
    engine upgrade changes these, the ALLOWED set needs re-review."""
    # r3 family: SUM over integers widens to HUGEINT without a cast
    (t_sum,) = [
        r[1] for r in con.execute("DESCRIBE SELECT SUM(r_regionkey) AS s FROM region").fetchall()
    ]
    assert t_sum == "HUGEINT"
    (t_cast,) = [
        r[1]
        for r in con.execute(
            "DESCRIBE SELECT CAST(SUM(r_regionkey) AS BIGINT) AS s FROM region"
        ).fetchall()
    ]
    assert t_cast == "BIGINT"
    # decimal-literal family: bare numeric literals are DECIMAL, not DOUBLE
    (t_lit,) = [r[1] for r in con.execute("DESCRIBE SELECT 1.0 AS x").fetchall()]
    assert t_lit.startswith("DECIMAL")
    # r4 family: the events.ts view must read as a µs TIMESTAMP (any ns or
    # tz-typed regeneration of the testdata shows up here)
    (t_ts,) = [
        r[1] for r in con.execute("DESCRIBE SELECT ts FROM events LIMIT 0").fetchall()
    ]
    assert t_ts in ("TIMESTAMP", "TIMESTAMP_NS"), t_ts
    if t_ts == "TIMESTAMP_NS":
        # ns physical layout is fine ONLY because every ts-digest goes
        # through epoch_us(); a bare `SELECT ts` oracle would drift. Assert
        # the normalizing expression stays µs-typed.
        (t_us,) = [
            r[1]
            for r in con.execute("DESCRIBE SELECT epoch_us(ts) AS u FROM events LIMIT 0").fetchall()
        ]
        assert t_us == "BIGINT"


def test_num_digest_columns_are_scale6_exact(con):
    """The `num` digest sums through DECIMAL(38,6). The scale-6 cast is
    engine-divergent for values with MORE than 6 fractional digits: Spark
    rounds HALF_UP on a decimal downcast while DuckDB TRUNCATES toward
    zero (probed round 7 — '1.1234565' becomes 1.123457 vs 1.123456).
    Every component column declared kind 'num' must therefore hold values
    exactly representable at scale 6 (integers, counts, micro-units,
    money at <=6 dp). The exact decimal round-trip also rejects the other
    misuse: a raw DOUBLE column declared 'num' instead of 'dbl'. (NOT
    round(col,6): DuckDB's round scales through DOUBLE and is itself
    inexact for epoch-µs-sized integers.) Evaluated on the DuckDB side
    only — the cross-engine value hash already proves the Spark side
    equals the oracle."""
    offenders = []
    for name, comp in registry.components().items():
        if comp.oracle is None:
            continue
        for col, kind in comp.cols:
            if kind != "num":
                continue
            bad = con.execute(
                f"SELECT COUNT(*) FROM ({comp.oracle}) _t "
                f"WHERE _t.{col} <> CAST(_t.{col} AS DECIMAL(38,6))"
            ).fetchone()[0]
            if bad:
                offenders.append((name, col, bad))
    assert not offenders, (
        "num-digest columns with >6 fractional digits (DuckDB truncates "
        f"where Spark rounds — use 'dbl' or widen the digest): {offenders}"
    )
