"""Pin Spark's session_window boundary semantics at the EXACT gap tie.

Round 6 asserted (but never tested) that an event exactly ``gap`` after its
predecessor starts a new session (``>=`` in the oracles) and that append
mode emits a session once ``watermark >= session_end``. Round-7 probes with
constructed tie events showed BOTH claims wrong:

- merge rule (the claim that was WRONG): Spark merges session ranges when
  ``next_start <= prev_end`` (prev_end = prev_ts + gap), so a gap-exact
  follower MERGES — a new session starts only at ``> gap``;
- finalization (the claim that was RIGHT): append mode emits a session
  whose end exactly equals the final watermark — ``watermark >= end``,
  inclusive.

Real µs-resolution event data has no exact ties (measure-zero), which is
why the wrong boundary never flipped a driver row; these tests construct
the tie so the oracles' ``>`` predicates stay honest. Both the batch
component (plans/queries.session_window_native) and the streaming one
(streaming/queries.stream_session_window_native) are exercised through
their REGISTERED fn + oracle pair on the same constructed events table —
engine and oracle must agree with each other and with the pinned truth.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest

from conftest import SF0001

# full-gate lane: multi-minute property/identity/streaming work (see pytest.ini)
pytestmark = pytest.mark.slow

GAP_US = 30 * 60 * 1_000_000
BASE = 1_704_067_200_000_000  # 2024-01-01 epoch µs

#: constructed events: (event_id, ts_us, user_id)
#: user 10 — tie pair ending at the global max event time: MERGED (one
#:           session, end = max_ts + gap > watermark) and therefore held —
#:           had ``>= gap`` split it, the [t1, t1+gap) half WOULD have been
#:           emitted, so user 10's absence pins the merge boundary.
#: user 20 — one old event: plain emitted singleton.
#: user 30 — tie pair long before the max: merged (n=2) AND emitted, which
#:           pins the merge boundary inside the streaming OUTPUT too.
#: user 40 — one event exactly gap before the max: its session end EQUALS
#:           the final watermark — the exact finalization tie. Spark EMITS
#:           it (finalization is inclusive: watermark >= end); a strict
#:           ``>`` finalization oracle would wrongly claim it held.
_T1 = BASE + 20 * GAP_US
_EVENTS = [
    (1, _T1, 10),
    (2, _T1 + GAP_US, 10),  # exactly gap after -> merges
    (3, BASE + 10 * GAP_US, 20),
    (4, BASE, 30),
    (5, BASE + GAP_US, 30),  # exactly gap after -> merges
    (6, _T1, 40),  # session end = _T1 + gap == max ts == final watermark
]
_MAX_TS = max(t for _, t, _ in _EVENTS)
assert _MAX_TS == _T1 + GAP_US


@pytest.fixture(scope="module")
def tie_sf_dir(spark):
    """A synthetic sf-dir: every table symlinked from sf0.001 except
    events, which carries the constructed tie rows — so the REAL component
    functions (which prepare() all views) run unmodified."""
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="ecomdw_tie_sf_")
    for f in os.listdir(SF0001):
        if f != "events.parquet":
            os.symlink(f"{SF0001}/{f}", f"{tmp}/{f}")
    (
        spark.createDataFrame(
            [(e, t, u) for e, t, u in _EVENTS], "event_id long, tus long, user_id long"
        )
        .select(
            "event_id",
            F.timestamp_micros(F.col("tus")).alias("ts"),
            "user_id",
            F.lit("click").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{tmp}/_events_dir")
    )
    # flatten to a single file like the shipped testdata (DuckDB's oracle
    # view and the streaming symlink both expect a plain file path)
    part = next(
        f for f in os.listdir(f"{tmp}/_events_dir") if f.endswith(".parquet")
    )
    os.rename(f"{tmp}/_events_dir/{part}", f"{tmp}/events.parquet")
    shutil.rmtree(f"{tmp}/_events_dir", ignore_errors=True)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _oracle_rows(name: str, sf_dir: str):
    from e_commerce_data_warehouse_recommendation_system_spark import registry
    from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    comp = registry.components().get(name)
    oracle = comp.oracle if comp is not None else registry.oracles()[name]
    return sorted(tuple(r) for r in con.execute(oracle).fetchall())


def test_batch_session_window_gap_exact_pair_merges(spark, tie_sf_dir):
    from e_commerce_data_warehouse_recommendation_system_spark.plans.queries import (
        session_window_native,
    )

    got = sorted(
        (r.user_id, r.session_start_us, r.n_events_s)
        for r in session_window_native(spark, tie_sf_dir).collect()
    )
    want = [
        (10, _T1, 2),  # MERGED at the exact tie — not two sessions
        (20, BASE + 10 * GAP_US, 1),
        (30, BASE, 2),  # merged too
        (40, _T1, 1),  # batch has no watermark: every session is visible
    ]
    assert got == want
    assert _oracle_rows("session_window_native", tie_sf_dir) == want


def test_stream_session_window_tie_holds_at_final_watermark(spark, tie_sf_dir):
    from e_commerce_data_warehouse_recommendation_system_spark.streaming.queries import (
        stream_session_window_native,
    )

    got = sorted(
        (r.user_id, r.session_start_us, r.n_events_s)
        for r in stream_session_window_native(spark, tie_sf_dir).collect()
    )
    # user 10's merged session ends at max_ts + gap > final watermark
    # (= max_ts) -> held; and critically, the tie pair did NOT split into a
    # [t1, t1+gap) session (which WOULD have been emitted had `>= gap`
    # started a new session) — user 10 must be entirely absent.
    # user 40's session end == the final watermark exactly -> EMITTED
    # (inclusive finalization).
    want = [
        (20, BASE + 10 * GAP_US, 1),
        (30, BASE, 2),  # merged pair, finalized long before the watermark
        (40, _T1, 1),  # end == watermark: the inclusive-finalization pin
    ]
    assert got == want
    assert _oracle_rows("stream_session_window_native", tie_sf_dir) == want
