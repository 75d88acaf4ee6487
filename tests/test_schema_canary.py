"""Type-drift canary: the engine-facing (normalized) schema of every testdata
table, pinned.

Round 4 regressed 5 correctness slots, 1 pytest, and the whole bench because
the driver's testdata regeneration silently changed events.ts from
TIMESTAMP(NANOS) to us-precision TIMESTAMP_NTZ while the engine still assumed
the old layout. These tests fail loudly — in whichever direction the drift
goes — the moment the files and the normalization disagree:

- every table's post-``load_table`` schema must match the pinned engine-facing
  schema (events.ts == TimestampType after normalization, never NTZ or long);
- the streaming source's first row must round-trip to the SAME instant as the
  batch read (catches a stream schema that type-checks but mis-scales values,
  e.g. r4's declared-LONG schema reading raw microseconds then dividing by
  1000 and landing everything in 1970).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
    TABLES,
    load_table,
)
from tests.conftest import SF0001

#: Engine-facing (normalized) column dtypes per table — the OBSERVED layout of
#: the 2026-08 testdata generation after ``load_table`` normalization, pinned
#: verbatim. ``load_table`` output must match EXACTLY: a regeneration that
#: changes a physical type the normalization doesn't absorb fails here first,
#: not three layers deep in a digest suite. o_orderdate / l_shipdate read as
#: timestamp_ntz and are left that way on purpose: every consumer compares /
#: truncates them calendar-wise (DuckDB's naive timestamps agree) and
#: digest.py casts defensively; events.ts by contrast feeds epoch arithmetic
#: (unix_micros) and MUST be session-TZ TimestampType post-normalization.
EXPECTED_DTYPES = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",  # NEVER timestamp_ntz or bigint post-normalization
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
}

assert set(EXPECTED_DTYPES) == set(TABLES)


@pytest.mark.parametrize("table", TABLES)
def test_normalized_schema_pinned(spark, table):
    got = dict(load_table(spark, SF0001, table).dtypes)
    assert got == EXPECTED_DTYPES[table], (
        f"{table}: engine-facing schema drifted — got {got}"
    )


@pytest.mark.parametrize(
    "sf_dir",
    [d for d in ("sf0.001", "sf0.01", "sf0.1") if Path(f"/root/testdata/{d}").is_dir()],
)
def test_events_ts_values_are_sane(spark, sf_dir):
    """Value-level canary at EVERY shipped scale factor (a regeneration can
    drift one SF and not another): a scaling bug (ns read as us, or vice
    versa) moves every timestamp ~1000x — out of any plausible window."""
    df = load_table(spark, f"/root/testdata/{sf_dir}", "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    bounds = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert bounds.lo.year >= 2000, f"{sf_dir} events.ts min {bounds.lo} — scale bug (1970 = us read as ns)"
    assert bounds.hi.year <= 2100, f"{sf_dir} events.ts max {bounds.hi} — scale bug (us read as ms/s)"


def test_stream_batch_ts_roundtrip(spark):
    """The streaming source must yield the SAME instants as the batch read.
    Compares min/max/count of ts across both paths — catches any stream
    schema/rebuild combination that type-checks but shifts values."""
    from e_commerce_data_warehouse_recommendation_system_spark.streaming.queries import (
        _events_stream,
    )

    tmp = tempfile.mkdtemp(prefix="ecomdw_canary_")
    try:
        stream = _events_stream(spark, SF0001, f"{tmp}/landing")
        assert dict(stream.dtypes)["ts"] == "timestamp"
        out = f"{tmp}/out"
        (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        probe = [F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi")]
        got = spark.read.parquet(out).agg(*probe).collect()[0]
        want = load_table(spark, SF0001, "events").agg(*probe).collect()[0]
        assert (got.n, got.lo, got.hi) == (want.n, want.lo, want.hi), (
            f"stream/batch ts disagree: stream={got}, batch={want}"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
