"""Structured Streaming incremental ingest (SURVEY.md §2.12).

The reference's closest thing to a stream is a daily Airflow micro-batch
(reference: dags/e_commerce_dw_dag.py:32 ``timedelta(days=1)``) plus an
incremental timestamp-filtered extract that appends to staging
(reference: dags/extract_data.py:94-145). Spark-first replacement:
``readStream`` file source over the events table, event-time watermark,
1-day tumbling window, ``Trigger.AvailableNow`` (process-everything-then-
stop — the exact semantics of a scheduled catch-up run), and a
``foreachBatch`` sink that MERGEs each micro-batch into the target with the
join-based upsert (sources/writers.upsert) — the reference's
``ON DUPLICATE KEY UPDATE`` load (reference: plugins/mysql_operator.py:28-59).

Because ``AvailableNow`` drains the source completely and the upsert is
keyed, the terminal state is deterministic — so both streaming queries have
full DuckDB oracles (the batch twin of the windowed agg is
plans/queries.q_event_daily_window), not just rows-only checks.

Scale posture: the streaming agg keeps only open windows in state (watermark
bounds it); foreachBatch upsert shuffles on the merge key; checkpointing
gives exactly-once over source files. At 100 TB this is the continuous-
ingest path: swap the file source for Kafka and nothing downstream changes.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_data_warehouse_recommendation_system_spark.functions.scalar import dec_sum_exact
from e_commerce_data_warehouse_recommendation_system_spark.registry import component, register
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
    normalize_event_ts,
    prepare,
)
from e_commerce_data_warehouse_recommendation_system_spark.sources.writers import (
    null_key_audit,
    parquet_target_exists,
    upsert,
    wap_publish,
    wap_read,
)

def _fold_committed(out: str) -> bool:
    """At-least-once replay guard for versioned foreachBatch folds (r13
    ADVICE, medium): a version directory EXISTING is not "batch committed"
    — a crash mid ``write.parquet(out)`` leaves the directory behind
    without the ``_SUCCESS`` marker, and treating it as committed would
    re-point state at a partial/corrupt version that every later batch
    then folds on. Committed = ``_SUCCESS`` present. A partial directory
    is removed here so the replay re-folds cleanly (the errorifexists
    write would otherwise crash on the leftovers)."""
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return True
    if os.path.exists(out):
        shutil.rmtree(out)
    return False


def _latest_committed_version(root: str, batch_id: int) -> str | None:
    """Base state for an incremental fold: the highest COMMITTED
    (``_SUCCESS``-marked) version below ``batch_id``, read from the store
    rather than the in-memory pointer — correct across a process restart
    resuming from the stream checkpoint, and immune to partial directories
    a crashed writer left behind (same contract as _fold_committed)."""
    prior = sorted(
        int(d[1:])
        for d in os.listdir(root)
        if d.startswith("v")
        and d[1:].isdigit()
        and int(d[1:]) < batch_id
        and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )
    return f"{root}/v{prior[-1]}" if prior else None


def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    """File-source schema for the events landing directory, parameterized by
    the physical ts type the files actually carry (see _events_ts_layout)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_ts_layout(spark: SparkSession, landing_path: str):
    """Probe the landing files' ACTUAL ts layout with a one-footer batch read
    and return ``(stream_schema, normalize)``. Streaming sources need a
    declared schema up front, and hard-coding it rots when the testdata
    regenerates (r4: TIMESTAMP(NANOS) -> TIMESTAMP_NTZ(MICROS) silently made
    a declared-LONG schema read raw MICROseconds, and the ns -> us rebuild
    then landed every event in Jan 1970). Branch on what the files say:

    - batch reads ``bigint``        -> nanos-as-long: declare LONG, rebuild
      via ``timestamp_micros(ts DIV 1000)`` (exact ns -> us truncation);
    - batch reads ``timestamp_ntz`` -> declare TimestampNTZType and cast to
      session-TZ TIMESTAMP (TZ pinned UTC, so the cast is value-preserving);
    - batch reads ``timestamp``     -> declare TimestampType, no rebuild.

    The probe is one parquet footer read per stream setup — noise next to
    starting a streaming query, and on a real deployment the landing dir's
    layout is stable so the result could be cached per path.

    The returned normalizer IS readers.normalize_event_ts — one
    implementation of the rebuild for batch and stream, so the two paths
    cannot drift apart again (it branches on the OBSERVED dtype, which for
    a stream is the declared schema chosen here)."""
    # public base class: catches both classic and Spark Connect variants
    from pyspark.errors import AnalysisException

    try:
        dt = dict(spark.read.parquet(landing_path).dtypes).get("ts")
    except AnalysisException as exc:
        # Empty landing directory: no footer to probe. GUESSING a layout
        # here is the failure mode the probe exists to prevent — a
        # nanos-as-long producer that drops files after setup would fail
        # mid-stream, far from the cause (or worse, silently misread
        # instants). Fail fast at setup instead: every engine path links
        # at least one file into the landing dir before probing, and an
        # external caller must do the same.
        raise ValueError(
            f"events landing dir {landing_path!r} has no readable parquet to "
            "probe the ts layout from; drop at least one file before stream "
            "setup (the declared stream schema must match the files' "
            "physical ts type — it cannot be guessed safely)"
        ) from exc
    if dt == "bigint":
        ts_type: T.DataType = T.LongType()
    elif dt == "timestamp_ntz":
        ts_type = T.TimestampNTZType()
    else:
        ts_type = T.TimestampType()
    return _events_stream_schema(ts_type), normalize_event_ts


def _events_stream(spark: SparkSession, sf_dir: str, stage_dir: str) -> DataFrame:
    """File-source stream over the events table. The file source requires a
    DIRECTORY (its basePath); the testdata ships a single parquet file, so
    it is symlinked into ``stage_dir`` — on a real deployment this is the
    landing directory new files continuously arrive in.

    No maxFilesPerTrigger: AvailableNow drains the source in one batch so
    the watermark never classifies an out-of-order *file* as late (the
    oracle is the complete batch aggregate)."""
    import os

    os.makedirs(stage_dir, exist_ok=True)
    link = f"{stage_dir}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir.rstrip('/')}/events.parquet", link)
    schema, normalize = _events_ts_layout(spark, stage_dir)
    return normalize(spark.readStream.schema(schema).parquet(stage_dir))


def _run_foreach_batch_upsert(
    stream_df: DataFrame,
    keys: list[str],
    out_dir: str,
    checkpoint: str,
    partition_col: str | None = None,
) -> None:
    """Drain the stream with AvailableNow, merging every micro-batch into
    ``out_dir`` by key. Batch 0 bootstraps the target.

    Scale behavior: with ``partition_col`` set, the target is written
    PARTITIONED by that column and each micro-batch rewrites only the
    partitions it touches — read old rows pruned to the batch's partition
    values, merge, write with dynamic partitionOverwriteMode. Merge work is
    O(|touched partitions|) instead of O(|target|): at 100 TB of
    accumulated state a late-arriving day rewrites one day's partition, not
    the table (the Delta/Iceberg MERGE pattern on plain parquet). The
    touched-partition values are collected per batch — partition METADATA,
    bounded by distinct windows/dates per micro-batch, never data rows."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # upsert (like SQL MERGE) requires a key-unique source; a micro-batch
        # can legitimately carry the same key twice (e.g. replayed files in
        # one trigger), so collapse within-batch duplicates first
        batch_df = batch_df.dropDuplicates(keys)
        exists = parquet_target_exists(out_dir)
        if partition_col is None:
            old = spark.read.parquet(out_dir) if exists else None
            merged = batch_df if old is None else upsert(old, batch_df, keys)
            # localCheckpoint breaks the lineage back to the target files
            # being overwritten (read-then-overwrite of the same path is
            # otherwise a self-referencing plan). Only needed when the merge
            # actually read the target — the bootstrap batch writes straight
            # through without the extra materialization pass.
            if old is not None:
                merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(out_dir)
            return
        touched = [
            r[0] for r in batch_df.select(partition_col).distinct().collect()
        ]
        # isin(touched) can never match NULL, so a NULL partition value would
        # silently exclude old NULL-partition rows from the merge read while
        # the batch still writes __HIVE_DEFAULT_PARTITION__ — duplicate keys
        # across batches. Enforce the non-null contract instead of corrupting.
        if any(v is None for v in touched):
            raise ValueError(
                f"partition column {partition_col!r} contains NULL in a "
                "micro-batch; partition-scoped upsert requires non-null "
                "partition values (derive a sentinel bucket upstream)"
            )
        if exists and touched:
            # partition pruning: only the touched partitions are ever read
            old = spark.read.parquet(out_dir).filter(
                F.col(partition_col).isin(touched)
            )
            # lineage reads the files being overwritten -> must materialize
            merged = upsert(old, batch_df, keys).localCheckpoint(eager=True)
        else:
            merged = batch_df  # bootstrap: no self-reference, no checkpoint
        (
            merged
            # co-locate each partition value into one task before the
            # partitioned write: without this every shuffle task emits a
            # file per value it holds (tasks x values small files); with it
            # the file count is O(touched partition values)
            .repartition(F.col(partition_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(out_dir)
        )

    (
        stream_df.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


@register(
    "stream_event_daily_upsert",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,8))) AS VARCHAR) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_event_daily_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 headline: watermarked 1-day tumbling-window aggregation,
    update-mode foreachBatch upsert keyed on (window_start, event_type).
    Terminal state after AvailableNow == the batch aggregate, so the oracle
    is q_event_daily_window's SQL verbatim."""
    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_stream_")
    events = _events_stream(spark, sf_dir, f"{tmp}/landing")
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum_exact("value").alias("total_value"),
        )
        .select(
            F.col("window.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    try:
        out = f"{tmp}/daily_agg"
        # target partitioned by window_start: each micro-batch overwrites
        # only the day-partitions it touches (late data = one day rewritten)
        _run_foreach_batch_upsert(
            agg,
            ["window_start", "event_type"],
            out,
            f"{tmp}/ckpt",
            partition_col="window_start",
        )
        # Materialize the terminal state before the temp dir disappears; the
        # partition column round-trips through directory names, so pin its
        # type and the original column order explicitly. The exact decimal
        # stays a DECIMAL(38,8) through the parquet sink (replace-by-key
        # upsert, no re-aggregation); only the driver emission is the
        # scale-pinned string (see functions/scalar.dec_str).
        result = (
            spark.read.parquet(out)
            .select(
                F.col("window_start").cast("date").alias("window_start"),
                "event_type",
                "n_events",
                F.col("total_value").cast("string").alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


from e_commerce_data_warehouse_recommendation_system_spark.plans.queries import (  # noqa: E402
    SESSION_GAP_US,
    _SESSIONIZE_ORACLE,
)


@register(
    "stream_sessionize_stateful",
    # identical oracle to q_sessionize, imported (not duplicated) so fixes
    # like the epoch_us truncation and the BIGINT cast land in one place
    oracle=_SESSIONIZE_ORACLE,
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    per-user sessionization with a 30-minute inactivity gap. State carries
    (last_ts, n_sessions, n_events) across micro-batches; each batch's
    update is upserted by user_id, so after AvailableNow drains the source
    the terminal state equals the batch gap-island computation — the oracle
    is plans/queries.q_sessionize's SQL verbatim.

    This is the engine's template for operators Structured Streaming lacks
    natively: Arrow-batched per-key Python state, parallel across keys,
    bounded state per key (three scalars)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_stream_")
    events = _events_stream(spark, sf_dir, f"{tmp}/landing").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )

    gap = SESSION_GAP_US

    def sessionize(key, pdfs, state):
        import pandas as pd

        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        for ts in batch["ts_us"]:
            ts = int(ts)
            if last_ts is None or ts - last_ts > gap:
                n_sessions += 1
            n_events += 1
            last_ts = ts
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    sessions = events.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id bigint, n_sessions bigint, n_events bigint",
        stateStructType="last_ts bigint, n_sessions bigint, n_events bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    try:
        out = f"{tmp}/sessions"
        # user_id has no natural time partition; a stable hash bucket bounds
        # each batch's rewrite to the buckets its users fall in
        bucketed = sessions.withColumn("_bucket", F.pmod("user_id", F.lit(16)))
        _run_foreach_batch_upsert(
            bucketed, ["user_id"], out, f"{tmp}/ckpt", partition_col="_bucket"
        )
        result = (
            spark.read.parquet(out)
            .select("user_id", "n_sessions", "n_events")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "stream_incremental_ingest",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-as-a-stream: raw incremental ingest with exactly-once upsert on
    event_id (the reference's daily extract-append,
    reference: dags/extract_data.py:94-145, made continuous). The registered
    result is the ingested table's per-type profile — deterministic, so
    fully oracle-checked."""
    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_stream_")
    events = _events_stream(spark, sf_dir, f"{tmp}/landing")
    try:
        out = f"{tmp}/events_ingested"
        # raw ingest partitions by event date — the landing layout every
        # downstream incremental read prunes on
        dated = events.withColumn("_event_date", F.col("ts").cast("date"))
        _run_foreach_batch_upsert(
            dated, ["event_id"], out, f"{tmp}/ckpt", partition_col="_event_date"
        )
        result = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


# the SAME 5-minute proximity window as the batch range join — imported,
# not duplicated, so tuning one cannot silently break the batch/stream twin
from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (  # noqa: E402
    RANGE_JOIN_WINDOW_S as STREAM_JOIN_WINDOW_S,
)


@component(
    "stream_pairs_range_join",
    cols=[("event_a", "num"), ("event_b", "num"), ("user_id", "num")],
    # raw-microsecond symmetric bound — the exact semantics of the streaming
    # join condition below (epoch_us == Spark's ns->us truncation)
    oracle=f"""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id AS user_id
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - {STREAM_JOIN_WINDOW_S * 1_000_000}
                            AND epoch_us(a.ts) + {STREAM_JOIN_WINDOW_S * 1_000_000}
    """,
)
def stream_stream_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join: pairs of same-user events within
    5 minutes, computed BY THE STREAMING ENGINE — the continuous twin of
    the batch range join (operators/relational.j_range_binned).

    Both sides carry a watermark; the join condition bounds b.ts to
    [a.ts - 5 min, a.ts + 5 min], so state for each side is dropped once
    the other side's watermark passes the bound — bounded state at
    100 TB/day, the whole point of the time-bound form (an
    unbounded-condition stream-stream join would buffer forever). The
    SYMMETRIC two-sided bound plus ``a.event_id < b.event_id`` emits each
    unordered pair exactly once with no assumption that event ids ascend
    with event time — the same condition as the batch twin, so sources
    with non-monotonic ids are handled identically. AvailableNow drains
    the source, so the terminal output equals the batch inner join —
    asserted in tests/test_streaming_join.py.
    """
    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_stream_")
    try:
        a = (
            _events_stream(spark, sf_dir, f"{tmp}/landing")
            .select("event_id", "user_id", "ts")
            .withWatermark("ts", "10 minutes")
            .alias("a")
        )
        b = (
            _events_stream(spark, sf_dir, f"{tmp}/landing")
            .select("event_id", "user_id", "ts")
            .withWatermark("ts", "10 minutes")
            .alias("b")
        )
        pairs = a.join(
            b,
            F.expr(
                f"""
                a.user_id = b.user_id
                AND a.event_id < b.event_id
                AND b.ts >= a.ts - interval {STREAM_JOIN_WINDOW_S} seconds
                AND b.ts <= a.ts + interval {STREAM_JOIN_WINDOW_S} seconds
                """
            ),
        ).select(
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            F.col("a.user_id").alias("user_id"),
        )
        out = f"{tmp}/pairs"
        (
            pairs.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_dedup_events(spark: SparkSession, sf_dir: str, stage_dir: str, out_dir: str, checkpoint: str) -> None:
    """Streaming deduplication: ``dropDuplicatesWithinWatermark`` on
    event_id — the at-least-once -> exactly-once repair stage for sources
    that can replay (Kafka redelivery, file re-drops). Unlike plain
    ``dropDuplicates`` (whose key state grows forever), the watermark bound
    lets the engine expire dedup state once event time passes — bounded
    state on an unbounded stream. The landing directory may contain the
    same records any number of times; the sink sees each event_id once per
    watermark window. Asserted against the distinct batch count in
    tests/test_streaming_dedup.py."""
    schema, normalize = _events_ts_layout(spark, stage_dir)
    events = (
        normalize(spark.readStream.schema(schema).parquet(stage_dir))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    (
        events.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_enrich_events(spark: SparkSession, sf_dir: str, stage_dir: str, out_dir: str, checkpoint: str) -> None:
    """Stream-static enrichment join: the event stream joined to the static
    customer dimension (user -> market segment) — the standard streaming
    dimension-lookup pattern. The static side is a bounded dim, so Catalyst
    plans a broadcast hash join against every micro-batch; no stream state
    is kept at all (unlike stream-stream joins). At 100 TB/day of events
    the dim refreshes by swapping the static table between restarts (or a
    foreachBatch re-read for slowly changing dims). Asserted equal to the
    batch join in tests/test_streaming_enrich.py."""
    customer = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    schema, normalize = _events_ts_layout(spark, stage_dir)
    events = (
        normalize(spark.readStream.schema(schema).parquet(stage_dir))
        .select("event_id", "user_id", "event_type", "value")
    )
    enriched = events.join(F.broadcast(customer), "user_id", "left")
    (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# --------------------------------------------------------------------------
# Driver-visible component wrappers for the e2e-only streaming ops. Under
# Trigger.AvailableNow each terminal state is deterministic, so all three
# carry FULL-RESULT DuckDB oracles and surface on the scoreboard as digest
# rows inside existing suites (suites.SUITE_SPECS) — previously they were
# pytest-only (VERDICT r3 item 6).
# --------------------------------------------------------------------------


@component(
    "stream_dedup_replay",
    cols=[
        ("event_id", "num"),
        ("ts", "ts"),
        ("user_id", "num"),
        ("event_type", "str"),
        ("value", "dbl"),
    ],
    # the landing dir carries every event TWICE (file replay); the
    # watermarked dedup must restore exactly-once, i.e. the events table
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup under at-least-once replay: the same source file is
    dropped into the landing directory twice (a redelivered Kafka batch / a
    re-dropped file), and ``dropDuplicatesWithinWatermark`` on event_id must
    emit each event exactly once — the terminal sink equals the events table
    itself, which is the oracle."""
    import os

    tmp = tempfile.mkdtemp(prefix="ecomdw_stream_")
    stage = f"{tmp}/landing"
    os.makedirs(stage)
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    os.symlink(src, f"{stage}/events.parquet")
    os.symlink(src, f"{stage}/events_replay.parquet")
    try:
        out = f"{tmp}/deduped"
        stream_dedup_events(spark, sf_dir, stage, out, f"{tmp}/ckpt")
        return (
            spark.read.parquet(out)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@component(
    "stream_enrich_segments",
    cols=[
        ("event_id", "num"),
        ("user_id", "num"),
        ("event_type", "str"),
        ("value", "dbl"),
        ("segment", "str"),
    ],
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment AS segment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_enrich_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment, driver-visible form: every
    micro-batch broadcast-joins the static customer dim; the drained sink
    equals the batch left join, which is the oracle."""
    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_stream_")
    stage = f"{tmp}/landing"
    import os

    os.makedirs(stage)
    os.symlink(f"{sf_dir.rstrip('/')}/events.parquet", f"{stage}/events.parquet")
    try:
        out = f"{tmp}/enriched"
        stream_enrich_events(spark, sf_dir, stage, out, f"{tmp}/ckpt")
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Streaming write-audit-publish: quality-gated micro-batch snapshots
# --------------------------------------------------------------------------


@component(
    "stream_wap_publish",
    cols=[("metric", "str"), ("value_num", "num")],
    oracle="""
    SELECT 'n_batches' AS metric, CAST(3 AS BIGINT) AS value_num
    UNION ALL SELECT 'n_published', CAST(2 AS BIGINT)
    UNION ALL SELECT 'n_rejected', CAST(1 AS BIGINT)
    UNION ALL SELECT 'reader_rows',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id % 3 <> 1)
    """,
)
def stream_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming write-audit-publish: every micro-batch stages a NEW table
    snapshot (previous published rows + the batch), audits the staged
    files, and atomically flips the manifest only on a pass — continuous
    ingestion where readers can only ever see audited snapshots
    (writers.wap_publish under a foreachBatch sink; the streaming analog
    of wr_wap_publish).

    The landing dir is staged as three files keyed by user_id % 3
    (deterministic per-file content; maxFilesPerTrigger=1 -> exactly three
    micro-batches in some order). Shard 1 simulates a broken upstream
    producer — its event_ids arrive NULL — so its batch FAILS the
    null-key audit and is never published, while the other two shards
    flow through. Terminal state: 2 published versions, 1 rejected, and
    the reader sees exactly the clean shards' events — whatever order the
    three batches ran in (the digest is order-independent by
    construction, which is what makes a streaming WAP oracle-checkable).

    Scale: each snapshot stage is a distributed write; the audit is one
    bounded aggregate over the staged files; the manifest flip is O(1).
    Snapshot-per-batch rewrites the table each trigger — the pattern fits
    slowly-growing reference tables (the partition-scoped upsert sink
    covers high-volume facts); on a table format the same gate becomes
    stage-to-branch + audit + fast-forward (Iceberg WAP)."""
    import os

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_swap_")
    stage = f"{tmp}/landing"
    os.makedirs(stage)
    ev = spark.table("events").withColumn(
        "shard", (F.col("user_id") % 3).cast("int")
    )
    # stage three deterministic shard files; shard 1's keys are nulled at
    # the SOURCE (the corruption arrives with the data, not in the engine)
    corrupted = ev.withColumn(
        "event_id",
        F.when(F.col("shard") == 1, F.lit(None).cast("long")).otherwise(
            F.col("event_id")
        ),
    )
    for b in range(3):
        shard_dir = f"{tmp}/shard{b}"
        corrupted.filter(F.col("shard") == b).coalesce(1).write.parquet(shard_dir)
        part = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")][0]
        os.symlink(f"{shard_dir}/{part}", f"{stage}/shard{b}.parquet")

    root = f"{tmp}/table"
    os.makedirs(root)
    stats = {"published": 0, "rejected": 0, "batches": 0}
    audit = null_key_audit("event_id")

    def publish_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        stats["batches"] += 1
        try:
            current = wap_read(sp, root)
            snapshot = current.unionByName(batch_df).localCheckpoint(eager=True)
        except FileNotFoundError:
            snapshot = batch_df
        if wap_publish(sp, root, snapshot, str(batch_id), audit):
            stats["published"] += 1
        else:
            stats["rejected"] += 1

    schema = spark.read.parquet(stage).schema
    try:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(publish_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        reader_rows = wap_read(spark, root).count()
        rows = [
            ("n_batches", stats["batches"]),
            ("n_published", stats["published"]),
            ("n_rejected", stats["rejected"]),
            ("reader_rows", reader_rows),
        ]
        return spark.createDataFrame(rows, schema="metric string, value_num bigint")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Native streaming session_window (built-in twin of the stateful sessionizer)
# --------------------------------------------------------------------------


@component(
    "stream_session_window_native",
    cols=[("user_id", "num"), ("session_start_us", "num"), ("n_events_s", "num")],
    # batch session_window semantics RESTRICTED to watermark-finalized
    # sessions. Both boundaries PROBED with constructed exact-tie events
    # (round 7, tests/test_session_boundary.py):
    #   * merge rule: an event exactly gap-separated MERGES (Spark merges
    #     on next_start <= prev_end), so a new session starts only at
    #     ``> gap`` — consistent with q_sessionize and the stateful
    #     sessionizer;
    #   * finalization: append mode emits a session once the watermark
    #     REACHES its end — a session whose end exactly equals the final
    #     watermark IS emitted (probed with a constructed end==watermark
    #     session), so the predicate is inclusive.
    # With a zero-delay watermark the final watermark is the global max
    # event time, so the finalization predicate is exactly
    # max_tus >= session_last_us + gap. Real µs-resolution data has no
    # exact ties (verified: counts match the live stream at sf0.01), but
    # the constructed-tie tests keep both boundaries honest.
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
    ),
    marked AS (
      SELECT user_id, event_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                    OR tus - LAG(tus) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sessions AS (
      SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    agg AS (
      SELECT user_id, MIN(tus) AS session_start_us,
             MAX(tus) AS session_last_us,
             COUNT(*) AS n_events_s
      FROM sessions GROUP BY user_id, sess_id
    )
    SELECT user_id, session_start_us, n_events_s
    FROM agg
    WHERE (SELECT MAX(tus) FROM e)
          >= session_last_us + {SESSION_GAP_US}
    """,
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregation running as a STREAM —
    the built-in twin of the hand-rolled stateful sessionizer
    (stream_sessionize_stateful: applyInPandasWithState) and the streaming
    face of the batch session_window_native slot. Watermarked event-time
    session merging happens inside the streaming state store; AvailableNow
    drains the landing dir, so the terminal session boundaries equal the
    batch computation EXACTLY and the full-fidelity oracle applies — the
    strongest possible check on a streaming stateful aggregate.

    Scale: state = open sessions only (the watermark closes and evicts
    them); session merging is JVM-internal — no Python in the loop, unlike
    the custom-logic sessionizer it complements (which exists for the
    semantics session_window can't express: per-session custom payloads)."""
    import os

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_swn_")
    events = _events_stream(spark, sf_dir, f"{tmp}/landing")
    try:
        out = f"{tmp}/sessions"
        gap_s = SESSION_GAP_US // 1_000_000
        agg = (
            events.withWatermark("ts", "0 seconds")
            .groupBy(
                F.session_window("ts", f"{gap_s} seconds"), F.col("user_id")
            )
            .agg(F.count(F.lit(1)).alias("n_events_s"))
            .select(
                "user_id",
                F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
                    "session_start_us"
                ),
                "n_events_s",
            )
        )
        (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .start()
            .awaitTermination()
        )
        if not os.path.exists(f"{out}/_SUCCESS") and not any(
            f.endswith(".parquet") for f in os.listdir(out)
        ):
            raise RuntimeError("streaming session sink produced no files")
        result = (
            spark.read.parquet(out)
            .select("user_id", "session_start_us", "n_events_s")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


# --------------------------------------------------------------------------
# Streaming observed metrics (df.observe on a stream, read from progress)
# --------------------------------------------------------------------------


@component(
    "stream_observed_metrics",
    cols=[
        ("n_rows", "num"),
        ("n_null_user", "num"),
        ("sum_value", "dbl"),
        ("n_data_batches", "num"),
    ],
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_user,
           CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value,
           CAST(1 AS BIGINT) AS n_data_batches
    FROM events
    """,
)
def stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics on a STREAM — the streaming half of
    dq_observed_metrics: ``observe`` attaches accumulator-style aggregates
    to the ingest stream itself, and every micro-batch reports them
    through its StreamingQueryProgress event (the path a production
    monitor tails for row counts, null rates, and value totals per batch
    — no second subscription to the source, no extra stage). The totals
    are folded across batches driver-side in EXACT Decimal arithmetic
    and checked against the batch aggregate over the same landing data;
    with AvailableNow and a single landing file the source drains in
    exactly one data batch, which the component also asserts.

    Scale: observe compiles into the existing micro-batch stages (partial
    aggregates merged at the driver) — zero additional shuffles; progress
    events are O(metrics), never O(rows)."""
    from decimal import Decimal

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_sobs_")
    try:
        events = _events_stream(spark, sf_dir, f"{tmp}/landing")
        observed = events.observe(
            "ingest",
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(
                F.sum(F.col("user_id").isNull().cast("long")), F.lit(0)
            ).alias("n_null_user"),
            F.sum(F.col("value").cast("decimal(28,8)")).alias("sum_value"),
        )
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_rows = 0
        n_null = 0
        total = Decimal(0)
        n_batches = 0
        for p in q.recentProgress:
            om = (p.get("observedMetrics") or {}).get("ingest")
            if om is None:
                continue  # no-data finalization batches carry no metrics
            n_batches += 1
            n_rows += om["n_rows"]
            n_null += om["n_null_user"]
            if om["sum_value"] is not None:
                # exact fold: the progress JSON renders the decimal sum at
                # full precision; Decimal(str(...)) re-parses it losslessly
                total += Decimal(str(om["sum_value"]))
        return spark.createDataFrame(
            [(n_rows, n_null, float(total), n_batches)],
            schema=(
                "n_rows bigint, n_null_user bigint, sum_value double, "
                "n_data_batches bigint"
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join (watermark-gated null padding)
# --------------------------------------------------------------------------

LOUTER_WINDOW_S = 300   #: click must precede the purchase by <= 5 minutes
LOUTER_DELAY_S = 600    #: both sides' watermark delay


@component(
    "stream_left_outer_enrich",
    cols=[("p_id", "num"), ("c_id", "num"), ("matched", "bool")],
    # Terminal semantics PROBED (round 7) and pinned in
    # tests/test_streaming_join.py:
    #   * inner rows emit unconditionally;
    #   * a null-padded row emits only once the LEFT row's state expires,
    #     which happens when the GLOBAL watermark passes its timestamp —
    #     and the global watermark is min(max event time) across BOTH
    #     watermarked sides minus the delay (verified against live runs
    #     at two SFs: using the overall max, or only the right side's
    #     max, each mispredicts at least one boundary row);
    #   * the expiry comparison is STRICT: a left row whose timestamp
    #     exactly equals the final watermark is HELD (constructed-tie
    #     probe).
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS tus
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS c_id, user_id, epoch_us(ts) AS tus
      FROM events WHERE event_type = 'click'
    ),
    matched AS (
      SELECT p.p_id, c.c_id
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.tus BETWEEN p.tus - {LOUTER_WINDOW_S * 1_000_000} AND p.tus
    ),
    wm AS (
      SELECT LEAST((SELECT MAX(tus) FROM p), (SELECT MAX(tus) FROM c))
             - {LOUTER_DELAY_S * 1_000_000} AS w
    )
    SELECT p_id, c_id, TRUE AS matched FROM matched
    UNION ALL
    SELECT p.p_id, CAST(NULL AS BIGINT) AS c_id, FALSE AS matched
    FROM p, wm
    WHERE p.tus < wm.w
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.p_id = p.p_id)
    """,
)
def stream_left_outer_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — purchases enriched with a
    preceding click within {LOUTER_WINDOW_S}s, null-padded when none
    exists. The OUTER side is what the inner interval join
    (stream_pairs_range_join) cannot express, and its semantics are the
    subtle part: a null-padded row may only emit once the engine KNOWS no
    matching click can still arrive — i.e. when the left row's state
    expires under the global watermark. The oracle reproduces that gate
    exactly (see the probed rules above), so the trailing rows the stream
    legitimately HOLDS at termination are excluded on both sides rather
    than fudged with a rows-only check.

    Scale: state on each side is bounded by the interval + delay (the
    same bound as the inner form); null padding costs nothing extra — it
    is emitted from expiring state the join buffers anyway."""
    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_louter_")
    try:
        purch = (
            _events_stream(spark, sf_dir, f"{tmp}/landing")
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", f"{LOUTER_DELAY_S} seconds")
        )
        clicks = (
            _events_stream(spark, sf_dir, f"{tmp}/landing")
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("c_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", f"{LOUTER_DELAY_S} seconds")
        )
        joined = purch.join(
            clicks,
            F.expr(
                f"""
                p_user = c_user
                AND c_ts >= p_ts - interval {LOUTER_WINDOW_S} seconds
                AND c_ts <= p_ts
                """
            ),
            "leftOuter",
        ).select("p_id", "c_id", F.col("c_id").isNotNull().alias("matched"))
        out = f"{tmp}/pairs"
        (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# CDC apply: reconstruct a table snapshot from a change-data-capture stream
# --------------------------------------------------------------------------


@component(
    "stream_cdc_apply",
    cols=[("metric", "str"), ("value_num", "num")],
    oracle="""
    SELECT 'n_batches' AS metric, CAST(3 AS BIGINT) AS value_num
    UNION ALL SELECT 'n_live',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 11 <> 0)
    UNION ALL SELECT 'n_tombstones',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 11 = 0)
    UNION ALL SELECT 'sum_live_cents',
      (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   + CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END) AS BIGINT)
       FROM orders WHERE o_orderkey % 11 <> 0)
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY — the consumer side of change-data-capture
    (wr_snapshot_cdc is the producer side that DIFFS two snapshots; this
    op takes an ordered I/U/D log and reconstructs the current table from
    it, the replication pattern every warehouse ingesting an OLTP binlog
    runs continuously). The log is three deterministic waves over
    ``orders``: INSERT every order (seq 1), UPDATE orders with
    o_orderkey%7==0 to +1000 cents (seq 2), DELETE o_orderkey%11==0
    (seq 3), staged as one file per wave with maxFilesPerTrigger=1.

    The merge is MAX-SEQUENCE-WINS per key with RETAINED TOMBSTONES:
    each micro-batch unions into the target and keeps, per key, the row
    with the highest sequence number — deletes stay as tombstone rows so
    a late-arriving LOWER-seq update can never resurrect a deleted key.
    That makes the terminal state identical under ANY batch arrival
    order (the file source guarantees none), which is exactly the
    idempotent-replay property a real CDC consumer needs after a
    checkpoint recovery — and what makes this oracle-checkable: the
    digest (live rows, tombstones, live cents) is order-independent by
    construction.

    Scale: per batch the merge shuffles on the key once; the simple
    whole-target rewrite here is the bounded-reference-table form — for
    a high-volume fact the same max-seq window runs inside the
    partition-scoped dynamic overwrite stream_event_daily_upsert uses,
    touching only partitions with changed keys. Tombstones compact away
    in the same pass once a retention horizon lapses."""
    import os

    from pyspark.sql.window import Window as W

    prepare(spark, sf_dir)
    o = spark.table("orders").select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    waves = [
        o.select(F.lit(1).alias("seq"), F.lit("I").alias("op"), "okey", "cents"),
        o.filter(F.col("okey") % 7 == 0).select(
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            "okey",
            (F.col("cents") + 1000).alias("cents"),
        ),
        o.filter(F.col("okey") % 11 == 0).select(
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            "okey",
            F.lit(None).cast("long").alias("cents"),
        ),
    ]
    tmp = tempfile.mkdtemp(prefix="ecomdw_cdc_")
    stage = f"{tmp}/log"
    os.makedirs(stage)
    try:
        for i, wave in enumerate(waves):
            wave_dir = f"{tmp}/wave{i}"
            wave.coalesce(1).write.parquet(wave_dir)
            part = [f for f in os.listdir(wave_dir) if f.endswith(".parquet")][0]
            os.symlink(f"{wave_dir}/{part}", f"{stage}/wave{i}.parquet")

        target = f"{tmp}/table"
        stats = {"batches": 0}

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            stats["batches"] += 1
            try:
                current = sp.read.parquet(target)
                merged = current.unionByName(batch_df)
            except Exception:  # bootstrap: no target yet
                merged = batch_df
            w = W.partitionBy("okey").orderBy(F.desc("seq"))
            latest = (
                merged.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
                .localCheckpoint(eager=True)  # sever lineage from the files
                # about to be overwritten (self-referential write)
            )
            latest.write.mode("overwrite").parquet(target)

        schema = spark.read.parquet(stage).schema
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        final = spark.read.parquet(target)
        live = final.filter(F.col("op") != "D")
        row = final.agg(
            F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("n_live"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_tomb"),
        ).collect()[0]
        sum_cents = live.agg(F.sum("cents").cast("long").alias("s")).collect()[0]["s"]
        rows = [
            ("n_batches", stats["batches"]),
            ("n_live", int(row["n_live"])),
            ("n_tombstones", int(row["n_tomb"])),
            ("sum_live_cents", int(sum_cents)),
        ]
        return spark.createDataFrame(rows, schema="metric string, value_num bigint")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Sliding-window trending (overlapping event-time windows, streamed)
# --------------------------------------------------------------------------

#: sliding-window geometry: 2 h windows advancing every 1 h — every event
#: belongs to exactly WINDOW_US/SLIDE_US = 2 overlapping windows
SLIDE_WINDOW_US = 7_200_000_000
SLIDE_STEP_US = 3_600_000_000
#: trending shelf size per window
SLIDE_TOP_K = 3


@component(
    "stream_sliding_topk",
    cols=[
        ("window_start_us", "num"),
        ("event_type", "str"),
        ("n_events", "num"),
        ("rnk", "num"),
    ],
    # finalization boundary: append mode emits a window once the watermark
    # REACHES its end (inclusive — the same probed convention as
    # stream_session_window_native); with a zero-delay watermark the final
    # watermark is the global max event time.
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS tus, event_type FROM events),
    win AS (
      SELECT event_type, tus,
             unnest([(tus // {SLIDE_STEP_US}) * {SLIDE_STEP_US},
                     (tus // {SLIDE_STEP_US}) * {SLIDE_STEP_US} - {SLIDE_STEP_US}])
               AS wstart
      FROM e
    ),
    counts AS (
      SELECT wstart, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM win
      WHERE tus >= wstart AND tus < wstart + {SLIDE_WINDOW_US}
      GROUP BY 1, 2
    ),
    fin AS (
      SELECT * FROM counts
      WHERE wstart + {SLIDE_WINDOW_US} <= (SELECT MAX(tus) FROM e)
    )
    SELECT wstart AS window_start_us, event_type, n_events, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY wstart ORDER BY n_events DESC, event_type) AS rnk
      FROM fin
    ) WHERE rnk <= {SLIDE_TOP_K}
    """,
)
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now over SLIDING event-time windows — the overlapping-
    window shape the tumbling daily slot can't express: 2 h windows
    advancing hourly, every event counted into exactly two windows, per-
    window top-{SLIDE_TOP_K} event types. Sliding windows are where
    streaming state multiplies (window/slide copies of every group), so
    the state posture matters: the zero-delay watermark closes a window
    the moment event time passes its end, bounding live state to
    window/slide generations of the type vocabulary.

    The oracle replays the window assignment arithmetically (each event's
    two epoch-aligned window starts — Spark aligns sliding windows to the
    epoch by slide duration), restricted to watermark-finalized windows
    under the probed INCLUSIVE end==watermark convention; the trending
    rank is all-integer with total tie-breaks.

    Scale: the streamed agg is (window × type)-keyed — vocabulary-bounded
    per window generation; the post-hoc rank runs on finalized window
    rows, never raw events. The top-k could move into foreachBatch for
    per-trigger shelves; availableNow + terminal rank keeps the digest
    deterministic here."""
    import os

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_slw_")
    events = _events_stream(spark, sf_dir, f"{tmp}/landing")
    try:
        out = f"{tmp}/windows"
        win_s = SLIDE_WINDOW_US // 1_000_000
        step_s = SLIDE_STEP_US // 1_000_000
        agg = (
            events.withWatermark("ts", "0 seconds")
            .groupBy(
                F.window("ts", f"{win_s} seconds", f"{step_s} seconds"),
                F.col("event_type"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.unix_micros(F.col("window.start").cast("timestamp")).alias(
                    "window_start_us"
                ),
                "event_type",
                "n_events",
            )
        )
        (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .start()
            .awaitTermination()
        )
        from pyspark.sql.window import Window as W

        w = W.partitionBy("window_start_us").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        return (
            spark.read.parquet(out)
            .withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= SLIDE_TOP_K)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Streaming drift monitor: the online half of dq_corpus_drift
# --------------------------------------------------------------------------


def _sql_stream_drift() -> str:
    # import for its registration side effect: guarantees the batch
    # monitor exists in the registry even if THIS module is imported
    # directly (outside registry._load_all's curated order)
    import e_commerce_data_warehouse_recommendation_system_spark.operators.quality  # noqa: F401
    from e_commerce_data_warehouse_recommendation_system_spark.registry import (
        _COMPONENTS,
    )

    # the batch monitor's oracle IS the streaming oracle: the terminal
    # keyed state must equal the one-shot batch computation exactly
    return _COMPONENTS["dq_corpus_drift"].oracle


@component(
    "stream_drift_monitor",
    cols=[
        ("lang", "str"),
        ("n_ref", "num"),
        ("n_cur", "num"),
        ("share_ref_micro", "num"),
        ("share_cur_micro", "num"),
        ("share_delta_micro", "num"),
        ("mean_chars_ref_micro", "num"),
        ("mean_chars_cur_micro", "num"),
    ],
    oracle=_sql_stream_drift(),
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE drift monitoring — the streaming half of
    :func:`~...operators.quality.dq_corpus_drift`: documents land in
    micro-batches (three doc_id % 3 shard files, maxFilesPerTrigger=1),
    each batch folds into a KEYED per-language counter state
    (ref/cur doc and char sums — the split tag derives from the ROW's
    md5, not the batch id) via a foreachBatch upsert, and the terminal
    state renders the drift table. Integer-sum merges are commutative
    and associative, so the terminal state is ORDER-INDEPENDENT — the
    property that lets the BATCH monitor's oracle check the stream
    verbatim (the stream_wap_publish convention). This is how a
    drift alert actually deploys: counters maintained continuously at
    ingest, the alert statistic read from state, never a corpus rescan.
    The fold is IDEMPOTENT per batch_id (r12 ADVICE): foreachBatch is
    at-least-once, so a replayed micro-batch finds its committed
    ``v{batch_id}`` state version and re-points instead of double-counting
    (or crashing on the errorifexists write), and the base state is the
    highest committed version read from the store — restart-safe, not an
    in-memory pointer.

    Scale: per batch, one map-side tag + a groupBy onto the bounded lang
    grain; the state merge is |langs| rows (KBs at any corpus size); the
    terminal render is arithmetic over the state."""
    import os

    from e_commerce_data_warehouse_recommendation_system_spark.operators.quality import (
        DRIFT_REF_DIGITS,
    )

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_drift_")
    stage = f"{tmp}/landing"
    os.makedirs(stage)
    docs = spark.table("documents")
    for b in range(3):
        shard_dir = f"{tmp}/shard{b}"
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.parquet(shard_dir)
        part = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")][0]
        os.symlink(f"{shard_dir}/{part}", f"{stage}/shard{b}.parquet")

    state = {"dir": None}
    root = f"{tmp}/state"
    os.makedirs(root)
    is_ref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        *DRIFT_REF_DIGITS
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        out = f"{root}/v{batch_id}"
        if _fold_committed(out):
            # foreachBatch is AT-LEAST-ONCE and this fold INCREMENTS: a
            # retried micro-batch must not double-count (nor crash on the
            # errorifexists write) — the committed (_SUCCESS-marked)
            # version IS this batch's fold, so a replay just re-points at
            # it; a partial dir was rmtree'd by the guard (r12+r13 ADVICE)
            state["dir"] = out
            return
        base = _latest_committed_version(root, batch_id)
        inc = (
            batch_df.select("lang", "n_chars", is_ref.alias("is_ref"))
            .groupBy("lang")
            .agg(
                F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
                F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
                F.sum(F.when(F.col("is_ref"), F.col("n_chars")).otherwise(0)).alias(
                    "c_ref"
                ),
                F.sum(
                    F.when(F.col("is_ref"), 0).otherwise(F.col("n_chars"))
                ).alias("c_cur"),
            )
        )
        if base is not None:
            inc = inc.unionByName(sp.read.parquet(base))
        merged = inc.groupBy("lang").agg(
            F.sum("n_ref").alias("n_ref"),
            F.sum("n_cur").alias("n_cur"),
            F.sum("c_ref").alias("c_ref"),
            F.sum("c_cur").alias("c_cur"),
        )
        merged.write.parquet(out)
        state["dir"] = out

    schema = spark.read.parquet(stage).schema
    try:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        st = spark.read.parquet(state["dir"])
        tot = st.agg(
            F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
        )
        share_ref = F.expr("div(1000000 * n_ref, greatest(t_ref, 1))")
        share_cur = F.expr("div(1000000 * n_cur, greatest(t_cur, 1))")
        return (
            st.crossJoin(F.broadcast(tot))
            .select(
                "lang",
                F.col("n_ref").cast("bigint").alias("n_ref"),
                F.col("n_cur").cast("bigint").alias("n_cur"),
                share_ref.cast("bigint").alias("share_ref_micro"),
                share_cur.cast("bigint").alias("share_cur_micro"),
                F.abs(share_ref - share_cur)
                .cast("bigint")
                .alias("share_delta_micro"),
                F.expr("div(1000000 * c_ref, greatest(n_ref, 1))")
                .cast("bigint")
                .alias("mean_chars_ref_micro"),
                F.expr("div(1000000 * c_cur, greatest(n_cur, 1))")
                .cast("bigint")
                .alias("mean_chars_cur_micro"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Incremental tape packing: the streaming half of the packing family
# --------------------------------------------------------------------------


def _sql_stream_pack_manifest() -> str:
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        PACK_BUDGET,
    )

    return f"""
    WITH counted AS (
      SELECT doc_id, lang, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    offsets AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_offset
      FROM counted
    )
    SELECT doc_id, lang,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(start_offset % {PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM offsets
    """


@component(
    "stream_pack_manifest",
    cols=[
        ("doc_id", "num"),
        ("lang", "str"),
        ("start_offset", "num"),
        ("seq_id", "num"),
        ("seq_offset", "num"),
    ],
    oracle=_sql_stream_pack_manifest(),
)
def stream_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL tape packing (round 11) — the streaming half of the
    packing family: the crawl lands in arrival-ordered micro-batches
    (three doc_id RANGE shards, maxFilesPerTrigger=1, distinct mtimes so
    the file source triggers them oldest-first), and each batch's docs are
    appended to the per-language token tape WITHOUT recomputing it: the
    batch computes its own LOCAL two-phase offsets
    (operators/text.two_phase_tape_offsets — the same helper the batch
    rungs use) and shifts them by the per-language running totals carried
    in state, then advances the state by the batch's per-language sums
    (≤ |langs| rows — the bounded-collect audit class).

    The terminal manifest must be ROW-IDENTICAL to the batch
    text_pack_manifest: concat(per-batch local tapes, shifted) == the
    global tape exactly BECAUSE the shards are doc_id ranges processed in
    order — the op asserts that monotonicity per batch (min doc_id >
    the previous high-water mark) and fails loudly on out-of-order
    delivery instead of publishing wrong offsets (the incremental-scan
    contract, S3). The oracle is the batch single-window SQL, so this is a
    cross-MODE differential (stateful stream vs batch plan) on top of the
    cross-engine one.

    Scale: per-batch cost is the two-phase tape on the BATCH only; state
    is |langs| integers; the manifest sink is append-only — nothing
    corpus-sized is recomputed or held. At 100 TB the state table lives in
    the store and the monotonicity check is the source's watermark."""
    import os
    import time

    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        pack_seq_id,
        tokens,
        two_phase_tape_offsets,
    )
    from e_commerce_data_warehouse_recommendation_system_spark.operators.text import (
        PACK_BUDGET,
    )

    prepare(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ecomdw_pack_")
    stage = f"{tmp}/landing"
    manifest = f"{tmp}/manifest"
    os.makedirs(stage)
    docs = spark.table("documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]  # 1-row bounded
    if max_id is None:  # degenerate empty corpus: empty manifest, no stream
        shutil.rmtree(tmp, ignore_errors=True)
        return spark.createDataFrame(
            [],
            schema="doc_id long, lang string, start_offset long, "
            "seq_id long, seq_offset long",
        )
    width = max_id // 3 + 1
    now = time.time()
    for b in range(3):
        shard_dir = f"{tmp}/shard{b}"
        docs.filter(F.expr(f"doc_id div {width}") == b).coalesce(1).write.parquet(
            shard_dir
        )
        part = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")][0]
        dst = f"{stage}/shard{b}.parquet"
        os.link(f"{shard_dir}/{part}", dst)
        # arrival order: the file source triggers oldest-mtime-first
        os.utime(dst, (now - 300 + 100 * b, now - 300 + 100 * b))

    bases: dict[str, int] = {}  # per-language tape position (the state)
    hwm = {"doc_id": -1}  # arrival-order high-water mark

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        counted = batch_df.select(
            "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
        )
        stats = counted.groupBy("lang").agg(
            F.sum("n_tokens").alias("tot"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        ).collect()  # <= |langs| rows: the bounded-collect audit class
        if not stats:
            return
        lo = min(int(r["lo"]) for r in stats)
        if lo <= hwm["doc_id"]:
            raise RuntimeError(
                f"out-of-order shard: batch {batch_id} min doc_id {lo} <= "
                f"high-water mark {hwm['doc_id']} — offsets would be wrong"
            )
        hwm["doc_id"] = max(int(r["hi"]) for r in stats)
        base_rows = [(lang, base) for lang, base in bases.items()] or [("", 0)]
        base_df = batch_df.sparkSession.createDataFrame(
            base_rows, "lang string, base long"
        )
        local = two_phase_tape_offsets(counted, "lang", "n_tokens")
        shifted = (
            local.join(F.broadcast(base_df), "lang", "left")
            .select(
                "doc_id",
                "lang",
                (F.coalesce("base", F.lit(0)) + F.col("start_offset"))
                .cast("long")
                .alias("start_offset"),
            )
            .select(
                "doc_id",
                "lang",
                "start_offset",
                pack_seq_id().alias("seq_id"),
                F.expr(f"start_offset % {PACK_BUDGET}")
                .cast("long")
                .alias("seq_offset"),
            )
        )
        shifted.write.mode("append").parquet(manifest)
        for r in stats:
            bases[r["lang"]] = bases.get(r["lang"], 0) + int(r["tot"])

    schema = spark.read.parquet(stage).schema
    try:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        # localCheckpoint materializes off the temp dir DISTRIBUTED (the
        # streaming-module return convention) before cleanup below
        return spark.read.parquet(manifest).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Online fold-in serving: the streaming half of the recommendation capstone
# --------------------------------------------------------------------------


#: serve-audit subset: every Nth natural user id (the factor-serve
#: convention) — bounds the subset x catalog serve cross product
FOLD_IN_AUDIT_MOD = 50


def _sql_stream_fold_in() -> str:
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        _SQL_INTERACTIONS,
        TOP_K,
    )

    return f"""
    WITH inter AS ({_SQL_INTERACTIONS}),
    split AS (
      SELECT *,
             substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS is_test
      FROM inter
    ),
    test AS (SELECT user_id, item_id FROM split WHERE is_test),
    ti AS (SELECT DISTINCT item_id FROM split WHERE NOT is_test),
    foldable AS (
      SELECT DISTINCT user_id FROM test
      WHERE item_id IN (SELECT item_id FROM ti)
    )
    SELECT label, CAST(value_num AS BIGINT) AS value_num FROM (
      SELECT 'feed_rows' AS label, (SELECT COUNT(*) FROM test) AS value_num
      UNION ALL SELECT 'feed_users', (SELECT COUNT(DISTINCT user_id) FROM test)
      UNION ALL SELECT 'folded_users', (SELECT COUNT(*) FROM foldable)
      UNION ALL SELECT 'stream_batch_parity_ok', 1
      UNION ALL SELECT 'served_users',
        (SELECT COUNT(*) FROM foldable WHERE user_id % {FOLD_IN_AUDIT_MOD} = 0)
      UNION ALL SELECT 'served_rows',
        (SELECT COUNT(*) FROM foldable WHERE user_id % {FOLD_IN_AUDIT_MOD} = 0) * {TOP_K}
      UNION ALL SELECT 'serve_contract_ok', 1
    )
    """


@component(
    "stream_fold_in_serve",
    cols=[("label", "str"), ("value_num", "num")],
    oracle=_sql_stream_fold_in(),
)
def stream_fold_in_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE SERVING: held-out interactions land in micro-batches and each
    batch's touched users are re-folded against the FROZEN trained item
    factors (implicit-ALS normal equations — rec_fold_in_user_factors) over
    their FULL accumulated history, upserting a factor state keyed by user;
    terminal factors feed an exported-factor top-k serve for the audit
    subset. This is the production "new users get recommendations the
    moment their interactions arrive, no retrain" loop — the reference
    refuses unknown users outright (mf_knn_recommender.py:234-242), and the
    batch fold-in closes that gap offline; this closes it ONLINE.

    Order-independence (what makes a streaming operator oracle-checkable):
    the feed is sharded by ITEM hash, so one user's history straddles
    batches — the hard case — but each touch re-solves the user from the
    full accumulated set, so the terminal factor is a pure function of the
    complete history whatever the batch order. The terminal state must
    therefore equal the one-shot BATCH fold-in over the same feed: pinned
    by the parity flag (count match + min cosine > 0.9999, the
    _fold_in_parity floor; solves are float32-quantized, so row-order float
    noise sits far below it). Counts (feed rows/users, foldable users =
    users with >= 1 train-factored item, served rows = k x audit users)
    are SQL-exact cross-engine.

    Scale: per batch, fold-in touches only accumulated rows of TOUCHED
    users (join-pruned), the solve is rank^2 per user inside Arrow batches,
    and the factor-state upsert is the keyed-merge posture of
    stream_event_daily_upsert; the audit subset (1 in FOLD_IN_AUDIT_MOD
    users) is scored on the driver by the serving kernel. Total fold work
    across a drain is <= n_batches x one full fold."""
    import os

    import numpy as np

    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        TOP_K,
        _artifacts,
        _serving_state,
        _topk_kernel,
        rec_fold_in_user_factors,
    )

    prepare(spark, sf_dir)
    art = _artifacts(spark, sf_dir)
    feed = art["test"].select("user_id", "user_idx", "item_idx")
    n_feed = feed.count()
    n_feed_users = feed.select("user_idx").distinct().count()

    tmp = tempfile.mkdtemp(prefix="ecomdw_foldin_")
    stage = f"{tmp}/landing"
    os.makedirs(stage)
    # shard by ITEM hash: a user's history straddles micro-batches, the
    # order-dependence trap the re-fold-from-accumulated design must beat
    for b in range(3):
        shard_dir = f"{tmp}/shard{b}"
        feed.filter(F.col("item_idx") % 3 == b).coalesce(1).write.parquet(shard_dir)
        part = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")][0]
        os.symlink(f"{shard_dir}/{part}", f"{stage}/shard{b}.parquet")

    acc_state = {"dir": None}
    fac_state = {"dir": None}
    acc_root = f"{tmp}/acc"
    fac_root = f"{tmp}/factors"
    os.makedirs(acc_root)
    os.makedirs(fac_root)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        acc_out = f"{acc_root}/v{batch_id}"
        fac_out = f"{fac_root}/v{batch_id}"
        # at-least-once replay guard, TWO-STORE variant (r14, the
        # _fold_committed discipline): the write order is acc -> fac, so
        # the reachable states are {neither, acc only, both} committed —
        # each half recomputes only if ITS version is missing (the guard
        # rmtree'd any partial), and bases come from the highest committed
        # version in the store, never the in-memory pointer.
        acc_committed = _fold_committed(acc_out)
        fac_committed = _fold_committed(fac_out)
        if not acc_committed:
            fresh = batch_df.select("user_idx", "item_idx")
            acc_base = _latest_committed_version(acc_root, batch_id)
            if acc_base is not None:
                fresh = fresh.unionByName(sp.read.parquet(acc_base))
            fresh.dropDuplicates(["user_idx", "item_idx"]).write.parquet(acc_out)
        acc_state["dir"] = acc_out

        if not fac_committed:
            touched = batch_df.select("user_idx").distinct()
            acc = sp.read.parquet(acc_out)
            refold = rec_fold_in_user_factors(
                sp, sf_dir, interactions_df=acc.join(touched, "user_idx", "left_semi")
            )
            fac_base = _latest_committed_version(fac_root, batch_id)
            if fac_base is not None:
                kept = sp.read.parquet(fac_base).join(
                    touched, "user_idx", "left_anti"
                )
                refold = refold.unionByName(kept)
            refold.write.parquet(fac_out)
        fac_state["dir"] = fac_out

    schema = spark.read.parquet(stage).schema
    try:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        terminal = spark.read.parquet(fac_state["dir"]).localCheckpoint(eager=True)
        n_folded = terminal.count()

        # parity vs the one-shot batch fold-in over the identical feed
        ref = rec_fold_in_user_factors(
            spark, sf_dir, interactions_df=feed.select("user_idx", "item_idx")
        ).select("user_idx", F.col("features").alias("rfeat"))

        def _norm(col: str) -> F.Column:
            return F.sqrt(
                F.aggregate(
                    F.transform(
                        F.col(col), lambda x: x.cast("double") * x.cast("double")
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )

        dot = F.aggregate(
            F.zip_with(
                F.col("features"),
                F.col("rfeat"),
                lambda a, b: a.cast("double") * b.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = dot / (_norm("features") * _norm("rfeat") + F.lit(1e-12))
        par = (
            terminal.join(ref, "user_idx")
            .select(cos.alias("cos"))
            .agg(
                F.count(F.lit(1)).alias("n_joined"),
                F.min("cos").alias("min_cos"),
                F.sum((F.isnan("cos") | F.col("cos").isNull()).cast("long")).alias(
                    "bad"
                ),
            )
            .collect()[0]
        )
        n_ref = ref.count()
        parity_ok = (
            par.n_joined == n_folded
            and n_ref == n_folded
            and (par.bad or 0) == 0
            and float(par.min_cos) > 0.9999
        )

        # exported-factor serving for the audit subset — every
        # FOLD_IN_AUDIT_MOD-th user, rec_user_topk's subset convention:
        # the subset's terminal factors come to the driver (bounded by the
        # user dictionary / FOLD_IN_AUDIT_MOD) and score through the one
        # top-k kernel against the resident item factors
        subset = (
            terminal.join(
                F.broadcast(
                    art["users"].filter(F.col("user_id") % FOLD_IN_AUDIT_MOD == 0)
                ),
                "user_idx",
            )
            .select("user_idx", "features")
            .collect()
        )
        V = _serving_state(art)["V"]
        U = np.array([r.features for r in subset], dtype=np.float32).reshape(
            len(subset), V.shape[1]
        )
        pos, _ = _topk_kernel(U, V, TOP_K)
        n_served_users = len(subset)
        contract_ok = pos.shape == (n_served_users, TOP_K) and len(
            {r.user_idx for r in subset}
        ) == n_served_users

        rows = [
            ("feed_rows", n_feed),
            ("feed_users", n_feed_users),
            ("folded_users", n_folded),
            ("stream_batch_parity_ok", 1 if parity_ok else 0),
            ("served_users", n_served_users),
            ("served_rows", int(pos.size)),
            ("serve_contract_ok", 1 if contract_ok else 0),
        ]
        return spark.createDataFrame(rows, schema="label string, value_num bigint")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Online serving-quality monitor: the streaming half of the ALS backtest
# --------------------------------------------------------------------------


def _sql_stream_serving_quality() -> str:
    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        BACKTEST_CUTOFF,
    )

    # the SQL-exact half of the census: eval population + per-user novel
    # truth counts; the hit counters are model-valued (the served shelf
    # comes from the seeded ALS) and fold into genuinely-computed flags
    return f"""
    WITH pre AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate < TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    post AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '{BACKTEST_CUTOFF}'
    ),
    novel AS (SELECT u, i FROM post EXCEPT SELECT u, i FROM pre)
    SELECT u AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_novel_items,
           TRUE AS hits_bounded_ok,
           TRUE AS terminal_equals_batch_ok
    FROM novel WHERE u IN (SELECT DISTINCT u FROM pre)
    GROUP BY u
    """


@component(
    "stream_serving_quality",
    oracle=_sql_stream_serving_quality(),
    cols=[
        ("user_id", "num"),
        ("n_novel_items", "num"),
        ("hits_bounded_ok", "bool"),
        ("terminal_equals_batch_ok", "bool"),
    ],
)
def stream_serving_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE serving-quality monitoring — the streaming half of
    :func:`~...recommend.queries.rec_backtest_als` and the missing third
    leg of the serving loop (fold-in watches freshness, drift watches
    inputs; THIS watches whether the model is still answering well):
    post-cutoff novel interactions of warm users arrive in micro-batches
    (three item-sharded files, so each USER's counters accumulate ACROSS
    batches — the keyed-state path is genuinely exercised), each batch
    joins against the SERVED SHELF (the backtest model's top-k unseen
    recommendations, fixed at deploy time) and folds per-user (truth,
    hit) counters into versioned keyed state — the
    :func:`stream_drift_monitor` convention: idempotent per batch_id,
    base state read from the highest committed version, integer-sum
    merges so the terminal state is order-independent and must equal the
    one-shot batch census VERBATIM (pinned per-row in the
    terminal_equals_batch_ok column, which the oracle expects TRUE for
    every user — a stream/batch divergence flips the driver row red).

    The arriving feed is the DEDUPED novel-pair stream (distinct (u, i)
    sharded by item): pair-level replay dedup across batches is its own
    component (stream_replay_dedup); this one monitors answer quality.

    Scale: the shelf is users x k rows (broadcastable); per batch one
    semi-join against pre pairs (novelty), one broadcast semi-join
    against the shelf (hits), one groupBy onto the user grain; state is
    |eval users| rows; the terminal render is arithmetic over state plus
    one full-outer comparison join against the batch census."""
    import os

    from e_commerce_data_warehouse_recommendation_system_spark.recommend.queries import (
        TOP_K,
        _backtest_als_artifacts,
    )

    prepare(spark, sf_dir)
    art = _backtest_als_artifacts(spark, sf_dir)
    shelf = (
        art["pool"]
        .filter(F.col("rnk") <= TOP_K)
        .select("u", "i")
        .localCheckpoint(eager=True)  # users x k rows, fixed at "deploy"
    )
    truth = art["truth"]  # novel post-cutoff pairs of warm users

    tmp = tempfile.mkdtemp(prefix="ecomdw_servq_")
    stage = f"{tmp}/landing"
    os.makedirs(stage)
    # the arriving feed: the deduped novel warm-user pairs, sharded by
    # ITEM so one user's pairs land in different micro-batches
    for b in range(3):
        shard_dir = f"{tmp}/shard{b}"
        truth.filter(F.col("i") % 3 == b).coalesce(1).write.parquet(shard_dir)
        part = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")][0]
        os.symlink(f"{shard_dir}/{part}", f"{stage}/shard{b}.parquet")

    state = {"dir": None}
    root = f"{tmp}/state"
    os.makedirs(root)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        out = f"{root}/v{batch_id}"
        if _fold_committed(out):
            state["dir"] = out  # at-least-once replay: already folded
            return  # (committed = _SUCCESS present; partials rmtree'd)
        base = _latest_committed_version(root, batch_id)
        hits = batch_df.join(F.broadcast(shelf), ["u", "i"], "left_semi")
        inc = (
            batch_df.groupBy("u")
            .agg(F.count(F.lit(1)).alias("n_truth"))
            .join(
                hits.groupBy("u").agg(F.count(F.lit(1)).alias("n_hits")),
                "u",
                "left",
            )
            .select(
                "u",
                "n_truth",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            )
        )
        if base is not None:
            inc = inc.unionByName(sp.read.parquet(base))
        merged = inc.groupBy("u").agg(
            F.sum("n_truth").alias("n_truth"), F.sum("n_hits").alias("n_hits")
        )
        merged.write.parquet(out)
        state["dir"] = out

    schema = spark.read.parquet(stage).schema
    try:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        st = spark.read.parquet(state["dir"])
        # the one-shot batch census over the same shelf — the stream's
        # terminal state must match it row-for-row
        batch_census = (
            truth.groupBy("u")
            .agg(F.count(F.lit(1)).alias("b_truth"))
            .join(
                shelf.join(truth, ["u", "i"], "left_semi")
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("b_hits")),
                "u",
                "left",
            )
            .select("u", "b_truth", F.coalesce("b_hits", F.lit(0)).alias("b_hits"))
        )
        return (
            st.join(batch_census, "u", "full_outer")
            .select(
                F.col("u").alias("user_id"),
                F.coalesce("b_truth", F.lit(0))
                .cast("bigint")
                .alias("n_novel_items"),
                (
                    F.coalesce("n_hits", F.lit(-1))
                    <= F.least(F.lit(TOP_K), F.coalesce("n_truth", F.lit(0)))
                ).alias("hits_bounded_ok"),
                (
                    (F.coalesce("n_truth", F.lit(-1)) == F.coalesce("b_truth", F.lit(-2)))
                    & (F.coalesce("n_hits", F.lit(-1)) == F.coalesce("b_hits", F.lit(-2)))
                ).alias("terminal_equals_batch_ok"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
