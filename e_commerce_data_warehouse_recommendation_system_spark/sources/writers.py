"""Sinks and table-maintenance operators (SURVEY.md SS2.1, S5-S12).

The reference writes through SQLAlchemy ``to_sql`` replace/append
(reference: plugins/postgresql_operator.py:16-19) and hand-written
upsert/delete SQL against MySQL (reference: plugins/mysql_operator.py:28-110,
plugins/support_processing.py:7-46). Spark-first mapping: parquet
overwrite/append for materialization, join-based MERGE emulation (no Delta
jar in this container — gated behind an import-try), anti-join deletes.

All of these operate on arbitrary DataFrames; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _has_delta() -> bool:
    try:  # pragma: no cover - Delta is not on the classpath in this container
        import delta  # noqa: F401

        return True
    except Exception:
        return False


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """S5: replace/append materialization.

    The reference's replace-then-append idempotent load
    (reference: dags/extract_data.py:55-71) collapses to an atomic
    ``mode('overwrite')`` parquet write. ``partition_by`` (e.g. a date
    column) is the 100 TB lever the reference lacks entirely: downstream
    reads get partition pruning.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S10/S12: CSV export (reference: postgres_reader.py:131-145 and
    mysql bulk_dump, mysql_operator.py:112-122). ``single_file`` coalesces
    to 1 partition — only for small result sets; large exports stay sharded."""
    (df.coalesce(1) if single_file else df).write.mode("overwrite").csv(path, header=True)


def upsert(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """S6: ``INSERT ... ON DUPLICATE KEY UPDATE`` semantics
    (reference: plugins/mysql_operator.py:28-59, support_processing.py:7-28).

    Join-based MERGE emulation: rows of ``old`` whose key collides with
    ``new`` are replaced; everything else kept. Like SQL MERGE, ``new``
    must be key-unique. This function does not check it: a repeated
    source key would land once per row and the key would stop being
    unique. :func:`upsert_path` checks and raises ``ValueError``; the
    streaming merge sink collapses within-batch duplicates first.
    With Delta on the classpath this becomes ``MERGE INTO`` (same public
    semantics); the anti-join form is shuffle-on-key and scales with AQE
    skew handling.

    Keys match null-safely (``eqNullSafe``): a NULL key component equals
    NULL, so ``(2, NULL, 'b2')`` replaces an old ``(2, NULL, 'b')``
    instead of both surviving. Plain ``=`` would never match the NULL
    and the target would grow by one row per NULL-keyed upsert.

    The reference's 100k-row chunking (its H5) is obsolete: the write is
    distributed.
    """
    # renamed so each condition side resolves unambiguously, even when
    # ``new`` is derived from ``old``
    new_keys = new.select(*[F.col(k).alias(f"_new_{k}") for k in keys]).distinct()
    matched = [F.col(k).eqNullSafe(F.col(f"_new_{k}")) for k in keys]
    survivors = old.join(new_keys, on=matched, how="left_anti")
    return new.unionByName(survivors.select(*new.columns))


def merge_keys_condition(keys: list[str], target: str = "t", source: str = "s") -> str:
    """MERGE ON condition for a key list, null-safe like :func:`upsert`:
    ``t.k1 <=> s.k1 AND ...``."""
    return " AND ".join(f"{target}.{k} <=> {source}.{k}" for k in keys)


def parquet_target_exists(path: str) -> bool:
    """Bootstrap probe shared by every parquet sink (batch ``upsert_path``
    and the streaming foreachBatch merge): a committed parquet write always
    leaves a _SUCCESS marker. Explicit check instead of read-and-catch so
    batch 0 never logs a spurious stack trace. On object storage this
    becomes a FileSystem.exists call — same contract."""
    import os

    return os.path.isdir(path) and os.path.exists(f"{path}/_SUCCESS")


def _partition_columns(path: str) -> list[str]:
    """Partition columns of a parquet target, outermost first, read off its
    ``col=value`` subdirectory names. A local-FS probe like
    :func:`parquet_target_exists`; hidden and ``_``-prefixed entries
    (``_temporary``, ``_SUCCESS``) are skipped, as Spark's reader does."""
    import os

    cols: list[str] = []
    while True:
        with os.scandir(path) as entries:
            sub = next(
                (e for e in entries if e.is_dir() and "=" in e.name and e.name[0] not in "._"),
                None,
            )
        if sub is None:
            return cols
        cols.append(sub.name.split("=", 1)[0])
        path = sub.path


def upsert_path(spark, target_path: str, new: DataFrame, keys: list[str]) -> None:
    """Keyed upsert into a MATERIALIZED target path — the real
    partial-update lever when a transactional table format is available.

    With Delta on the classpath this is ``MERGE INTO`` (touches only
    collided files — the true analog of the reference's ``ON DUPLICATE KEY
    UPDATE``, reference: plugins/mysql_operator.py:28-59); without it, the
    join-based read-merge-overwrite fallback (same public semantics,
    oracle-checked through ``wr_upsert``).

    The fallback keeps the target's layout: a target written with
    ``partitionBy`` (the warehouse fact, by ``order_year``) is rewritten
    with the same partition columns, found by :func:`_partition_columns`,
    so year predicates keep pruning after an upsert. It still rewrites
    every partition. The streaming sink's partition-scoped variant
    (streaming/queries.py) rewrites only the partitions a micro-batch
    touches; it stays separate because a batch delta that touches every
    partition (the nightly delta spans all order years) gains nothing from
    the scoping and pays for the extra touched-values pass and the
    dynamic-overwrite write.

    Raises ``ValueError``, before anything is written, if ``new`` holds a
    key more than once: neither branch can pick which row wins.
    """
    repeated = (
        new.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select(*keys)
        .first()
    )
    if repeated is not None:
        raise ValueError(
            f"upsert delta holds key {repeated.asDict()} more than once "
            f"(key columns {keys}); the delta must be key-unique"
        )
    if _has_delta():  # pragma: no cover - no Delta jar in this container
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, target_path):
            (
                DeltaTable.forPath(spark, target_path)
                .alias("t")
                .merge(new.alias("s"), merge_keys_condition(keys))
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        else:
            new.write.format("delta").mode("overwrite").save(target_path)
        return
    partition_by = None
    if parquet_target_exists(target_path):
        old = spark.read.parquet(target_path)
        merged = upsert(old, new.select(*old.columns), keys)
        partition_by = _partition_columns(target_path)
    else:
        merged = new
    write_table(merged.localCheckpoint(eager=True), target_path, partition_by=partition_by)


def delete_by_keys(df: DataFrame, del_keys: DataFrame, keys: list[str]) -> DataFrame:
    """S7: ``DELETE FROM t WHERE key IN (...)``
    (reference: plugins/mysql_operator.py:61-80) as an anti-join — the only
    scalable form when the key list is itself large."""
    return df.join(del_keys.select(*keys).distinct(), on=keys, how="left_anti")


def append_rows(old: DataFrame, rows: DataFrame) -> DataFrame:
    """S8: plain insert (reference: plugins/mysql_operator.py:82-92)."""
    return old.unionByName(rows)


def truncate_like(df: DataFrame) -> DataFrame:
    """S9: TRUNCATE analog — an empty frame with the same schema
    (reference: plugins/mysql_operator.py:94-110). DROP maps to
    ``spark.sql("DROP TABLE IF EXISTS ...")`` for managed tables."""
    return df.filter(F.lit(False))


# --------------------------------------------------------------------------
# Write-audit-publish (WAP): atomic versioned publication with a quality gate
# --------------------------------------------------------------------------


def null_key_audit(key_col: str):
    """The standard WAP audit: staged data must be non-empty with zero
    NULLs in the key column. Shared by the batch round-trip
    (wr_wap_publish) and the streaming publisher (stream_wap_publish) so
    the predicate can only evolve in one place."""

    def audit(staged: DataFrame) -> bool:
        row = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(key_col).isNull().cast("long")).alias("null_keys"),
        ).collect()[0]
        return row.n > 0 and (row.null_keys or 0) == 0

    return audit


def wap_publish(spark, root: str, df: DataFrame, version: str, audit) -> bool:
    """Write-audit-publish: stage ``df`` under an isolated version dir, run
    the ``audit`` predicate on the STAGED data (read back, so the audit
    sees exactly what readers would), and only then atomically flip the
    table pointer. A failed audit leaves the previous published version
    untouched — bad data is never visible, not even transiently.

    The pointer flip is a manifest-file replace (write MANIFEST.tmp +
    ``os.replace`` — atomic on POSIX; on object storage the same contract
    is a conditional PUT / pointer swap, which is exactly how
    Iceberg/Delta commit). Readers resolve the manifest first
    (``wap_read``), so concurrent readers see either the old or the new
    version in full, never a mix — snapshot isolation without a table
    format. Returns True iff the version was published.

    The staged write is distributed and partition-preserving; only the
    audit's bounded result and the manifest string touch the driver.
    """
    import os

    staging = f"{root}/v_{version}"
    df.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    if not audit(staged):
        return False
    tmp = f"{root}/MANIFEST.tmp"
    with open(tmp, "w") as fh:
        fh.write(f"v_{version}\n")
    os.replace(tmp, f"{root}/MANIFEST")
    return True


def wap_read(spark, root: str) -> DataFrame:
    """Reader side of WAP: resolve the manifest pointer, then load the
    version it names. Raises if nothing was ever published."""
    with open(f"{root}/MANIFEST") as fh:
        version_dir = fh.read().strip()
    return spark.read.parquet(f"{root}/{version_dir}")


def wap_versions(root: str) -> list[str]:
    """All retained version ids under a WAP root, published or not, in
    version order — numeric ids sort numerically ('2' before '10'), so a
    retention sweep keeping the newest N or a reader picking the latest
    retained snapshot can trust the order; non-numeric ids sort after,
    lexicographically. Staged-but-rejected versions remain on disk (audit
    forensics) until a retention sweep removes them — exactly like
    unreferenced snapshots in a table format."""
    import os

    ids = (d[len("v_"):] for d in os.listdir(root) if d.startswith("v_"))
    return sorted(ids, key=lambda v: (0, int(v), "") if v.isdigit() else (1, 0, v))


def wap_vacuum(root: str, keep: int) -> list[str]:
    """Retention sweep (VACUUM): delete all but the newest ``keep``
    version dirs under a WAP root — the storage-reclaim half of the
    snapshot lifecycle (publish accumulates versions; this bounds them,
    like Delta VACUUM / Iceberg expire_snapshots). Two safety rules:

    - the version the MANIFEST currently points to is NEVER deleted,
      whatever its age — readers resolving the pointer mid-sweep stay
      consistent;
    - deletion order is oldest-first and the manifest is untouched, so a
      crash mid-sweep leaves a smaller-but-valid table, never a broken
      pointer.

    Returns the deleted version ids. Driver-side work is version METADATA
    (a directory listing) — never data rows; the deletes themselves are
    recursive dir removals (object-store prefix deletes at scale)."""
    import os
    import shutil

    current = None
    manifest = f"{root}/MANIFEST"
    if os.path.exists(manifest):
        with open(manifest) as fh:
            current = fh.read().strip()[len("v_"):]
    versions = wap_versions(root)
    retained = set(versions[-keep:]) if keep > 0 else set()
    if current is not None:
        retained.add(current)
    deleted = []
    for v in versions:
        if v not in retained:
            shutil.rmtree(f"{root}/v_{v}")
            deleted.append(v)
    return deleted


def wap_read_version(spark, root: str, version: str) -> DataFrame:
    """Time travel: read a specific retained version regardless of the
    manifest pointer — audits of a rejected staging, replays of an old
    snapshot, A/B diffs between publications. The manifest stays the only
    thing readers of *current* state ever resolve."""
    return spark.read.parquet(f"{root}/v_{version}")
