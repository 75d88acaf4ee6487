"""The anti-pattern audit record must match the tree (r11 verdict #2).

A deliberate new `.collect()` / `.crossJoin(` / Arrow site fails here
until `python scripts/audit_antipatterns.py --update` regenerates
AUDIT.json — making the reviewer re-justify the site's bounded class
instead of letting the recorded count drift silently (it went stale in
both r10 and r11). Pure-filesystem test: no SparkSession needed.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from audit_antipatterns import (  # noqa: E402
    HARD_ZERO,
    cache_by_file,
    check,
    measure,
    recorded_cache_by_file,
)


def test_audit_counts_match_record():
    ok, got, want = check()
    assert ok, (
        f"anti-pattern counts drifted from AUDIT.json: measured {got}, "
        f"recorded {want} — review the new sites "
        "(scripts/audit_antipatterns.py --sites <key>) and regenerate "
        "with --update"
    )


def test_banned_classes_are_zero():
    _, got, _ = check()
    for key in HARD_ZERO:
        assert got[key] == 0, f"{key} sites found: banned outright"


def test_cache_ledger_matches_record():
    """The per-file `.cache()` ledger must match AUDIT.json (r12 verdict
    #1: a never-unpersisted corpus cache landed the same round the class
    was fixed elsewhere — the ledger makes each new site a per-file diff
    a reviewer must re-justify)."""
    assert cache_by_file() == recorded_cache_by_file()


def test_deliberate_unmanaged_cache_fails_audit(tmp_path):
    """A new `.cache()` site in package code is CAUGHT: measured over a
    synthetic tree containing one, the cache count and per-file ledger
    both drift from what a cache-free record would hold. Also pins the
    comment-stripping rule: prose about .cache() never counts."""
    mod = tmp_path / "ops.py"
    mod.write_text(
        "def build(spark):\n"
        "    # prose mentioning .cache() must NOT count\n"
        "    df = spark.table('documents').cache()  # unmanaged corpus cache\n"
        "    return df\n"
    )
    got = measure(tmp_path)
    assert got["cache"] == 1
    assert cache_by_file(tmp_path) == {"ops.py": 1}


def test_string_literals_are_not_sites(tmp_path):
    """Docstrings and other string literals are prose, not code: rewording
    one cannot move a count. A ``mapInArrow`` call is an Arrow site."""
    mod = tmp_path / "ops.py"
    mod.write_text(
        "def build(df):\n"
        '    """Unlike .cache() or applyInPandas, this\n'
        '    stays in Arrow: df.collect() # not here."""\n'
        '    sql = "SELECT 1 -- .crossJoin( in a string"\n'
        "    return df.mapInArrow(f, schema=sql)\n"
    )
    got = measure(tmp_path)
    assert got["cache"] == got["collect"] == got["crossJoin"] == 0
    assert got["arrow_sites"] == 1
