"""Self-verifying anti-pattern audit (r11 verdict item #2).

The hand-transcribed grep counts in COVERAGE.md went stale twice in two
rounds (36-vs-20 crossJoins in r10, 43-vs-41 collects in r11): a number
copied into a document drifts silently as code lands. This script IS the
record now — it runs the audit greps over the package, compares against
the committed ``AUDIT.json``, and exits non-zero on drift;
``tests/test_antipattern_audit.py`` runs the same check in the suite, so
a new collect/crossJoin/udf/toPandas site FAILS CI until the record is
deliberately regenerated (and its bounded-class justification reviewed):

    python scripts/audit_antipatterns.py            # check (exit 1 on drift)
    python scripts/audit_antipatterns.py --update   # regenerate AUDIT.json
    python scripts/audit_antipatterns.py --sites collect   # list the sites

Counting rule: LINE hits over CODE, non-test package code only. Comments
and string literals, docstrings included, are blanked before matching
(``tokenize``), so prose about ``.cache()`` is not a cache site and
rewording a docstring cannot move a count. The patterns are the audit's
four anti-pattern classes plus the documented Arrow-boundary sites
(applyInPandas/mapInPandas/mapInArrow), whose count is recorded so
"Python leaves the JVM only through Arrow at documented sites" stays
checkable.
"""

from __future__ import annotations

import io
import json
import re
import sys
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "e_commerce_data_warehouse_recommendation_system_spark"
AUDIT_JSON = REPO / "AUDIT.json"

#: name -> regex, matched per LINE over every .py under the package
PATTERNS: dict[str, str] = {
    # row-at-a-time Python UDFs (the slow path; must stay 0)
    "udf": r"F\.udf|functions\.udf\(",
    # whole-frame driver materialization (must stay 0)
    "toPandas": r"\.toPandas\(\)",
    # cartesian products (every site must be a documented bounded class:
    # 1-row scalar frames or bounded-slot stat frames)
    "crossJoin": r"\.crossJoin\(",
    # driver-side collects (documented classes only: 1-row scalars,
    # <=K lists, per-batch/per-cell audits)
    "collect": r"\.collect\(\)",
    # Arrow collects to the driver: the same class as collect, through
    # the columnar path (each site states what bounds it)
    "toArrow": r"\.toArrow\(\)",
    # Arrow boundary sites — the ONLY places Python touches row data
    "arrow_sites": r"applyInPandas|mapInPandas|mapInArrow",
    # .cache() sites (r12 verdict #1: the never-unpersisted-corpus-cache
    # class was re-introduced the same round it was fixed elsewhere — the
    # count is now a recorded audit class, so ANY new cache site fails CI
    # until deliberately regenerated and its boundedness reviewed; the
    # managed alternative for corpus-scale staging is an eager
    # localCheckpoint, ContextCleaner-reclaimed when the frame drops)
    "cache": r"\.cache\(\)",
    # eager-staging sites (localCheckpoint) — recorded so the
    # cache-vs-staged split stays visible round over round
    "local_checkpoint": r"\.localCheckpoint\(",
}

#: hard ceilings independent of the recorded counts: these two classes
#: are banned outright, not merely tracked
HARD_ZERO = ("udf", "toPandas")


def _code_lines(path: Path) -> list[str]:
    """The lines of a module with every comment and string literal
    (docstrings and f-strings included) blanked to spaces, so line
    numbers and the remaining code stay where they were."""
    text = path.read_text(encoding="utf-8")
    lines = [list(line) for line in text.splitlines()]
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type not in (tokenize.STRING, tokenize.COMMENT):
            continue
        (r0, c0), (r1, c1) = tok.start, tok.end
        for r in range(r0, r1 + 1):
            line = lines[r - 1]
            lo = c0 if r == r0 else 0
            hi = c1 if r == r1 else len(line)
            line[lo:hi] = " " * (hi - lo)
    return ["".join(line) for line in lines]


def measure(pkg: Path = PKG) -> dict[str, int]:
    counts = dict.fromkeys(PATTERNS, 0)
    compiled = {k: re.compile(v) for k, v in PATTERNS.items()}
    for path in sorted(pkg.rglob("*.py")):
        for line in _code_lines(path):
            for key, rx in compiled.items():
                if rx.search(line):
                    counts[key] += 1
    return counts


def cache_by_file(pkg: Path = PKG) -> dict[str, int]:
    """Per-file ``.cache()`` site counts — the cache-hygiene ledger: a new
    cache site shows up as a per-file delta, so review targets the file
    that moved, not a repo-wide diff."""
    rx = re.compile(PATTERNS["cache"])
    out: dict[str, int] = {}
    for path in sorted(pkg.rglob("*.py")):
        n = sum(1 for line in _code_lines(path) if rx.search(line))
        if n:
            out[str(path.relative_to(pkg))] = n
    return out


def sites(key: str) -> list[str]:
    rx = re.compile(PATTERNS[key])
    out = []
    for path in sorted(PKG.rglob("*.py")):
        raw = path.read_text(encoding="utf-8").splitlines()
        for i, line in enumerate(_code_lines(path), 1):
            if rx.search(line):
                out.append(f"{path.relative_to(REPO)}:{i}: {raw[i - 1].strip()}")
    return out


def recorded() -> dict[str, int]:
    return json.loads(AUDIT_JSON.read_text())["counts"]


def recorded_cache_by_file() -> dict[str, int]:
    return json.loads(AUDIT_JSON.read_text()).get("cache_by_file", {})


def check() -> tuple[bool, dict[str, int], dict[str, int]]:
    got, want = measure(), recorded()
    ok = (
        got == want
        and all(got[k] == 0 for k in HARD_ZERO)
        and cache_by_file() == recorded_cache_by_file()
    )
    return ok, got, want


def main() -> int:
    if "--sites" in sys.argv:
        key = sys.argv[sys.argv.index("--sites") + 1]
        print("\n".join(sites(key)))
        return 0
    got = measure()
    if "--update" in sys.argv:
        for k in HARD_ZERO:
            if got[k] != 0:
                print(f"REFUSED: {k} must be 0, measured {got[k]}")
                return 1
        AUDIT_JSON.write_text(
            json.dumps(
                {
                    "note": "generated by scripts/audit_antipatterns.py --update;"
                    " COVERAGE.md cites this file instead of transcribing counts",
                    "counts": got,
                    "cache_by_file": cache_by_file(),
                },
                indent=2,
            )
            + "\n"
        )
        print(json.dumps(got))
        return 0
    ok, got, want = check()
    print(json.dumps({"ok": ok, "measured": got, "recorded": want}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
