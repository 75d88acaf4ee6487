"""Smoke test of the benchmark on the sf0.001 tables.

    python3 perfbench/smoke.py

Checks, for every workload in ``BENCHMARK.json``:

- the same seed gives the same inputs and op sequence (the fact delta, the
  expected answers, the dashboard page orders, the users served), and
  another seed gives others;
- an untraced run prints every end-to-end metric and a traced run every
  per-layer metric, each with the unit ``BENCHMARK.json`` gives it, with
  every output correct;
- the stderr report names the workload's own metrics with their units;
- the per-request and per-query job counts repeat exactly across two
  traced runs with different seeds.

Exits 0 when every check passes, 1 otherwise. Takes about eight minutes on
four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")

#: the workload's own metric names the stderr report must carry
NAMED = {
    "warehouse": ["nightly_s", "etl_build_s", "etl_upsert_s", "ingest_s",
                  "query_p50_ms", "query_p90_ms", "page_s"],
    "recommend": ["rec_refresh_s", "user_req_p50_ms", "user_req_p90_ms"],
}
#: per-layer counts that must repeat exactly across runs
EXACT = {
    "warehouse": ["queries.jobs_per_query"],
    "recommend": ["recommend.user_req_jobs"],
}

failures: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def prepare(workload: str, seed: int, out: str) -> tuple[dict, bytes]:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", workload,
         "--seed", str(seed), "--data", DATA, "--out", out],
        check=True, stdout=subprocess.DEVNULL,
    )
    with open(os.path.join(out, "expected.json")) as fh:
        want = json.load(fh)
    delta = os.path.join(out, "delta.parquet")
    blob = b""
    if os.path.exists(delta):
        with open(delta, "rb") as fh:
            blob = fh.read()
    return want, blob


def run(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--data", DATA],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(proc.stderr[-3000:], file=sys.stderr)
        return {}, proc.stderr
    return json.loads(lines[-1]), proc.stderr


def main() -> int:
    sys.path.insert(0, HERE)
    from prepare import dashboard_pages, request_users

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }

    check(dashboard_pages(1, 5) == dashboard_pages(1, 5), "same seed, same dashboard pages")
    check(dashboard_pages(1, 5) != dashboard_pages(2, 5), "other seed, other dashboard pages")
    users = list(range(100))
    check(request_users(1, users, 20) == request_users(1, users, 20), "same seed, same users")
    check(request_users(1, users, 20) != request_users(2, users, 20), "other seed, other users")

    for w in bench["workloads"]:
        name = w["name"]
        with tempfile.TemporaryDirectory(dir=HERE, prefix=".smoke-") as tmp:
            a = prepare(name, 1, os.path.join(tmp, "a"))
            b = prepare(name, 1, os.path.join(tmp, "b"))
            c = prepare(name, 2, os.path.join(tmp, "c"))
        check(a == b, f"{name}: same seed, same inputs and expected answers")
        if a[1]:
            check(a[1] != c[1], f"{name}: other seed, other delta")

        counts = []
        for seed, trace in ((1, 0), (1, 1), (2, 1)):
            result, err = run(name, seed, trace)
            tag = f"{name} seed {seed} trace {trace}"
            check(result.get("correct") is True and result.get("failed") == 0
                  and result.get("attempted", 0) >= 1, f"{tag}: correct")
            got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
            check(got == units[trace], f"{tag}: every metric with its unit")
            if trace == 0:
                for metric in NAMED[name]:
                    check(f"{name} {metric} = " in err, f"{tag}: report names {metric}")
            else:
                counts.append({k: result.get("metrics", {}).get(k, {}).get("value") for k in EXACT[name]})
        check(len(counts) == 2 and counts[0] == counts[1] and None not in counts[0].values(),
              f"{name}: {', '.join(EXACT[name])} repeat exactly ({counts})")

    print(f"{len(failures)} failed", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
