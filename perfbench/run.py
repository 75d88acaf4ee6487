"""Repository benchmark: warehouse build, dashboard queries, recommender.

Run from the root of a checkout::

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

The inputs are the engine's sf0.01 test tables under ``perfbench/data/``;
``--seed`` picks the fact delta, the dashboard page orders and the users
served. A separate process (``prepare.py``) first writes the delta and the
expected answers with DuckDB. Then this process starts the engine's Spark
session on ``local[<cores>]`` (set-up, timed ``SETUP_REPS`` times), runs the
workload for at least ``--seconds`` seconds, checks every output, and prints
one JSON line as the last line of standard output: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (see
README.md). A readable report, with the workload's own metric names and
sample counts, goes to standard error. Everything the run writes is under
``.perfbench_work/`` and removed before it exits, and the JVM it starts has
ended by then.

The engine is driven only through its public modules, imported from the
checkout this file sits in; without them the run fails before printing a
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

from oracle import HERE, ROOT, digest, engine_module, load_checker

DEFAULT_DATA = os.path.join(HERE, "data", "sf0.01")
#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3
#: hard stop, below the 180 s a run may take
WALL_LIMIT_S = 170
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "op_p50_ms": "ms",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "readers.prepare_s": "s",
    "streaming.engine_init_s": "s",
    "readers.input_bytes": "bytes",
    "readers.scan_tasks": "count",
    "queries.plan_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.jobs_per_query": "count",
    "queries.shuffle_bytes": "bytes",
    "etl.input_bytes": "bytes",
    "etl.plan_s": "s",
    "etl.shuffle_bytes": "bytes",
    "writers.write_s": "s",
    "writers.output_bytes": "bytes",
    "writers.files_written": "count",
    "writers.upsert_s": "s",
    "writers.upsert_bytes_per_delta_byte": "ratio",
    "writers.delta_bytes": "bytes",
    "streaming.ingest_s": "s",
    "streaming.batches": "count",
    "recommend.fit_s": "s",
    "recommend.mmr_s": "s",
    "recommend.eval_s": "s",
    "recommend.serve_self_s": "s",
    "recommend.user_req_jobs": "count",
    "recommend.user_req_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "bench.batch_samples": "count",
    "bench.op_samples": "count",
}


class Timeout(Exception):
    pass


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def phase(name: str) -> None:
    log(f"{name} at {time.perf_counter() - _T0:.2f} s")


class Engine:
    """The engine modules the benchmark calls, imported from the checkout."""

    def __init__(self):
        self.session = engine_module("session")
        self.readers = engine_module("sources.readers")
        self.writers = engine_module("sources.writers")
        self.etl = engine_module("plans.etl")
        self.pq = engine_module("plans.queries")
        self.sq = engine_module("streaming.queries")
        self.rq = engine_module("recommend.queries")


class Bench:
    def __init__(self, args, work: str, want: dict):
        from spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.data = args.data
        self.work = work
        self.want = want
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(bool(args.trace))
        self.checker = load_checker()
        self.engine = Engine()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setups: list[float] = []
        self.batch: list[float] = []
        self.ops: list[float] = []

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"WRONG OUTPUT {what} {detail}")

    def digest(self, cols, rows) -> str:
        return digest(self.checker, cols, rows)

    def conf(self) -> dict:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            # keep every job and stage of the run for attribution
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        return conf

    def start_session(self, workload) -> None:
        t = self.tracer
        t0 = time.perf_counter()
        with t.span("session.get_spark"):
            self.spark = self.engine.session.get_spark(
                app_name="perfbench", master=f"local[{self.cpus}]", extra_conf=self.conf()
            )
        t.sc = self.spark.sparkContext
        with t.span("readers.prepare"):
            self.engine.readers.prepare(self.spark, self.data)
        workload.engine_init()
        self.setups.append(time.perf_counter() - t0)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the JVM it drives."""
    proc = _jvm_proc()
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024.0


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it (it exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - best effort; the process is reaped below
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def end_to_end(b: Bench) -> dict:
    from workloads import median

    return {
        "setup_s": median(b.setups),
        "batch_s": median(b.batch),
        "op_p50_ms": median(b.ops) * 1e3,
    }


def per_layer(b: Bench, workload) -> dict:
    from workloads import median

    t = b.tracer
    t.harvest()
    units = t.named(workload.unit)[1:]  # the first unit also pays the warm-up
    traced = [s for s in units if s.traced]
    untraced = [s.dur for s in units if not s.traced]
    out = {name: 0.0 for name in PER_LAYER}
    out.update(
        {
            "session.get_spark_s": median([s.dur for s in t.named("session.get_spark")]),
            "readers.prepare_s": median([s.dur for s in t.named("readers.prepare")]),
            "streaming.engine_init_s": median([s.dur for s in t.named("streaming.engine_init")]),
            "spark.executor_run_s": median([s.stats["run_ms"] for s in traced]) / 1e3,
            "spark.gc_s": median([s.stats["gc_ms"] for s in traced]) / 1e3,
            "spark.tasks": median([s.stats["tasks"] for s in traced]),
            "spark.shuffle_write_bytes": median([s.stats["shuffle_write_bytes"] for s in traced]),
            "spark.core_busy_ratio": median(
                [s.stats["run_ms"] / 1e3 / (s.dur * b.cpus) for s in traced if s.dur > 0]
            ),
            "trace.overhead_ratio": median([s.dur for s in traced]) / median(untraced)
            if untraced
            else 0.0,
            "spark.peak_rss_mb": peak_rss_mb(),
            "bench.batch_samples": float(len(b.batch)),
            "bench.op_samples": float(len(b.ops)),
        }
    )
    out.update(workload.layer_metrics())
    return out


def report(b: Bench, workload, e2e: dict) -> None:
    """Readable summary on stderr, in the workload's own terms."""
    named = workload.named() + [
        ("setup_s", e2e["setup_s"], "s", len(b.setups)),
        ("peak_rss_mb", peak_rss_mb(), "MB", 1),
        ("failed_ratio", b.failed / max(b.attempted, 1), "ratio", b.attempted),
    ]
    for name, value, unit, n in named:
        log(f"{workload.name} {name} = {value:.4f} {unit} (n={n})")
    log(f"{workload.name} batch samples (s): {' '.join(f'{x:.3f}' for x in b.batch)}")
    log(f"{workload.name} op samples (ms): {' '.join(f'{x * 1e3:.1f}' for x in b.ops)}")
    if b.tracer.enabled:
        for layer, s in sorted(b.tracer.self_time_by_layer().items()):
            log(f"{workload.name} self time {layer} = {s:.4f} s")


def prepare_inputs(args, work: str) -> dict:
    """Run ``prepare.py`` in its own process and load what it wrote."""
    subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "prepare.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--data", args.data,
            "--out", work,
        ],
        check=True,
        stdout=sys.stderr,
        timeout=120,
    )
    with open(os.path.join(work, "expected.json")) as fh:
        return json.load(fh)


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    want = prepare_inputs(args, work)
    phase("inputs ready")
    b = Bench(args, work, want)
    workload = WORKLOADS[args.workload](b)
    phase("engine imported")
    try:
        for _ in range(SETUP_REPS):
            b.stop_session()
            b.start_session(workload)
            phase("set-up done")
        if b.tracer.enabled:
            workload.trace_hooks()
        try:
            workload.measure()
        finally:
            b.tracer.unwrap_all()
        phase("measured")
        e2e = end_to_end(b)
        if b.tracer.enabled:
            metrics, units = per_layer(b, workload), PER_LAYER
            if args.spans:
                b.tracer.dump(args.spans)
        else:
            metrics, units = e2e, END_TO_END
        report(b, workload, e2e)
    finally:
        b.stop_session()
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA, help="directory of the input tables")
    ap.add_argument("--spans", help="traced runs: write every span to this file (JSON lines)")
    args = ap.parse_args(argv)
    args.data = os.path.abspath(args.data)

    sys.dont_write_bytecode = True
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything the run and its child processes write stays in ``work``
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    # measure the engine's own shuffle-partition default, whatever the caller set
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    def on_alarm(signum, frame):
        raise Timeout(f"run exceeded {WALL_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WALL_LIMIT_S)
    code, result = 0, None
    try:
        result = run(args, work)
    except Exception:  # noqa: BLE001 - any failure: report it, print no result
        traceback.print_exc()
        code = 1
    finally:
        signal.alarm(0)
        if "pyspark" in sys.modules:
            shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        phase("stopped")
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    if result is not None:
        print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
