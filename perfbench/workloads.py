"""The two workloads: what each times, checks and reports per layer.

Every workload has one *batch* unit and many small *ops*, the two shapes
the shared end-to-end metrics ``batch_s`` and ``op_p50_ms`` report:

=========  ==================================  ============================
workload   batch unit (``batch_s``)            op (``op_p50_ms``)
=========  ==================================  ============================
warehouse  the nightly load: ``plans.etl.``    one dashboard query (call +
           ``run_pipeline`` into a fresh       ``collect``) of the page
           directory, ``sources.writers.``     that follows each nightly
           ``upsert_path`` of the delta, one   load: all 11 tiles in a
           ``stream_incremental_ingest``       seeded order
recommend  ``rec_pipeline_e2e`` from an        one ``serve_user`` request
           empty model memo                    for a seeded trained user
=========  ==================================  ============================

All clients are closed loops with one client: the next call is issued
when the previous one has returned. Output checks run between calls and
are never on the clock.

In a traced run the workload's repeated unit alternates between untraced
and traced (``Tracer.active``), starting untraced, so
``trace.overhead_ratio`` compares measured wall times of the two, leaving
out the first unit, which also pays the warm-up; the per-layer counters
come from the traced units.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from oracle import FACT_KEYS
from prepare import dashboard_pages, request_users

#: nightly + dashboard cycles per warehouse run, at least
MIN_CYCLES = 1
#: ... and when traced: a warm-up cycle, then one traced and one untraced
MIN_TRACED_CYCLES = 3
#: serve_user requests per recommend run, at least
MIN_REQUESTS = 5


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: int) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])


class Workload:
    name = ""
    unit = ""  # span name of the unit that alternates traced/untraced

    def __init__(self, bench):
        self.b = bench
        self.want = bench.want

    def engine_init(self) -> None:
        """One-time engine work that belongs to set-up (timed as set-up)."""

    def trace_hooks(self) -> None:
        """Spans inside engine calls, installed for traced runs only."""

    def measure(self) -> None:
        raise NotImplementedError

    def named(self) -> list[tuple[str, float, str, int]]:
        """The workload's own end-to-end metrics: (name, value, unit, n)."""
        return []

    def layer_metrics(self) -> dict:
        return {}

    def _check(self, what: str, cols, rows, want: str) -> None:
        self.b.check(what, self.b.digest(cols, rows) == want)


class Warehouse(Workload):
    name = "warehouse"
    unit = "warehouse.cycle"

    def __init__(self, bench):
        super().__init__(bench)
        e = bench.engine
        self.delta_path = os.path.join(bench.work, "delta.parquet")
        self.delta_bytes = os.path.getsize(self.delta_path)
        self.fns = {
            n: e.etl.star_revenue_by_date if n == "etl_star_revenue_by_date" else getattr(e.pq, n)
            for n in self.want["tiles"]
        }
        self.builds: list[float] = []
        self.upserts: list[float] = []
        self.ingests: list[float] = []
        self.files_written: list[int] = []
        self.pages: list[float] = []
        self.plan_s: list[float] = []
        self.exec_s: list[float] = []

    def _ingest(self, span_name: str):
        b = self.b
        with b.tracer.span(span_name) as s:
            df = b.engine.sq.stream_incremental_ingest(b.spark, b.data)
            rows = df.collect()
        self._check(span_name, df.columns, rows, self.want["ingest"])
        return s

    def engine_init(self):
        # the first streaming query pays the streaming engine's start-up
        self._ingest("streaming.engine_init")

    def trace_hooks(self):
        e = self.b.engine
        self.b.tracer.wrap(e.etl, "write_table", "writers.write")

    def measure(self):
        b = self.b
        deadline = time.perf_counter() + b.seconds
        pages = iter(dashboard_pages(b.seed, 10_000))
        cycles = MIN_TRACED_CYCLES if b.tracer.enabled else MIN_CYCLES
        cycle = 0
        while cycle < cycles or time.perf_counter() < deadline:
            b.tracer.active = cycle % 2 == 1
            with b.tracer.span(self.unit):
                self._nightly(os.path.join(b.work, f"etl_{cycle}"))
                self._dashboard(next(pages))
            cycle += 1

    def _nightly(self, out: str) -> None:
        """Full rebuild, keyed upsert of the delta, one stream drain."""
        b, e = self.b, self.b.engine
        fact_path = os.path.join(out, "fact_sales")
        delta_df = b.spark.read.parquet(self.delta_path)
        with b.tracer.span("etl.build") as build:
            counts = e.etl.run_pipeline(b.spark, b.data, out)
        if build.traced:
            self.files_written.append(_count_files(out))
        with b.tracer.span("writers.upsert") as up:
            e.writers.upsert_path(b.spark, fact_path, delta_df, FACT_KEYS)
        ingest = self._ingest("streaming.ingest")
        self.builds.append(build.dur)
        self.upserts.append(up.dur)
        self.ingests.append(ingest.dur)
        b.batch.append(build.dur + up.dur + ingest.dur)
        b.check("etl.build", counts == self.want["counts"], f"{counts} != {self.want['counts']}")
        self._check_upsert(fact_path, delta_df)
        shutil.rmtree(out, ignore_errors=True)

    def _check_upsert(self, fact_path, delta_df):
        b, want = self.b, self.want
        fact = b.spark.read.parquet(fact_path)
        n = fact.count()
        b.check("writers.upsert rows", n == want["fact_rows_after_upsert"],
                f"{n} != {want['fact_rows_after_upsert']}")
        touched = (
            fact.join(delta_df.select(*FACT_KEYS), FACT_KEYS, "left_semi")
            .select(*want["delta_cols"])
            .collect()
        )
        self._check("writers.upsert values", want["delta_cols"], touched, want["delta_digest"])

    def _dashboard(self, page: list[str]) -> None:
        """One dashboard page: every tile, called and collected in turn."""
        b = self.b
        results = []
        with b.tracer.span("dashboard.page") as sp:
            for name in page:
                with b.tracer.span(f"queries.{name}") as q:
                    t0 = time.perf_counter()
                    df = self.fns[name](b.spark, b.data)
                    t1 = time.perf_counter()
                    rows = df.collect()
                    t2 = time.perf_counter()
                self.plan_s.append(t1 - t0)
                self.exec_s.append(t2 - t1)
                b.ops.append(q.dur)
                results.append((name, df.columns, rows))
        self.pages.append(sp.dur)
        for name, cols, rows in results:
            self._check(name, cols, rows, self.want["tiles"][name])

    def named(self):
        ops_ms = [x * 1e3 for x in self.b.ops]
        return [
            ("nightly_s", median(self.b.batch), "s", len(self.b.batch)),
            ("etl_build_s", median(self.builds), "s", len(self.builds)),
            ("etl_upsert_s", median(self.upserts), "s", len(self.upserts)),
            ("ingest_s", median(self.ingests), "s", len(self.ingests)),
            ("query_p50_ms", median(ops_ms), "ms", len(ops_ms)),
            ("query_p90_ms", percentile(ops_ms, 90), "ms", len(ops_ms)),
            ("page_s", median(self.pages), "s", len(self.pages)),
        ]

    def layer_metrics(self):
        t = self.b.tracer
        builds = t.named("etl.build", traced=True)
        writes = [[c for c in t.spans if c.parent is s] for s in builds]
        ups = t.named("writers.upsert", traced=True)
        ingests = t.named("streaming.ingest", traced=True)
        qs = [s for s in t.spans if s.name.startswith("queries.") and s.traced]
        return {
            "readers.input_bytes": median([s.stats["input_bytes"] for s in qs]),
            "readers.scan_tasks": median([s.stats["scan_tasks"] for s in qs]),
            "queries.plan_ms": median(self.plan_s) * 1e3,
            "queries.exec_ms": median(self.exec_s) * 1e3,
            "queries.jobs_per_query": sum(s.jobs for s in qs) / max(len(qs), 1),
            "queries.shuffle_bytes": sum(s.stats["shuffle_write_bytes"] for s in qs) / max(len(qs), 1),
            "etl.input_bytes": median([s.stats["input_bytes"] for s in builds]),
            "etl.plan_s": median([t.self_time(s) for s in builds]),
            "etl.shuffle_bytes": median([s.stats["shuffle_write_bytes"] for s in builds]),
            "writers.write_s": median([sum(c.dur for c in w) for w in writes]),
            "writers.output_bytes": median([s.stats["output_bytes"] for s in builds]),
            "writers.files_written": median(self.files_written),
            "writers.upsert_s": median([s.dur for s in ups]),
            "writers.upsert_bytes_per_delta_byte": median(
                [s.stats["output_bytes"] / self.delta_bytes for s in ups]
            ),
            "writers.delta_bytes": float(self.delta_bytes),
            "streaming.ingest_s": median([s.dur for s in ingests]),
            "streaming.batches": median([len(s.batches) for s in ingests]),
        }


class Recommend(Workload):
    name = "recommend"
    unit = "recommend.serve_user"

    def trace_hooks(self):
        from pyspark.ml.recommendation import ALS

        t, rq = self.b.tracer, self.b.engine.rq
        t.wrap(ALS, "fit", "recommend.fit")
        # both return lazy plans that the pipeline's stage pool then runs
        t.wrap(rq, "mmr_rerank", "recommend.mmr", sticky=True)
        t.wrap(rq, "rec_eval_metrics", "recommend.eval", sticky=True)

    def measure(self):
        b, rq = self.b, self.b.engine.rq
        deadline = time.perf_counter() + b.seconds
        # the daily refresh starts cold: no memoized model, no cached frames
        rq._CACHE.clear()
        b.spark.catalog.clearCache()
        b.tracer.active = True
        with b.tracer.span("recommend.refresh") as sp:
            df = rq.rec_pipeline_e2e(b.spark, b.data)
            rows = df.collect()
        b.batch.append(sp.dur)
        self._check("rec_pipeline_e2e", df.columns, rows, self.want["rec_pipeline_e2e"])
        users = iter(request_users(b.seed, self.want["users"], 10_000))
        served = 0
        while served < MIN_REQUESTS or time.perf_counter() < deadline:
            user = next(users)
            b.tracer.active = served % 2 == 1
            with b.tracer.span(self.unit) as s:
                recs = rq.serve_user(b.spark, b.data, user).collect()
            b.ops.append(s.dur)
            ranks = sorted(r.rnk for r in recs)
            ok = (
                ranks == list(range(1, rq.TOP_K + 1))
                and {r.user_id for r in recs} == {user}
                and len({r.item_id for r in recs}) == rq.TOP_K
            )
            b.check(f"serve_user({user})", ok, str(recs)[:300])
            served += 1

    def named(self):
        ops_ms = [x * 1e3 for x in self.b.ops]
        return [
            ("rec_refresh_s", median(self.b.batch), "s", len(self.b.batch)),
            ("user_req_p50_ms", median(ops_ms), "ms", len(ops_ms)),
            ("user_req_p90_ms", percentile(ops_ms, 90), "ms", len(ops_ms)),
        ]

    def layer_metrics(self):
        t = self.b.tracer
        reqs = t.named(self.unit, traced=True)
        refresh = t.named("recommend.refresh")
        return {
            "readers.input_bytes": median([s.stats["input_bytes"] for s in refresh]),
            "readers.scan_tasks": median([s.stats["scan_tasks"] for s in refresh]),
            "recommend.fit_s": median([s.dur for s in t.named("recommend.fit")]),
            "recommend.mmr_s": median([s.dur for s in t.named("recommend.mmr")]),
            "recommend.eval_s": median([s.dur for s in t.named("recommend.eval")]),
            "recommend.serve_self_s": median([t.self_time(s) for s in refresh]),
            "recommend.user_req_jobs": median([s.jobs for s in reqs]),
            "recommend.user_req_tasks": median([s.stats["tasks"] for s in reqs]),
        }


WORKLOADS = {w.name: w for w in (Warehouse, Recommend)}


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )
