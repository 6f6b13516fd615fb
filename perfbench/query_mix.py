"""``query_mix``: registered queries over a re-blocked, seeded star schema.

Set-up generates the ten tables from the seed (outside the timed
set-up), then ``reblock_sf_dir`` builds the multi-block copy every query
reads. The timed phase runs each query of ``QUERIES`` once cold, then in
warm passes until the time is up; every pass is an order permuted by
the seed. A run is DataFrame construction (``spec.spark``) plus a write
to the noop sink. After the timed phase, every query is checked against
its DuckDB oracle twin with ``testing.compare_query``.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

from spans import EventLog, layer_values, median
from tablegen import write_tables

SF = 0.005  # 30k lineitems: the queries stay planning/construction heavy
# One or two queries per behaviour class; the class decides which layer
# a change to the engine moves.
QUERIES = {
    "build jobs on every warm run": ("c24",),
    "build jobs on the first build only": ("r99",),
    "execution-bound": ("l66",),
    "python-stage fan-out": ("l04",),
    "codec cold compile": ("mm12",),
    "scan floor and flagship compaction": ("r01", "c06"),
}
MIN_WARM_PASSES = 3


class QueryMix:
    def __init__(self, bench) -> None:
        from graal_cdc_spark.queries import all_specs

        self.bench = bench
        by_prefix = {name.split("_", 1)[0]: spec for name, spec in all_specs().items()}
        self.names = [q for qs in QUERIES.values() for q in qs]
        self.specs = {q: by_prefix[q] for q in self.names}
        self.src = write_tables(os.path.join(bench.work, "src"), bench.seed, SF)
        h = hashlib.sha256()
        for f in sorted(os.listdir(self.src)):
            with open(os.path.join(self.src, f), "rb") as fh:
                h.update(fh.read())
        self.fingerprint = f"generated sf={SF} seed={bench.seed} sha256={h.hexdigest()[:16]}"
        self.sf_dir = ""
        self.reblock: list[float] = []
        self.ops = self.failed_ops = self.checks = self.failed_checks = 0
        self.problems: list[str] = []

    def setup(self, k: int) -> float:
        from graal_cdc_spark.sources.tables import load_table, reblock_sf_dir

        spark, tr = self.bench.spark, self.bench.tracer
        t0 = time.perf_counter()
        with tr.span("sources.reblock_sf_dir"):
            self.sf_dir = reblock_sf_dir(spark, self.src, os.path.join(self.bench.work, f"reblock-{k}"))
        self.reblock.append(time.perf_counter() - t0)
        # warm-up: one scan job, so the first timed query does not pay
        # for the session's first job
        load_table(spark, self.sf_dir, "lineitem").count()
        return time.perf_counter() - t0

    def _run(self, q: str, rid: str) -> tuple[float, float] | None:
        spark, tr = self.bench.spark, self.bench.tracer
        self.ops += 1
        try:
            t0 = time.perf_counter()
            with tr.span(f"queries.{q}.spark", rid):
                df = self.specs[q].spark(spark, self.sf_dir)
            t1 = time.perf_counter()
            with tr.span(f"operators.{q}.noop_write", rid):
                df.write.format("noop").mode("overwrite").save()
            return t1 - t0, time.perf_counter() - t1
        except Exception as exc:  # a failing query is counted, the run goes on
            self.failed_ops += 1
            self.problems.append(f"{q}: {type(exc).__name__}: {str(exc)[:200]}")
            return None

    def warm_up(self) -> float:
        """Nothing beyond set-up: each set-up ends with its own warm-up scan."""
        return 0.0

    def measure(self, seconds: float, share: float = 1.0) -> dict:
        """The cold pass, then warm passes for ``seconds`` and at least
        ``share`` of MIN_WARM_PASSES."""
        min_passes = max(1, round(MIN_WARM_PASSES * share))
        rng = random.Random(self.bench.seed)
        t_end = time.perf_counter() + seconds
        cold, warm = {}, {q: [] for q in self.names}
        order = list(self.names)
        rng.shuffle(order)
        for q in order:
            cold[q] = self._run(q, "cold")
        passes = 0
        while passes < min_passes or time.perf_counter() < t_end:
            rng.shuffle(order)
            for q in order:
                warm[q].append(self._run(q, f"warm{passes}"))
            passes += 1
        ok = {q: [c + e for c, e in (s for s in warm[q] if s)] for q in self.names}
        per_query = [median(v) for v in ok.values() if v]
        return {
            "latency_p50_s": median(x for v in ok.values() for x in v),
            "work_per_s": len(per_query) / sum(per_query) if per_query else 0.0,
            "cold_s": sum(sum(c) for c in cold.values() if c),
            "cold": cold,
            "warm": warm,
            "detail": {q: [round(sum(cold[q]), 3) if cold[q] else None,
                           round(median(ok[q]), 3)] for q in self.names},
        }

    def finish(self) -> None:
        from graal_cdc_spark.testing import compare_query

        for q in self.names:
            self.checks += 1
            try:
                compare_query(self.bench.spark, self.specs[q], self.sf_dir)
            except Exception as exc:  # AssertionError or an engine error
                self.failed_checks += 1
                self.problems.append(f"{q} oracle: {type(exc).__name__}: {str(exc)[:200]}")

    def layer_metrics(self, traced: dict) -> dict:
        log = EventLog.parse(os.path.join(self.bench.work, "eventlog"))
        spans = {(sp.name, sp.run_id): sp for sp in self.bench.tracer.spans}
        per: dict[str, list[float]] = {k: [] for k in (
            "queries.construct_s", "queries.construct_jobs", "queries.cold_extra_s",
            "operators.execute_s", "operators.jobs", "operators.tasks",
            "operators.task_run_s", "operators.shuffle_write_bytes", "operators.python_s",
        )}
        runs = sorted({rid for _, rid in spans if rid.startswith("warm")})
        for q in self.names:
            build = [spans[(f"queries.{q}.spark", r)] for r in runs if (f"queries.{q}.spark", r) in spans]
            execs = [spans[(f"operators.{q}.noop_write", r)] for r in runs
                     if (f"operators.{q}.noop_write", r) in spans]
            if not build or not execs:
                continue
            stats = [log.for_span(sp) for sp in execs]
            per["queries.construct_s"].append(median(sp.seconds for sp in build))
            per["queries.construct_jobs"].append(median(log.for_span(sp).jobs for sp in build))
            per["operators.execute_s"].append(median(sp.seconds for sp in execs))
            per["operators.jobs"].append(median(s.jobs for s in stats))
            per["operators.tasks"].append(median(s.tasks for s in stats))
            per["operators.task_run_s"].append(median(s.task_run_s for s in stats))
            per["operators.shuffle_write_bytes"].append(median(s.shuffle_write_bytes for s in stats))
            per["operators.python_s"].append(median(s.python_s for s in stats))
            cold = traced["cold"].get(q)
            warm = [c + e for c, e in (s for s in traced["warm"][q] if s)]
            if cold and warm:
                per["queries.cold_extra_s"].append(sum(cold) - median(warm))
        out = layer_values(per, {})
        out["sources.reblock_s"] = median(self.reblock)
        return out

    def verdict(self) -> tuple[int, int, list[str]]:
        return self.ops + self.checks, self.failed_ops + self.failed_checks, self.problems

    def close(self) -> None:
        pass
