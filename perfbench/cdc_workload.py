"""Closed-loop CDC workloads: generator -> graal_cdc_log -> parse -> silver -> ES.

One producer, one continuously running pipeline
(``PipelineRunner(source_format="graal_cdc_log")`` with a default
processing-time trigger). Each round is written with
``append_segment`` to a staging directory and renamed into the log as
the next sealed segment, so a live reader never sees half a round: the
run asserts one micro-batch per round. The next round is published
only after the sink has returned for the previous one.

The sink is the production composition a CDC user deploys: persist the
parsed batch, ``SilverSchemaEvolution.process_batch``, then
``write_cdc_dataframe`` over the real ``urllib_transport`` into the ES
lookalike, which runs in its own process.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.request
from pathlib import Path

import pyarrow.parquet as pq

from cdcgen import DB, EVOLVE_ROUND, TABLES, CdcGenerator, ExpectedState
from spans import EventLog, layer_values, median

FIRST_ROUND_EVENTS = 2_000  # in the log before a fresh pipeline starts
MIN_ROUNDS = 3
WARMUP_ROUNDS = 1  # untimed, after the last restart
ROUND_TIMEOUT_S = 60.0


class _Stream:
    """One pipeline instance with its own log, checkpoint, silver root
    and ES index; fed from a fresh generator of the run's seed."""

    def __init__(self, bench, es_port: int, k: int) -> None:
        from graal_cdc_spark.pipelines.registry import Pipeline
        from graal_cdc_spark.pipelines.runner import PipelineRunner
        from graal_cdc_spark.sinks import EsSinkConfig
        from graal_cdc_spark.streaming.silver import SilverSchemaEvolution

        self.bench = bench
        self.base = os.path.join(bench.work, f"cdc-{k}")
        self.log, self.stage = f"{self.base}/log", f"{self.base}/stage"
        os.makedirs(self.log)
        self.index = f"cdc-{k}"
        self.es_url = f"http://127.0.0.1:{es_port}"
        self.es_cfg = EsSinkConfig(
            url=f"{self.es_url}/{self.index}", username="bench", password="bench", id_key="key"
        )
        self.gen = CdcGenerator(bench.seed)
        self.expected = ExpectedState()
        self.lake = SilverSchemaEvolution(bench.spark, f"{self.base}/silver")
        self.runner = PipelineRunner(
            bench.spark, replay_dir=self.log, checkpoint_root=f"{self.base}/ck",
            source_format="graal_cdc_log",
        )
        self.pipe = Pipeline(
            name=f"bench-{k}", path=Path(self.base), version=0.0, db=None, tables=(),
            transform=lambda df: df,
        )
        self.run = None
        self.done: list[dict] = []  # one entry per sink call
        self.sink_error: BaseException | None = None
        self._returned = threading.Event()
        self.rounds: list[dict] = []
        self.finished = False
        self.progress_by_batch: dict[int, dict] = {}

    def start(self) -> None:
        with self.bench.tracer.span("pipelines.PipelineRunner.start"):
            self.run = self.runner.start(self.pipe, self._sink, available_now=False)

    def _sink(self, df, batch_id: int) -> None:
        from graal_cdc_spark.sinks import write_cdc_dataframe

        tr, rid = self.bench.tracer, f"b{batch_id}"
        rows = 0
        try:
            with tr.span("cdc.materialize", rid):
                batch = df.persist()
                rows = batch.count()
            try:
                with tr.span("streaming.process_batch", rid):
                    self.lake.process_batch(batch, batch_id)
                with tr.span("sinks.write_cdc_dataframe", rid):
                    write_cdc_dataframe(
                        batch.select("key", "op", "seq", "tbl", "after_json"), self.es_cfg
                    )
            finally:
                batch.unpersist()
        except BaseException as exc:
            self.sink_error = exc
            raise
        finally:
            self.done.append({"batch_id": batch_id, "rows": rows, "end": time.perf_counter()})
            self._returned.set()

    def es_stats(self) -> dict:
        with urllib.request.urlopen(f"{self.es_url}/_bench/stats", timeout=30) as r:
            return json.loads(r.read())

    def publish(self, n: int) -> tuple[str, int, float]:
        """Write the next round to staging and rename it into the log;
        returns (round id, valid events, publish time)."""
        from graal_cdc_spark.sources.cdc_log_ds import append_segment

        events = self.gen.round(n)
        valid = self.expected.apply(events)
        rid = f"r{self.gen.rounds - 1}"
        with self.bench.tracer.span("sources.publish_segment", rid):
            shutil.rmtree(self.stage, ignore_errors=True)
            staged = append_segment(self.stage, events)
            t0 = time.perf_counter()
            os.rename(staged, f"{self.log}/segment-{self.gen.rounds - 1:08d}.jsonl")
        return rid, valid, t0

    def wait(self, calls: int, rid: str) -> dict:
        """Block until the sink has returned more than ``calls`` times."""
        deadline = time.perf_counter() + ROUND_TIMEOUT_S
        while len(self.done) <= calls:
            if self.sink_error is not None or not self.run.query.isActive:
                raise RuntimeError(f"pipeline stopped: {self.sink_error or self.run.query.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError(f"round {rid} not delivered in {ROUND_TIMEOUT_S:.0f} s")
            self._returned.wait(0.05)
            self._returned.clear()
        if self.sink_error is not None:
            raise RuntimeError(f"sink failed: {self.sink_error}")
        return self.done[-1]

    def round(self, n: int, with_stats: bool = False) -> dict:
        """Publish one round and wait for its sink call to return."""
        stats0 = self.es_stats() if with_stats else None
        calls = len(self.done)
        rid, valid, t0 = self.publish(n)
        done = self.wait(calls, rid)
        rec = {"events": n, "valid": valid, "latency_s": done["end"] - t0,
               "batch_id": done["batch_id"]}
        if with_stats:
            stats1 = self.es_stats()
            rec.update({k: stats1[k] - stats0[k] for k in ("requests", "docs", "retries")})
        self.rounds.append(rec)
        return rec

    def progress(self) -> dict[int, dict]:
        out = {}
        for p in self.run.query.recentProgress:
            p = p if isinstance(p, dict) else json.loads(p.json)
            if p.get("numInputRows", 0) > 0:
                out[p["batchId"]] = p
        return out

    def stop(self) -> None:
        """Stop once the last delivered batch is committed, so a restart
        does not replay it."""
        q = self.run.query if self.run is not None else None
        if q is not None and self.done:
            deadline = time.perf_counter() + ROUND_TIMEOUT_S
            while q.isActive and time.perf_counter() < deadline:
                p = q.lastProgress
                p = p if p is None or isinstance(p, dict) else json.loads(p.json)
                if p is not None and p["batchId"] >= self.done[-1]["batch_id"]:
                    break
                time.sleep(0.01)
        self.runner.stop_all()

    def finish(self) -> list[str]:
        self.stop()
        self.finished = True
        self.progress_by_batch = self.progress()
        return self.check()

    def silver_rows_by_batch(self) -> dict[int, int]:
        out: dict[int, int] = {}
        for f in glob.glob(f"{self.base}/silver/silver/*/*/batch-*/*.parquet"):
            bid = int(os.path.basename(os.path.dirname(f)).split("-")[1])
            out[bid] = out.get(bid, 0) + pq.ParquetFile(f).metadata.num_rows
        return out

    def check(self) -> list[str]:
        """Compare what the pipeline delivered with the oracle."""
        problems = []
        # the pipeline's first trigger may run an empty batch; every
        # round must arrive as exactly one batch with data
        batches = sum(1 for d in self.done if d["rows"] > 0)
        if batches != len(self.rounds):
            problems.append(
                f"{self.index}: {batches} micro-batches for {len(self.rounds)} rounds"
            )
        with urllib.request.urlopen(f"{self.es_url}/{self.index}/_bench/store", timeout=60) as r:
            store = json.loads(r.read())
        want = self.expected.es_docs()
        if set(store) != set(want):
            problems.append(
                f"{self.index}: ES holds {len(store)} docs, oracle {len(want)}; "
                f"e.g. {sorted(set(store) ^ set(want))[:3]}"
            )
        bad = [
            k for k, (seq, after) in want.items()
            if k in store and (store[k].get("seq") != seq
                               or json.loads(store[k].get("after_json") or "null") != after)
        ]
        if bad:
            problems.append(f"{self.index}: {len(bad)} ES docs differ from the final op, e.g. {bad[:3]}")
        seqs = set()
        for f in glob.glob(f"{self.base}/silver/silver/{DB}/*/batch-*/*.parquet"):
            seqs.update(pq.read_table(f, columns=["seq"]).column("seq").to_pylist())
        if seqs != self.expected.silver_seqs:
            problems.append(
                f"{self.index}: silver holds {len(seqs)} row events, oracle "
                f"{len(self.expected.silver_seqs)}"
            )
        if self.gen.rounds > EVOLVE_ROUND:
            users = glob.glob(f"{self.base}/silver/silver/{DB}/users/batch-*-v2")
            if not users:
                problems.append(f"{self.index}: users never reached schema version 2")
        return problems


class CdcWorkload:
    def __init__(self, bench, round_events: int) -> None:
        self.bench, self.round_events = bench, round_events
        self.fingerprint = f"generated cdc seed={bench.seed} keys=5000 tables={len(TABLES)}"
        self.es = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "es_server.py")],
            stdout=subprocess.PIPE, text=True,
        )
        self.es_port = int(self.es.stdout.readline())
        self.stream: _Stream | None = None
        self.cold: list[float] = []
        self.ops = self.failed_ops = self.checks = self.failed_checks = 0
        self.problems: list[str] = []

    def setup(self, k: int) -> float:
        """Restart the pipeline from its checkpoint; returns the seconds
        from ``PipelineRunner.start`` to its first completed trigger.

        Before the first restart of a session, a fresh pipeline takes
        its first round (already in the log when it starts, so it is the
        first batch); that round's latency from the start call is cold_s.
        """
        if self.stream is None or self.stream.finished:
            s = self.stream = _Stream(self.bench, self.es_port, k)
            rid, valid, _ = s.publish(FIRST_ROUND_EVENTS)
            t0 = time.perf_counter()
            s.start()
            done = s.wait(0, rid)
            s.rounds.append({"events": FIRST_ROUND_EVENTS, "valid": valid,
                             "latency_s": done["end"] - t0, "batch_id": done["batch_id"]})
            self.cold.append(done["end"] - t0)
        s = self.stream
        s.stop()
        t0 = time.perf_counter()
        s.start()
        q = s.run.query
        while q.lastProgress is None:
            if not q.isActive:
                raise RuntimeError(f"pipeline failed to restart: {q.exception()}")
            time.sleep(0.01)
        return time.perf_counter() - t0

    def warm_up(self) -> float:
        """Untimed rounds after the last restart; returns the set-up
        seconds spent outside ``setup``: the fresh pipeline's first round
        plus these rounds.

        Round times fall steeply over the first rounds after a restart
        (~6.5 s to ~4.8 s on a 4-core box, flat from about the fifth);
        timing only the flatter stretch keeps a run's median off the
        JIT warm-up curve."""
        t0 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            if not self._round():
                break
        return self.cold[-1] + time.perf_counter() - t0

    def _round(self) -> bool:
        """One counted round; a failure is recorded, not raised."""
        self.ops += 1
        try:
            self.stream.round(self.round_events, with_stats=self.bench.tracer.enabled)
        except (RuntimeError, TimeoutError) as exc:
            self.failed_ops += 1
            self.problems.append(str(exc))
            return False
        return True

    def measure(self, seconds: float, share: float = 1.0) -> dict:
        """Closed-loop rounds for ``seconds``, and at least ``share`` of
        MIN_ROUNDS: a fixed count in practice, so every run times the
        same stretch of the JIT warm-up curve."""
        s = self.stream
        min_rounds = max(1, round(MIN_ROUNDS * share))
        first = len(s.rounds)
        end = time.perf_counter() + seconds
        while True:
            timed = s.rounds[first:]
            if len(timed) >= min_rounds and time.perf_counter() >= end:
                break
            if not self._round():
                break
        timed = s.rounds[first:]
        drain = sum(r["latency_s"] for r in timed)
        return {
            "latency_p50_s": median(r["latency_s"] for r in timed),
            "work_per_s": sum(r["valid"] for r in timed) / drain if drain else 0.0,
            "cold_s": median(self.cold),
            "rounds": timed,
            "detail": [round(r["latency_s"], 3) for r in timed],
        }

    def finish(self) -> None:
        problems = self.stream.finish()
        self.checks += 1
        self.failed_checks += bool(problems)
        self.problems += problems

    def layer_metrics(self, traced: dict) -> dict:
        s, tr = self.stream, self.bench.tracer
        log = EventLog.parse(os.path.join(self.bench.work, "eventlog"))
        prog = s.progress_by_batch
        silver = s.silver_rows_by_batch()
        per: dict[str, list[float]] = {k: [] for k in (
            "sources.latest_offset_ms", "pipelines.trigger_ms", "pipelines.planning_ms",
            "pipelines.commit_ms", "cdc.parse_s", "cdc.rows_in", "streaming.silver_s",
            "streaming.silver_jobs", "streaming.silver_rows", "sinks.es_s", "sinks.es_jobs",
            "sinks.es_requests", "sinks.es_docs", "sinks.es_retries",
        )}
        spans = {(sp.name, sp.run_id): sp for sp in tr.spans}
        kept = rows_in = docs = valid = 0
        for r in traced["rounds"]:
            bid, rid = r["batch_id"], f"b{r['batch_id']}"
            d = prog.get(bid, {}).get("durationMs", {})
            per["sources.latest_offset_ms"].append(d.get("latestOffset", 0))
            per["pipelines.trigger_ms"].append(d.get("triggerExecution", 0))
            per["pipelines.planning_ms"].append(d.get("queryPlanning", 0))
            per["pipelines.commit_ms"].append(d.get("walCommit", 0) + d.get("commitOffsets", 0))
            n_in = prog.get(bid, {}).get("numInputRows", 0)
            per["cdc.rows_in"].append(n_in)
            per["cdc.parse_s"].append(spans[("cdc.materialize", rid)].seconds)
            silver_sp = spans[("streaming.process_batch", rid)]
            es_sp = spans[("sinks.write_cdc_dataframe", rid)]
            per["streaming.silver_s"].append(silver_sp.seconds)
            per["streaming.silver_jobs"].append(log.for_span(silver_sp).jobs)
            per["streaming.silver_rows"].append(silver.get(bid, 0))
            per["sinks.es_s"].append(es_sp.seconds)
            per["sinks.es_jobs"].append(log.for_span(es_sp).jobs)
            for k in ("requests", "docs", "retries"):
                per[f"sinks.es_{k}"].append(r[k])
            kept += next(d["rows"] for d in s.done if d["batch_id"] == bid)
            rows_in += n_in
            docs += r["docs"]
            valid += r["valid"]
        return layer_values(per, {
            "cdc.keep_ratio": kept / rows_in if rows_in else 0.0,
            "sinks.es_compaction_ratio": docs / valid if valid else 0.0,
        })

    def verdict(self) -> tuple[int, int, list[str]]:
        return self.ops + self.checks, self.failed_ops + self.failed_checks, self.problems

    def close(self) -> None:
        if self.stream is not None:
            self.stream.stop()
        self.es.terminate()
        try:
            self.es.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.es.kill()
            self.es.wait()
        self.es.stdout.close()
