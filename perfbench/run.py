"""Benchmark driver: CDC pipeline freshness/throughput and the registered-query mix.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_small_batches --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics, measured with tracing off. With
``--trace 1`` the run measures half its time traced (spans, job groups
and a Spark event log), then the same again untraced in a fresh session,
and reports the per-layer metrics plus the tracing overhead. Provenance goes to standard error.
The benchmark runs in a child process; the parent waits for every process
the run started (the Spark JVM, its Python workers, the ES lookalike)
before it exits.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from spans import LAYER_UNITS, Tracer, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "work_per_s": "1/s",
    "cold_s": "s",
}
SETUPS = 3  # set-ups per run; setup_s reports their median
CHILD_ENV = "PERFBENCH_CHILD"  # set in the process that runs the benchmark
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 20.0  # leftovers get this long to exit before SIGTERM


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


class Bench:
    """One benchmark process: sizes the Spark session from the box,
    owns the work directory, the tracer and the session lifecycle."""

    def __init__(self, workload: str, seed: int) -> None:
        self.workload, self.seed = workload, seed
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        self.cores = len(os.sched_getaffinity(0))  # nproc
        # driver heap: a quarter of RAM, at most 4 GiB (local mode runs
        # the executors inside this heap; Python workers live outside it)
        self.heap_gb = max(1, min(4, _ram_bytes() // 4 // 2**30))
        self.shuffle_partitions = self.cores
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_GRAFT_DRIVER_MEM=f"{self.heap_gb}g",
            SPARK_GRAFT_SHUFFLE=str(self.shuffle_partitions),
            # the JVMs write only inside the work directory (no
            # /tmp/hsperfdata_* files)
            SPARK_GRAFT_DRIVER_JAVA_OPTS=(
                f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp"
            ),
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            TMPDIR=f"{self.work}/tmp",
            # the graal_cdc_log source runs in Python workers, which
            # must import the package from the checkout
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        )
        self.tracer = Tracer(False)
        self.spark = None
        self.jvm = None  # kept across sessions: a restart reuses the JVM
        self.session_start_s = 0.0

    def start_session(self, traced: bool) -> float:
        """Start a session; returns its start seconds. A traced session
        writes an uncompressed event log (no zstandard module is
        installed) and its spans set job groups."""
        from graal_cdc_spark.session import get_spark

        confs = {
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.eventLog.enabled": "true" if traced else "false",
            "spark.eventLog.dir": f"file://{self.work}/eventlog",
            "spark.eventLog.compress": "false",
        }
        if self.jvm is None:  # the JVM starts with the first session
            os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
                [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"]
            )
        else:
            for k, v in confs.items():
                self.jvm.java.lang.System.setProperty(k, v)
        self.tracer.enabled, self.tracer.sc = traced, None
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if traced:
            self.tracer.sc = self.spark.sparkContext
        return elapsed

    def stop_session(self) -> None:
        """Stop the session (this completes its event log)."""
        if self.spark is not None:
            self.jvm = self.spark._jvm
            self.spark.stop()
            self.spark = None
        self.tracer.enabled, self.tracer.sc = False, None

    def provenance(self, data_fingerprint: str) -> dict:
        import duckdb
        import pyspark

        try:
            head = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or "unknown (not a git checkout)"
        except OSError:
            head = "unknown (git unavailable)"
        return {
            "git_head": head,
            "cores": self.cores,
            "master": f"local[{self.cores}]",
            "driver_heap": f"{self.heap_gb}g",
            "shuffle_partitions": self.shuffle_partitions,
            "seed": self.seed,
            "testdata_fingerprint": data_fingerprint,
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "duckdb": duckdb.__version__,
        }

    def close(self) -> None:
        self.stop_session()
        self.stop_jvm()
        shutil.rmtree(self.work, ignore_errors=True)

    @staticmethod
    def stop_jvm() -> None:
        """Stop the gateway JVM and wait for it: it exits when its
        standard input closes, which otherwise happens only when this
        process exits, and then it outlives this process."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        # no gw.close(): shutting down the callback server that
        # foreachBatch uses can block; its threads are daemons
        proc = getattr(gw, "proc", None)
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        if int(stat.rpartition(")")[2].split()[1]) == pid:
            kids.append(int(d))
    return kids


def _reap_all(grace_s: float) -> None:
    """Wait until this process has no child left. As a subreaper it
    inherits every orphaned descendant, so then no process the run
    started is alive. Children still running after ``grace_s`` get
    SIGTERM, and SIGKILL five seconds later."""
    late_at = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        late = time.monotonic() - late_at
        if late > 0:
            sig = signal.SIGTERM if late < 5 else signal.SIGKILL
            for kid in _children(os.getpid()):
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process, then wait for every process
    it started before printing its output and exiting.

    The Spark JVM, the ES lookalike and PySpark's worker daemon (which
    puts its workers in a process group of their own) can all outlive
    the child; as a child subreaper this process inherits them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryFile(dir=work) as out:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *argv],
            stdout=out, env={**os.environ, CHILD_ENV: "1"},
        )
        grace = REAP_GRACE_S
        try:
            code = child.wait()
        finally:
            if child.poll() is None:  # interrupted: stop the run
                child.terminate()
                grace = 5.0
            _reap_all(grace)
        out.seek(0)
        sys.stdout.write(out.read().decode())
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import graal_cdc_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import cdc_workload
    import query_mix

    workloads = {
        "cdc_small_batches": lambda b: cdc_workload.CdcWorkload(b, round_events=2_000),
        "cdc_backfill": lambda b: cdc_workload.CdcWorkload(b, round_events=100_000),
        "query_mix": query_mix.QueryMix,
    }
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")

    traced = bool(args.trace)
    bench = Bench(args.workload, args.seed)
    wl = None
    try:
        wl = workloads[args.workload](bench)
        bench.session_start_s = bench.start_session(traced)
        setups = [wl.setup(k) for k in range(SETUPS)]
        setup_s = bench.session_start_s + median(setups) + wl.warm_up()
        share = 0.5 if traced else 1.0
        result = wl.measure(args.seconds * share, share)
        wl.finish()
        if traced:
            bench.stop_session()
            metrics = wl.layer_metrics(result)
            # overhead: the same measurement untraced, in a fresh session
            # of the by now warmer JVM, so the estimate errs high
            bench.start_session(traced=False)
            wl.setup(SETUPS)
            wl.warm_up()
            base = wl.measure(args.seconds * share, share)["latency_p50_s"]
            wl.finish()
            metrics["trace.overhead_p50_s"] = result["latency_p50_s"] - base
            metrics["trace.overhead_frac"] = (result["latency_p50_s"] - base) / base
            metrics["session.start_s"] = bench.session_start_s
            units = LAYER_UNITS
            print(json.dumps({"spans": [vars(sp) for sp in bench.tracer.spans]}),
                  file=sys.stderr)
        else:
            result["setup_s"] = setup_s
            metrics = {k: result[k] for k in END_TO_END}
            units = END_TO_END
        attempted, failed, problems = wl.verdict()
        print(json.dumps({"provenance": bench.provenance(wl.fingerprint),
                          "setups_s": setups, "detail": result.get("detail"),
                          "problems": problems[:20]}),
              file=sys.stderr)
    finally:
        if wl is not None:
            wl.close()
        bench.close()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise(sys.argv[1:]))
