"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload request_stream --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the same
workload with tracing and reports the per-layer metrics.  The result line
is ``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
a human-readable summary with sample counts goes to stderr.  Everything the
run writes stays under ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as the ``perfbench`` package, never its files as
# top-level modules
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
SETUP_ROUNDS = 3
#: Spark task slots.  The engine's micro-batches are small and bound by
#: per-job overhead: two slots finish a response cycle faster than four
#: (4.7 s against 6 s on a 4-core host) and leave cores to the JIT, the
#: garbage collector, the driver and the bench's own thread, so run-to-run
#: figures move less with the host's other load.
BENCH_CORES = 2
#: driver heap, committed in full at start: a heap that grows by G1's
#: pause-time heuristics made peak RSS follow the host's load (12-26 %
#: run-to-run spread against 1-3 % with a fixed heap)
HEAP = "2g"
TRACED_PHASES = ("traced", "burst")


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


class Run:
    """State of one benchmark run: the session, counters and metrics."""

    def __init__(self, args, work: str):
        from flink_invoice_processor_spark.config import EngineConfig

        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from test_sinks_sources import DDL

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cores = min(BENCH_CORES, len(os.sched_getaffinity(0)))
        self.work = work
        self.cfg = EngineConfig()
        self.ddl = DDL
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.round_s: list[float] = []
        self.warmup_s = 0.0
        self.recorder = None
        self._phase = None
        self.spark = self._session(self.cores)
        self.session_s = time.time() - T_START

    # -- session ------------------------------------------------------------
    def _session(self, cores: int):
        from flink_invoice_processor_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        return get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={local}",
                "spark.ui.showConsoleProgress": "false",
            })

    def restart_session(self, cores: int) -> None:
        self.spark.stop()
        self.spark = self._session(cores)
        if self.recorder is not None:
            self.recorder.sc = self.spark.sparkContext

    # -- set-up -------------------------------------------------------------
    def setup_rounds(self, prepare) -> None:
        """Prepare the workload's DB or tables and inputs ``SETUP_ROUNDS``
        times from scratch; the last round's are used, the median round
        time is reported."""
        for i in range(SETUP_ROUNDS):
            t = time.time()
            prepare(i)
            self.round_s.append(time.time() - t)
        self.mark("set-up rounds")

    def add_warmup(self, seconds: float) -> None:
        self.warmup_s += seconds

    def setup_s(self) -> float:
        from perfbench.stats import median

        return self.session_s + median(self.round_s) + self.warmup_s

    # -- tracing ------------------------------------------------------------
    def conn_factory(self, path: str):
        if self.trace:
            from perfbench.tracing import TimingConnFactory

            return TimingConnFactory(path, self.db_log_dir)
        from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory

        return SqliteConnFactory(path)

    def span(self, name: str, layer: str, unit: bool = False, root: bool = False):
        if self.recorder is None:
            return nullcontext()
        return self.recorder.span(name, layer, unit=unit, root=root)

    def phase(self, name: str | None) -> None:
        """End the current phase span and start ``name``.  A traced run
        records only its ``traced`` and ``burst`` phases; set-up, warm-up
        and the ``untraced`` phase run with the recorder off."""
        self.mark(f"start {name}" if name else "phases done")
        if self.recorder is None:
            return
        if self._phase is not None:
            self._phase.__exit__(None, None, None)
            self._phase = None
        self.recorder.enable(name in TRACED_PHASES)
        if name in TRACED_PHASES:
            self._phase = self.recorder.span(f"phase:{name}", "bench", root=True)
            self._phase.__enter__()

    def wrap_sink(self, sink):
        def traced_sink(packets_df):
            with self.span("packet_sink", "packets"):
                sink(packets_df)
        return traced_sink if self.recorder is not None else sink

    # -- outcomes -----------------------------------------------------------
    def mark(self, label: str) -> None:
        """Note when a stage ended, for the timeline in the summary."""
        self.info.setdefault("timeline_s", []).append((label, round(time.time() - T_START, 2)))

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    def guard(self, what: str, fn) -> bool:
        """Run one operation; an exception counts as a failed operation
        and the run goes on."""
        try:
            fn()
            return True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{what} raised")
            return False

    def check(self, mismatches: list[str], n: int) -> None:
        self.attempted += n
        self.failed += len(mismatches)
        self.failures.extend(mismatches)

    def latency(self, samples_s: list[float], work_s: float | None, what: str) -> None:
        from perfbench.stats import median, tail_percentile

        if not samples_s or not work_s:
            self.fail(f"no {what} completed")
            return
        ms = [s * 1000.0 for s in samples_s]
        q, tail = tail_percentile(ms)
        self.e2e.update(latency_p50_ms=median(ms), latency_tail_ms=tail, work_s=work_s)
        self.info.update({"latency.samples": len(ms), "latency.tail_percentile": q,
                          "latency.unit": what})

    def trace_overhead(self, untraced: list[float], traced: list[float]) -> None:
        from perfbench.stats import median

        if untraced and traced:
            base = median(untraced)
            self.layer["trace.overhead_pct"] = 100.0 * (median(traced) - base) / base

    def lateness(self, samples_s: list[float]) -> None:
        from perfbench.stats import TooFewSamples, percentile

        try:
            self.layer["bench.generator_lateness_p99_ms"] = percentile(samples_s, 99) * 1000
        except TooFewSamples as exc:
            self.info["bench.generator_lateness"] = str(exc)


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM this process started."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        p.error(f"unknown workload {args.workload!r}; choose from {names}")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    out = os.path.join(ROOT, "perfbench", "out")
    work = os.path.join(out, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # executors, temp files and Spark scratch stay inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    import tempfile
    tempfile.tempdir = None
    try:
        import flink_invoice_processor_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from perfbench import host, metrics, pipeline

    run = None
    try:
        run = Run(args, work)
        steal = host.StealBracket()
        if run.trace:
            from perfbench.tracing import SpanRecorder, wrapped_layers

            run.db_log_dir = os.path.join(work, "dblog")
            os.makedirs(run.db_log_dir)
            run.recorder = SpanRecorder(run.spark.sparkContext)
            run.recorder.enable()
            layers = wrapped_layers(run.recorder)
        else:
            layers = nullcontext()
        workload = {"request_stream": pipeline.request_stream,
                    "response_stream": pipeline.response_stream}[args.workload]
        with layers, run.span(f"workload:{args.workload}", "bench", root=True):
            run.phase("set-up")
            workload(run)
        run.mark("workload")
        run.layer["host.steal_pct"] = steal.pct()
        run.e2e["setup_s"] = run.setup_s()
        run.e2e["peak_rss_mb"] = host.peak_rss_mb(host.jvm_pid(run.spark))
        run.info["git_sha"] = host.git_sha(ROOT)
        run.info["setup"] = (f"session {run.session_s:.2f} s, rounds "
                             f"{', '.join(f'{r:.2f}' for r in run.round_s)} s, "
                             f"warm-up {run.warmup_s:.2f} s")
        run.info["host.steal_pct"] = run.layer["host.steal_pct"]
        if run.trace:
            metrics.trace_layers(run, out, args)
            probe = host.probe(run.spark)
            run.layer["host.probe_parallel_s"] = probe["probe_parallel_s"]
            run.layer["host.probe_serial_s"] = probe["probe_serial_s"]
        result = metrics.result(run, spec)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if run is not None:
            _stop_jvm(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    run.info["wall_s"] = round(time.time() - T_START, 2)
    metrics.summary(run, result, args, sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
