"""Benchmark entry point.

    python3 perfbench/run.py --workload velib_hourly --seed 1 --seconds 10 --trace 0

Runs one workload of ``BENCHMARK.json`` on ``local[nproc]`` from the root of
a checkout: generates its inputs from the seed, starts Spark (launching
its JVM) and warms up, then runs a closed loop of operations (one client,
the next operation starts when the previous one ends) for ``--seconds``,
checks the outputs, and prints one JSON line with the verdict and the
metrics: the end-to-end ones with ``--trace 0``, the per-layer ones with
``--trace 1``. Everything the run writes lives under a per-run directory
in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: where a traced run leaves its span dump (one JSON object per span)
SPANS_DIR = os.path.join(ROOT, ".perfbench-spans")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_heap_mb() -> int:
    """An eighth of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 8))


def _prepare_env(work: str) -> dict[str, str]:
    """Environment and session conf that keep the run inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None
    heap = _driver_heap_mb()
    # the heap starts at its full size: grown on demand, its growth (and
    # the collections before it) fell on the first minute of timed ops
    return {
        "spark.driver.memory": f"{heap}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m -Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, workload, conf: dict, seconds: int, trace: bool) -> None:
        from probe import Tracer

        self.w = workload
        self.conf = conf
        self.seconds = seconds
        self.trace = trace
        self.tracer = workload.tracer = Tracer()
        self.setup_s = 0.0
        self.get_spark_s = 0.0
        self.op_s: list[float] = []
        self.ok: list[bool] = []
        self.traced: list[bool] = []
        self.windows: list[tuple[float, float]] = []
        self.units: list[int] = []
        self.read_s: list[float] = []  # the read after each op, if any
        self.failed = 0
        self.gc_ms = 0.0
        self.warmup_s = 0.0
        self.cached_peak = 0.0
        self.spark = None
        self.rest = None

    def setup(self) -> None:
        """``get_spark`` from a cold start (it launches the JVM), then the
        workload's warm-up; ``setup_s`` is both together."""
        from etl_dag_paris_velib_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.w.warm(self.spark)
        t2 = time.perf_counter()
        self.get_spark_s, self.warmup_s, self.setup_s = t1 - t0, t2 - t1, t2 - t0

    def poll_cache(self) -> None:
        if self.rest is not None:
            try:
                self.cached_peak = max(self.cached_peak, self.rest.cached_bytes())
            except OSError:
                pass

    def loop(self) -> None:
        """Closed loop for ``seconds``; in a traced run every other op is
        traced, and at least two ops run so both kinds are present."""
        if self.trace:
            self.w.instrument(self.tracer)
        start = time.perf_counter()
        i = 0
        while i < (2 if self.trace else 1) or time.perf_counter() - start < self.seconds:
            traced = self.trace and i % 2 == 1
            gc0 = self.rest.gc_ms() if traced else 0.0
            ok = True
            with self.tracer.op_scope(i, traced):
                w0, t0 = time.time(), time.perf_counter()
                units = 0
                try:
                    units = self.w.op(self.spark, i)
                except Exception:
                    ok = False
                    traceback.print_exc()
                t1, w1 = time.perf_counter(), time.time()
                r0 = len(self.w.read_times)
                try:
                    self.w.after_op(self.spark, i)
                except Exception:
                    ok = False
                    traceback.print_exc()
            self.failed += not ok
            self.ok.append(ok)
            self.units.append(units)
            self.op_s.append(t1 - t0)
            self.read_s.append(sum(self.w.read_times[r0:]))
            self.traced.append(traced)
            if traced:
                self.windows.append((w0, w1))
                self.gc_ms += self.rest.gc_ms() - gc0
            i += 1

    def _ok(self, xs: list) -> list:
        """The entries of ``xs`` for ops that did not fail (all of them if
        none passed, so a run where everything fails still prints its
        figures)."""
        return [x for x, ok in zip(xs, self.ok) if ok] or xs

    def end_to_end(self) -> dict[str, float]:
        """Medians over the ops, so a host stall in one op moves neither
        figure. Throughput is each op's units over its op time plus the
        read that follows it (``velib_hourly``), or over its op time."""
        rates = [u / (s + r) for u, s, r in zip(self.units, self.op_s, self.read_s)]
        return {
            "setup_s": self.setup_s,
            "op_p50_s": statistics.median(self._ok(self.op_s)),
            "throughput_per_s": statistics.median(self._ok(rates)),
        }

    def per_layer(self) -> dict[str, float]:
        t = self.tracer
        n = max(sum(self.traced), 1)
        per_op = lambda *names: sum(sum(t.durations(x)) for x in names) / n  # noqa: E731
        traced = [s for s, tr in zip(self.op_s, self.traced) if tr]
        plain = [s for s, tr in zip(self.op_s, self.traced) if not tr]
        out = {
            "session.get_spark_s": self.get_spark_s,
            "session.warmup_s": self.warmup_s,
            "read_p50_s": statistics.median(self.w.read_times) if self.w.read_times else 0.0,
            "failed_ops_ratio": self.failed / len(self.op_s),
            "sources.fetch_to_bronze_s": per_op("sources.fetch_to_bronze"),
            "sources.ingest_plan_s": per_op("sources.ingest_plan"),
            "sources.read_parquet_s": per_op("sources.read_parquet"),
            "sinks.write_s": per_op("sinks.write_partitioned_table"),
            "streaming.hourly_availability_s": per_op("streaming.hourly_availability"),
            "spark.gc_s_per_op": self.gc_ms / 1000.0 / n,
            "spark.cached_bytes_peak": self.cached_peak,
            "trace.op_p50_s": statistics.median(traced),
            "trace.overhead_ratio": statistics.median(traced) / statistics.median(plain) - 1.0,
            "trace.spans": float(len(t.spans)),
        }
        counters = self.rest.counters(self.windows, _cpus())
        out.update(counters)
        out.update(self.w.layer_metrics())
        bronze = out.get("sources.bronze_bytes", 0.0)
        out["sinks.bytes_written_per_input_byte"] = (
            counters["spark.output_bytes_per_op"] / bronze if bronze else 0.0
        )
        return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "etl_dag_paris_velib_spark")):
        print(f"no etl_dag_paris_velib_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = _run(args, WORKLOADS[args.workload], work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def _run(args, workload_cls, work: str, spec: dict) -> dict:
    conf = _prepare_env(work)
    from probe import PeakMemorySampler, SparkRest

    workload = workload_cls(work, args.seed)
    runner = Runner(workload, conf, args.seconds, bool(args.trace))
    sampler = PeakMemorySampler(extra=runner.poll_cache)
    phases = [("start", time.perf_counter())]
    with sampler:
        try:
            runner.setup()
            phases.append(("setup", time.perf_counter()))
            if args.trace:
                runner.rest = SparkRest(runner.spark)
            runner.loop()
            phases.append(("loop", time.perf_counter()))
            problems = workload.check(runner.spark)
            metrics = runner.per_layer() if args.trace else runner.end_to_end()
            metrics["peak_rss_mb"] = sampler.peak_mb
            phases.append(("check", time.perf_counter()))
        finally:
            runner.rest = None
            if runner.spark is not None:
                _stop_spark(runner.spark)
    phases.append(("stop", time.perf_counter()))
    print(
        "phases: " + ", ".join(f"{b[0]} {b[1] - a[1]:.1f}s" for a, b in zip(phases, phases[1:])),
        f"get_spark: {runner.get_spark_s:.2f}s warm-up: {runner.warmup_s:.2f}s",
        f"ops: {' '.join(f'{s:.3f}' for s in runner.op_s)}",
        f"reads: {' '.join(f'{s:.3f}' for s in runner.w.read_times)}",
        file=sys.stderr,
    )
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if args.trace:
        os.makedirs(SPANS_DIR, exist_ok=True)
        runner.tracer.dump(os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
    group = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[group]}
    return {
        "correct": not problems and runner.failed == 0,
        "attempted": len(runner.op_s),
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
