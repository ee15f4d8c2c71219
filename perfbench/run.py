"""Job-level benchmark of kiez_spark on a small host.

Usage (from the repository root):

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 1 --trace 0

Runs one workload in one process at local[N] (N = min(4, cores)), back to
back for ``--seconds`` seconds with one caller, checks every call's
output and prints one JSON line last: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON detail record (per-call and per-job times, pair F1).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench-run")
T0 = time.perf_counter()
DRIVER_MEM = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["link_batch", "jobs_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _env(work: str) -> None:
    """Before the JVM starts: workers import the package from this
    checkout, kernels get one BLAS thread per task, scratch stays inside
    the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str, cores: int, trace: bool):
    from kiez_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=2 * cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort at exit
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Run:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.cores = max(1, min(4, os.cpu_count() or 1))
        self.work = os.path.join(RUN_DIR, f"work-{args.workload}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        _env(self.work)
        self.wl = WORKLOADS[args.workload](self.work, args.seed)
        self.attempted = self.failed = 0
        self.calls: list[list[tuple[str, float]]] = []

    def setup(self) -> float:
        """What starting a job costs, timed: the JVM launch, the session
        and a first call on the workload's input, which starts the Python
        workers and pays code generation and JIT, so the timed calls
        after it find the JVM's code compiled. Input generation and
        references, made between the two, and the first call's check
        are not timed."""
        t0 = time.perf_counter()
        spark = self.spark = _session(self.work, self.cores, bool(self.args.trace))
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "perfbench-setup")
        self.session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        self.wl.prepare(spark)
        self.prepare_s = time.perf_counter() - t1
        self.first_call_s = self.one_call(-1, contextlib.nullcontext(), timed=False)
        return self.session_s + (self.first_call_s or 0.0)

    def one_call(self, i: int, meter, around=contextlib.nullcontext,
                 timed: bool = True) -> float | None:
        """One unit of work plus its check; its wall, or None when it
        failed. ``around`` wraps the work only, not the check. Every call
        counts in attempted/failed; only timed ones feed the metrics."""
        spark = self.spark
        n_sections = 1
        try:
            spark.catalog.clearCache()
            with meter, around():
                sections = self.wl.call(spark, i)
            n_sections = len(sections)
            prev = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", "perfbench")
            try:
                self.wl.check(spark, i)
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev)
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.attempted += n_sections
            self.failed += n_sections
            return None
        self.attempted += len(sections)
        if timed:
            self.calls.append(sections)
        return sum(t for _, t in sections)

    def measure(self) -> dict:
        """Calls back to back for --seconds (at least one)."""
        from perfbench.procstat import CpuMeter, TreeSampler

        calls = []  # (wall, cpu seconds)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        t_start = time.perf_counter()
        with TreeSampler() as sampler:
            i = 0
            while i == 0 or time.perf_counter() - t_start < self.args.seconds:
                meter = CpuMeter()
                wall = self.one_call(i, meter)
                if wall is not None:
                    calls.append((wall, meter.cpu_s))
                i += 1
        rows = self.wl.rows * len(calls)
        return {
            "setup_s": self.setup_s,
            "rows_per_s": (
                self.wl.rows / statistics.median(w for w, _ in calls) if calls else 0.0
            ),
            "cpu_ms_per_row": 1000.0 * sum(c for _, c in calls) / rows if rows else 0.0,
            "peak_rss_mb": sampler.peak_rss_bytes / (1 << 20),
        }

    def measure_traced(self) -> tuple[dict, dict]:
        from perfbench.procstat import CpuMeter
        from perfbench.trace import Tracer, attributed_frac, layer_metrics, read_event_logs

        sc = self.spark.sparkContext
        tracer = Tracer(sc)
        meter = CpuMeter()
        untraced, traced = [], []
        sc.setLocalProperty("spark.jobGroup.id", None)
        t_start = time.perf_counter()
        # untraced, traced, untraced, ...: at least one of each
        i = 0
        while i < 2 or time.perf_counter() - t_start < self.args.seconds:
            if i % 2 == 0:
                with tracer.group("perfbench-untraced"):
                    wall = self.one_call(i, meter)
                if wall is not None:
                    untraced.append(wall)
            else:
                tracer.run = i
                tracer.install()
                try:
                    wall = self.one_call(
                        i, meter,
                        lambda: tracer.span(self.top_layer, self.wl.name),
                    )
                finally:
                    tracer.uninstall()
                if wall is not None:
                    traced.append(wall)
                    self._state_counts(tracer)
            i += 1
        _stop(self.spark)
        self.spark = None
        groups = read_event_logs(os.path.join(self.work, "eventlog"))
        overhead = (
            statistics.median(traced) / statistics.median(untraced) - 1.0
            if traced and untraced else 0.0
        )
        metrics = layer_metrics(
            tracer.spans, groups, tracer.counts, max(1, len(traced)),
            self.cores, overhead, meter.steal_frac,
        )
        detail = {
            "traced_calls": len(traced), "untraced_calls": len(untraced),
            "traced_s": traced, "untraced_s": untraced,
            "attributed_frac": attributed_frac(groups, tracer.spans),
        }
        return metrics, detail

    @property
    def top_layer(self) -> str:
        return "linkage" if self.wl.name == "link_batch" else "jobs"

    def _state_counts(self, tracer) -> None:
        files = getattr(self.wl, "state_files", 0)
        if files:
            tracer.counts["jobs.state_files_written"] += files
            tracer.counts["jobs.state_bytes_written"] += self.wl.state_bytes

    def detail(self) -> dict:
        sections: dict[str, list[float]] = {}
        for c in self.calls:
            for label, t in c:
                sections.setdefault(label, []).append(t)
        out = {
            "workload": self.wl.name, "seed": self.args.seed,
            "cores": self.cores, "rows_per_call": self.wl.rows,
            "calls": len(self.calls),
            "call_s": [round(sum(t for _, t in c), 4) for c in self.calls],
            "section_s": {k: [round(t, 4) for t in v] for k, v in sections.items()},
            "session_s": round(self.session_s, 4),
            "first_call_s": self.first_call_s and round(self.first_call_s, 4),
            "prepare_s": round(self.prepare_s, 4),
            "elapsed_s": round(time.perf_counter() - T0, 4),
            "failed_frac": self.failed / self.attempted if self.attempted else 1.0,
        }
        for name, values in self.wl.quality.items():
            out[name] = statistics.median(values)
        return out

    def main(self) -> dict:
        self.spark = None
        try:
            self.setup_s = self.setup()
            if self.args.trace:
                metrics, extra = self.measure_traced()
            else:
                metrics, extra = self.measure(), {}
        finally:
            if self.spark is not None:
                _stop(self.spark)
        from perfbench.metrics import END_TO_END, PER_LAYER

        units = (
            dict(PER_LAYER) if self.args.trace
            else {name: unit for name, unit, _, _ in END_TO_END}
        )
        print(json.dumps({**self.detail(), **extra}))
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {
                name: {"value": metrics[name], "unit": unit}
                for name, unit in units.items()
            },
        }


def main(argv=None) -> int:
    args = _parse(argv)
    for need in ("kiez_spark", "jobs"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: no {need}/ next to perfbench/ in {ROOT}",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        result = run.main()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
