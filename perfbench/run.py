"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``.
The line before it is the run record (latency summaries with sample
counts, host noise, failure reasons). See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "search")


class Run:
    """State shared by a workload's phases: the session, the probe, the
    failure tally and the latency samples."""

    def __init__(self, args: argparse.Namespace, work: str):
        from probe import Probe
        from stats import Tally

        self.workload = args.workload
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.probe = Probe(self.trace)
        self.tally = Tally()
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.jobs: list[float] = []
        self.gauges: dict[str, float] = {}
        self.spark = None


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``, and make the
    program importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM ends when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def measure(run: Run) -> dict:
    """Set up, run the timed phase, check; returns the run record."""
    from kektordb_spark.session import get_spark

    import metrics
    from stats import HostNoise, latency_summary, peak_rss_mb

    workload = _workload_class(run.workload)(run)
    noise = HostNoise()
    # Half the CPUs run Spark tasks; the JVM's JIT compiler and GC
    # threads and this process use the rest (see README.md, "Running").
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    run.spark, run.gauges["session.start_s"] = run.probe.call(
        "session", "start", get_spark, "perfbench", cpus)
    run.spark.sparkContext.setLogLevel("ERROR")
    run.probe.attach(run.spark)
    workload.setup()
    setup_counts = {k: dict(v) for k, v in run.probe.counts.items()}
    run.probe.counts.clear()

    setup_s = time.perf_counter() - T0
    t0 = run.probe.now()
    with run.probe.span("timed"):
        workload.timed()
    t1 = run.probe.now()
    run_s = t1 - t0
    jvm = getattr(run.spark.sparkContext._gateway, "proc", None)
    rss = peak_rss_mb(jvm.pid if jvm else None)
    workload.check()

    reads = latency_summary(run.reads)
    e2e = {"setup_s": setup_s, "run_s": run_s,
           "read_gmean_s": statistics.geometric_mean(run.reads) if run.reads else None}
    layer = dict.fromkeys(metrics.PER_LAYER, 0.0)
    if run.trace:
        for name, secs in run.probe.layer_seconds(t0, t1).items():
            if f"{name}_s" in layer:
                layer[f"{name}_s"] = secs
        for lay, c in list(run.probe.counts.items()) + [("tables", setup_counts.get("tables", {}))]:
            for key, val in c.items():
                if f"{lay}.{key}" in layer:
                    layer[f"{lay}.{key}"] = float(val)
        layer.update({k: float(v) for k, v in run.gauges.items() if k in layer})
        layer.update(workload.layer_metrics())
        layer["bench.error_rate"] = run.tally.error_rate
        layer["bench.peak_rss_mb"] = rss
        layer["trace.run_s"] = run_s
        layer["trace.coverage"] = run.probe.coverage(t0, t1)
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        run.probe.dump(os.path.join(HERE, ".out", f"trace-{run.workload}-{run.seed}.jsonl"))
    return {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": int(run.trace), "end_to_end": e2e,
        "per_layer": layer if run.trace else None,
        "reads": reads, "writes": latency_summary(run.writes),
        "jobs": latency_summary(run.jobs),
        "samples_s": {"reads": run.reads, "writes": run.writes, "jobs": run.jobs},
        "peak_rss_mb": rss, "error_rate": run.tally.error_rate,
        "failures": run.tally.reasons()[:20],
        "host": noise.reading(cpus),
    }


def _workload_class(name: str):
    if name == "search":
        from search import Search
        return Search
    from ingest import Ingest
    return Ingest


def result_line(record: dict, run: Run) -> dict:
    import metrics

    if run.trace:
        names = {k: v[0] for k, v in metrics.PER_LAYER.items()}
        values = record["per_layer"]
    else:
        names = {k: v[0] for k, v in metrics.END_TO_END.items()}
        values = record["end_to_end"]
    return {
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in names.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        import kektordb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    run = Run(args, work)
    try:
        record = measure(run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    missing = [k for k, v in record["end_to_end"].items() if not v]
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
        return 1
    print(json.dumps(record))
    print(json.dumps(result_line(record, run)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
