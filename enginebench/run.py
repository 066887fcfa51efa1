"""Engine benchmark: runs one workload for one seed and prints its
metrics, then one JSON line:

  python3 enginebench/run.py --workload corpus_batch --seed 1 \\
      --seconds 8 --trace 0

Workloads: corpus_batch, dashboard_mixed, stream_ingest (see
workloads.py and README.md). Inputs are generated from the seed
(gen.py) under ``.enginebench/`` in the checkout and removed at exit.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the
same workload with the Spark event log on and each span's jobs tagged,
and reports the per-layer metrics instead (layers.py). Outputs are
checked against the DuckDB oracles; a wrong result sets
``"correct": false`` and the exit code to 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from rss import PeakRss  # noqa: E402

CORES = 4
DRIVER_MEMORY = "2g"
# The gated metrics. Throughput is printed by report() but not gated:
# across ten seeds its quartile spread reached 23% of the median on
# dashboard_mixed, next to the 25% bound, and on the other workloads
# it restates the latency of the one or two operations a run times.
END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms"}


def configure(work: Path, traced: bool) -> None:
    """Point Spark's and Python's scratch space into ``work`` and, when
    tracing, turn the uncompressed event log on. Must run before the
    JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    tempfile.tempdir = str(tmp)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse")}
    if traced:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": str(work / "eventlog")})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
             "pyspark-shell"]
    os.environ.update({
        "PYSPARK_SUBMIT_ARGS": shlex.join(args),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any failure to exit: kill it
        gateway.proc.kill()
        gateway.proc.wait()


def tail(latencies: list[float]) -> tuple[float, int] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    xs = sorted(latencies)
    if len(xs) < 11:
        return None
    k = len(xs) - 11
    return xs[k], 100 * (k + 1) // len(xs)


def report(workload: str, result, setup_s: float, peak_mb: float,
           failed: int, attempted: int) -> None:
    """Every end-to-end metric under the name its workload uses, one a
    line, with its unit."""
    lat = result.latencies
    window = result.window[1] - result.window[0]
    lines = [("setup_s", setup_s, "s")]
    if workload == "corpus_batch":
        lines += [("wall_s", result.extra["wall_s"], "s"),
                  ("queries_per_s", result.items / window, "1/s")]
    elif workload == "dashboard_mixed":
        lines += [("req_p50_ms", statistics.median(lat) * 1e3, "ms")]
        t = tail(lat)
        if t:
            lines += [(f"req_tail_ms (p{t[1]}, 10 of {len(lat)} beyond)",
                       t[0] * 1e3, "ms")]
        lines += [("req_per_s", result.items / window, "1/s")]
    else:
        lines += [("batch_p50_s", statistics.median(lat), "s"),
                  ("docs_per_s", result.items / sum(lat), "1/s"),
                  ("write_bytes_per_input_byte",
                   result.extra["write_bytes_per_input_byte"], "ratio"),
                  ("files_per_batch", result.extra["files_per_batch"],
                   "count")]
    lines += [("peak_rss_mb", peak_mb, "MB"),
              ("error_rate", failed / attempted, "ratio")]
    print(f"# {workload}: {len(lat)} timed operations in {window:.2f} s, "
          f"local[{CORES}] on nproc={os.cpu_count()}")
    for name, value, unit in lines:
        print(f"{name:<44} {value:>14.4f} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("corpus_batch", "dashboard_mixed",
                             "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [m for m in ("transcript_analysis_spark", "tools")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"{', '.join(missing)} not importable from {ROOT}",
              file=sys.stderr)
        return 2
    import gen

    traced = bool(args.trace)
    state = ROOT / ".enginebench"
    work = state / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = gen.generate(args.seed, work / "data")
        configure(work, traced)
        from workloads import WORKLOADS, Context, Tracer
        sampler = PeakRss().start()
        t0 = time.perf_counter()
        tracer = Tracer(traced)
        with tracer.span("session", "get_spark", "setup"):
            from transcript_analysis_spark.session import get_spark
            spark = get_spark("enginebench")
        from pyspark import SparkContext
        sampler.jvm_pid = SparkContext._gateway.proc.pid
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        ctx = Context(spark, data, work, args.seconds, tracer)
        try:
            result = WORKLOADS[args.workload](ctx)
        finally:
            stop_spark(spark)
        peak_mb = sampler.stop()
        setup_s = result.window[0] - t0

        for p in result.problems:
            print(f"WRONG {p}", file=sys.stderr)
        failed = min(len(result.problems), result.attempted)
        p50_ms = statistics.median(result.latencies) * 1e3
        last = state / "last" / f"{args.workload}-{args.seed}.json"
        if traced:
            from eventlog import parse
            from layers import PER_LAYER, per_layer
            t = tail(result.latencies)
            values = per_layer(args.workload, tracer.spans,
                               parse(work / "eventlog"), result,
                               t[0] * 1e3 if t else 0.0, peak_mb)
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in PER_LAYER.items()}
            for k, u in PER_LAYER.items():
                print(f"{k:<44} {values[k]:>14.4f} {u}")
            if last.exists():
                base = json.loads(last.read_text())["latency_p50_ms"]
                print(f"# tracing overhead on latency_p50_ms: "
                      f"{p50_ms - base:+.1f} ms ({p50_ms / base - 1:+.1%})"
                      f" over the untraced run of this seed")
        else:
            values = {"setup_s": setup_s, "latency_p50_ms": p50_ms}
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
            report(args.workload, result, setup_s, peak_mb, failed,
                   result.attempted)
            last.parent.mkdir(parents=True, exist_ok=True)
            last.write_text(json.dumps(values))
        correct = not result.problems
        print(json.dumps({"correct": correct,
                          "attempted": result.attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
