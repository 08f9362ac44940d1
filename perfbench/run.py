"""spark-extract benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --driver-memory 3g \\
        --workload spans|pages|curate|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every input is generated from --seed
by ``inputs.py``; everything the run writes (inputs cache, job outputs,
Spark scratch, event logs) stays under ``.perfbench/`` in the checkout.
The driver heap has no default: BENCHMARK.json's command is its one
record.

--trace 0 prints the end-to-end metrics of BENCHMARK.json: set-up
(SparkSession creation, server start for serve, one warm-up pass),
documents per second (median job call of a window of at least four,
after an untimed settling call for pages; for serve, completed
requests) and the peak RSS of the process tree during the timed
window; serve adds request latency p50/p95.

--trace 1 runs a session set up the same way but with Spark's event log
on, whose window is followed by the output checks and the benchmark's
own calls into single modules, then a second SparkContext on the warm
JVM without the event log or a warm-up pass, for comparison. It prints
the per-layer metrics of BENCHMARK.json: module timings and counts,
engine metrics from the event log of the traced window (per
operation), and the tracing overhead (traced minus untraced operation
time). A layer the workload does not run reads 0. Output checks made by
the traced run's own calls count towards attempted and failed as well.

The untraced comparison is the second SparkContext in the process, so
its operations run on a warmer JIT, but its first one also starts the
context's Python workers, and Spark logs for every Python task a failed
update of the first context's Python accumulator. The overhead figure is therefore rough and can read negative;
the traced window, whose figures the per-layer metrics report, is the
process's first context and has neither effect.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Exit status is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4  # local[4]: the core count the benchmark is sized for


def spark_env(work: str, driver_memory: str) -> dict[str, str]:
    """Environment settings for a benchmark session writing under
    ``work``; the JVM and its Python workers inherit them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_DRIVER_MEMORY": driver_memory,
        # Python workers import the package by name (pandas UDFs pickle
        # their functions by module path)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # JVM scratch inside the checkout too; no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip(),
    }


def _session(wl, work: str, seconds: float, conf: dict | None = None,
             then=None, warm: bool = True):
    """Set up a session (timed, with one warm-up pass when ``warm``),
    run one timed window, then ``then(spark, window)`` untimed, and stop. Returns
    (window, get_spark seconds, set-up seconds, peak MB, what ``then``
    returned)."""
    from deepseek_ocr_spark.session import get_spark
    from rss import PeakRss

    t = time.perf_counter()
    spark = get_spark(
        parallelism=CORES,
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse"), **(conf or {})},
    )
    get_spark_s = time.perf_counter() - t
    try:
        wl.start(spark)
        if warm:
            wl.warm(spark)
        setup_s = time.perf_counter() - t
        with PeakRss() as mem:
            w = wl.measure(spark, seconds)
        after = then(spark, w) if then else None
    finally:
        wl.stop()
        spark.stop()
    return w, get_spark_s, setup_s, mem.peak_mb, after


def _stop_jvm() -> None:
    """Shut down the JVM the sessions ran on and wait for it to exit (it
    exits when its stdin pipe closes, taking its Python workers along)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # a later session starts anew


def run(args, spec: dict) -> dict:
    import eventlog
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench")
    wl = WORKLOADS[args.workload](work)
    wl.prepare(os.path.join(work, "inputs"), args.seed)

    metrics = {}
    if not args.trace:
        w, _, setup_s, peak_mb, (attempted, failed) = _session(
            wl, work, args.seconds, then=lambda spark, _: wl.check(spark))
        metrics["end_to_end"] = {"setup_s": setup_s, "peak_rss_mb": peak_mb, **wl.end_to_end(w)}
    else:
        def check_and_probe(spark, tw):
            attempted, failed = wl.check(spark)
            layers, probe_attempted, probe_failed = wl.layers(spark, tw, args.seconds)
            return layers, attempted + probe_attempted, failed + probe_failed

        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        tw, get_spark_s, _, _, (layers, attempted, failed) = _session(
            wl, work, args.seconds, eventlog.conf(log_dir), then=check_and_probe)
        w = _session(wl, work, args.seconds, warm=False)[0]
        layers.update(eventlog.summarize(log_dir, tw.t0, tw.t1, len(tw.ops)))
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.overhead_ms"] = (tw.median_s - w.median_s) * 1000
        layers["trace.overhead_pct"] = (tw.median_s / w.median_s - 1) * 100
        metrics["per_layer"] = layers

    for scratch in ("out", "eventlog"):
        shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)

    print(f"# workload {args.workload} seed {args.seed}: {len(w.ops)} timed operations "
          f"({' '.join(f'{s:.2f}' for s in w.ops)} s), "
          f"error_rate {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    print("# input properties: " + json.dumps(
        {k: round(v, 4) if isinstance(v, float) else v for k, v in wl.props.items()}))
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if not args.trace:
        units.update(wl.extra_units)
    out = {}
    for name, unit in units.items():
        value = float(metrics[kind].get(name, 0.0))
        out[name] = {"value": value, "unit": unit}
        print(f"# {name:<44} {value:14.4f} {unit}")
    if "latency_p95_ms" in out and len(w.ops) < 200:
        print(f"# note: latency_p95_ms rests on {len(w.ops)} requests, "
              "fewer than ten beyond it; use a longer --seconds")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["spans", "pages", "curate", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--driver-memory", required=True,
                    help="driver JVM heap (SPARK_DRIVER_MEMORY); 3g suits a 15 GB, 4-core box")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "deepseek_ocr_spark", "__init__.py")):
        print("perfbench: deepseek_ocr_spark/ not found beside perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.environ.update(spark_env(os.path.join(ROOT, ".perfbench"), args.driver_memory))
    sys.path.insert(0, ROOT)
    try:
        result = run(args, spec)
    finally:
        _stop_jvm()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
