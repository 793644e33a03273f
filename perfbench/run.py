#!/usr/bin/env python3
"""crawlspark benchmark: closed-loop crawl workloads, output checks, and a
traced run for per-layer numbers.

Run from the repository root:

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 10 --trace 0

``--trace 0`` measures with tracing off and reports the end-to-end
metrics; ``--trace 1`` adds one traced crawl and reports the per-layer
metrics. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print every metric by name and unit, ``error_rate``, and the host
context. Full results, with the traced run's spans, go to
``.perfbench/results/``. The exit code is 0 only when every output
check passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import hostprobe  # noqa: E402

# the end-to-end metrics of BENCHMARK.json, each with a bound
END_TO_END = {
    "jobs_per_wave": "count",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_url": "B",
}
# printed and recorded with every run, but not bounded: on a shared
# virtual host the spread of ten runs follows the neighbours' load and
# exceeds any bound the benchmark may set (see perfbench/README.md)
TIMINGS = {
    "urls_per_s": "1/s",
    "wave_p50_s": "s",
    "wave_p90_s": "s",
    "cpu_ms_per_url": "ms",
}
SETUP_REPEATS = 5


def percentile(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between the closest ranks (as
    numpy's default): with a crawl's two waves, p50 is their mean rather
    than the faster wave alone."""
    ordered = sorted(values)
    pos = q * (len(ordered) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def per_layer_units() -> dict[str, str]:
    from tracing import COUNTERS, LAYERS

    units = {"jobs": "count", "stages": "count", "shuffle_read_bytes": "B",
             "shuffle_write_bytes": "B", "spill_bytes": "B", "task_cpu_s": "s"}
    out = {f"{layer}.{k}": units[k] for layer in LAYERS for k in COUNTERS}
    out.update({
        "driver.plan_s": "s", "driver.jobs_per_wave": "count",
        "driver.stages_per_wave": "count", "driver.compact_s": "s",
        "driver.obs_fallbacks": "count", "driver.lineage_wall_gap_ms": "ms",
        "politeness.schedule_s": "s", "politeness.rows_in": "count",
        "extract.s": "s", "extract.rows": "count",
        "extract.html_bytes_in": "B", "clean.s": "s", "normalize.s": "s",
        "dedup.classify_s": "s", "dedup.candidates": "count",
        "dedup.bloom_probe_s": "s", "dedup.bloom_maint_s": "s",
        "dedup.bloom_negative_ratio": "ratio", "dedup.bloom_fp_ratio": "ratio",
        "tables.commit_s": "s", "tables.read_s": "s",
        "tables.files_written": "count", "tables.bytes_written": "B",
        "tables.manifest_bytes": "B", "trace.overhead_s": "s",
    })
    return out


def lineage_gap_ms(spark, crawl) -> float:
    """Mean over the crawl's waves of (wave wall measured from outside)
    minus the wave's own ``lineage.wall_ms``."""
    from pyspark.sql import functions as F

    rows = (crawl.store.read(spark, "lineage")
            .filter(F.col("wave") > crawl.base_wave)
            .groupBy("wave").agg(F.max("wall_ms").alias("ms"))
            .orderBy("wave").collect())
    gaps = [wall * 1000 - r["ms"] for wall, r in zip(crawl.wave_walls, rows)]
    return statistics.mean(gaps) if gaps else 0.0


def measure(spark, args, work: Path, slots: int) -> dict:
    from crawl import WORKLOADS

    wl = WORKLOADS[args.workload](spark, work, args.seed, args.pages, slots)
    t0 = time.perf_counter()
    wl.setup()
    setup_once_s = time.perf_counter() - t0
    setup_samples = [wl.bootstrap(f"setup{i}")[1] for i in range(SETUP_REPEATS)]

    crawls = []
    steal0, t0 = hostprobe.steal_s(), time.perf_counter()
    while not crawls or time.perf_counter() - t0 < args.seconds:
        crawls.append(wl.iteration(f"m{len(crawls)}"))
    window_s = time.perf_counter() - t0

    out = {"setup_once_s": setup_once_s, "setup_samples": setup_samples,
           "window_s": window_s,
           "window_steal_s": hostprobe.steal_s() - steal0, "crawls": crawls}
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
        try:
            traced = wl.iteration("traced")
        finally:
            tracer.uninstall()
        tracer.replay()
        tracer.attribute()
        layer = tracer.per_layer()
        # per-wave driver counts from the untraced crawl: capturing
        # changes which subtrees the traced waves find cached
        reference = Tracer.from_waves(spark, crawls[0].wave_times)
        reference.attribute()
        layer.update(reference.wave_metrics())
        layer["trace.overhead_s"] = traced.wall_s - statistics.median(
            c.wall_s for c in crawls)
        layer["driver.lineage_wall_gap_ms"] = lineage_gap_ms(spark, crawls[0])
        out.update(traced=traced, per_layer=layer, spans=tracer.dump())

    checked = crawls + ([out["traced"]] if args.trace else [])
    for c in checked:
        c.checks = wl.check(c)
    # crawl order and URL-seen set repeat across crawls of one seed
    fps = [wl.fingerprint(c) for c in checked] if len(checked) > 1 else []
    fp_failed = sum(a != b for fp in fps[1:] for a, b in zip(fps[0], fp))
    out["fingerprint_checks"] = {"attempted": 3 * max(len(fps) - 1, 0),
                                 "failed": fp_failed}
    return out


def end_to_end(res: dict, peak_rss_mb: float) -> dict[str, float]:
    crawls = res["crawls"]
    urls = sum(c.urls for c in crawls)
    return {
        "jobs_per_wave": (sum(c.jobs for c in crawls)
                          / sum(len(c.wave_walls) for c in crawls)),
        "setup_s": statistics.median(res["setup_samples"]),
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_per_url": sum(c.stored_bytes for c in crawls) / urls,
    }


def timings(res: dict) -> dict[str, float]:
    crawls = res["crawls"]
    urls = sum(c.urls for c in crawls)
    walls = [w for c in crawls for w in c.wave_walls]
    return {
        "urls_per_s": urls / sum(c.wall_s for c in crawls),
        "wave_p50_s": percentile(walls, 0.5),
        "wave_p90_s": percentile(walls, 0.9),
        "cpu_ms_per_url": 1000 * sum(c.cpu_s for c in crawls) / urls,
    }


def stop_spark(spark) -> None:
    """Stop the session; wait for the driver JVM and every process it
    started (the Python worker daemon and its workers) to exit."""
    from pyspark import SparkContext

    started = hostprobe.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    hostprobe.wait_gone(started)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["fresh_crawl", "recrawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="detail pages per corpus (default: crawl.PAGES)")
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "crawlspark" / "driver.py").is_file():
        print(f"perfbench: no crawlspark package under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    from crawl import PAGES, start_spark

    args.pages = args.pages or PAGES
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    # half the cores for Spark's task slots: a task slot of a Python stage
    # keeps a JVM thread and a Python worker busy, and the JVM compiles and
    # collects on threads of its own, so local[nproc] oversubscribes the
    # cores and a run times the scheduler and its neighbours
    slots = max(1, cores // 2)
    work = root / ".perfbench" / f"work-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # keep every temporary file of Spark, its workers and the package zip
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # no /tmp/hsperfdata_<user> files from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(work / "tmp")

    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "pages": args.pages, "cores": cores,
               "slots": slots,
               "memcpy_gbps_before": hostprobe.memcpy_gbps()}
    try:
        with hostprobe.RssSampler() as rss:
            spark = start_spark(work, slots)
            try:
                res = measure(spark, args, work, slots)
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context["memcpy_gbps_after"] = hostprobe.memcpy_gbps()
    context["peak_rss_java_mb"] = round(rss.peak_java_mb, 1)

    metrics = end_to_end(res, rss.peak_mb)
    timed = timings(res)
    checked = res["crawls"] + ([res["traced"]] if args.trace else [])
    attempted = (sum(c.checks["attempted"] for c in checked)
                 + res["fingerprint_checks"]["attempted"])
    failed = (sum(c.checks["failed"] for c in checked)
              + res["fingerprint_checks"]["failed"])
    walls = [w for c in res["crawls"] for w in c.wave_walls]
    context.update(
        setup_once_s=round(res["setup_once_s"], 3),
        setup_samples_s=[round(s, 3) for s in res["setup_samples"]],
        window_s=round(res["window_s"], 3),
        window_steal_s=round(res["window_steal_s"], 2),
        crawls=len(res["crawls"]),
        wave_samples=len(walls), urls=sum(c.urls for c in res["crawls"]),
        checks=[c.checks for c in checked],
        fingerprint_checks=res["fingerprint_checks"])

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<24} {metrics[name]:.6g} {unit}")
    for name, unit in TIMINGS.items():
        print(f"  {name:<24} {timed[name]:.6g} {unit} (not bounded)")
    print(f"  {'error_rate':<24} {failed / attempted:.6g} "
          f"({failed} of {attempted} checks failed)")
    shown, units = metrics, END_TO_END
    if args.trace:
        shown, units = res["per_layer"], per_layer_units()
        for name, value in shown.items():
            print(f"  {name:<32} {value:.6g} {units[name]}")
    print("context: " + json.dumps(context))

    results = root / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json") \
        .write_text(json.dumps({"context": context, "end_to_end": metrics,
                                "timings": timed,
                                "per_layer": res.get("per_layer"),
                                "spans": res.get("spans")}, indent=1))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in shown.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
