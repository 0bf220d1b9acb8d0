#!/usr/bin/env python3
"""The geocoder benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_enrich --seed 1 --seconds 10 --trace 0

Run from the root of a source tree.  The first run in a tree builds the
index (``perfbench/index_build.py``, a separate process); every run then starts
its own Spark session, loads that index, runs the workload for at least
``--seconds`` seconds, checks every answer against the synthetic
generator's ground truth and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_enrich", "api_requests")


def _phase(what: str, t0: float) -> None:
    print(f"perfbench: {time.perf_counter() - t0:7.1f}s {what}",
          file=sys.stderr)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all cores:
    a run that lost much of it ran on a busy host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="Spark cores (default: every core this process may use)")
    return ap.parse_args()


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the tree."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _ensure_index() -> str:
    import index_build

    path = index_build.index_dir()
    if not os.path.exists(os.path.join(path, "build_report.json")):
        t0 = time.perf_counter()
        proc = subprocess.run([sys.executable, os.path.join(HERE, "index_build.py")],
                              cwd=ROOT, stdout=subprocess.DEVNULL, timeout=850)
        if proc.returncode != 0:
            _fail(f"index build failed with code {proc.returncode}")
        print(f"perfbench: built index in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
    return path


def _load_index(spark, path: str):
    from nominatim_spark.pipeline.placex import load_index

    idx = load_index(spark, os.path.join(path, "index"))
    osmline = spark.read.parquet(os.path.join(path, "osmline"))
    for df in (idx.placex, idx.search_name, idx.word, idx.name_postings,
               idx.addr_postings, osmline):
        df.persist().count()
    return idx, osmline


def _environment(spark, args, cpus: int, key: str) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "cpus": cpus,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": commit, "source_key": key,
    }


def main() -> None:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "nominatim_spark", "__init__.py")):
        _fail(f"no nominatim_spark package under {ROOT}: run from a source tree")
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or nproc
    if cpus > nproc:
        _fail(f"--cpus {cpus} exceeds the {nproc} cores available")
    if args.seconds <= 0:
        _fail("--seconds must be positive")
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _prepare_env(work)
    try:
        _run(args, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus: int) -> None:
    path = _ensure_index()

    from nominatim_spark.session import get_spark

    import workloads
    from spans import (CALLS, FIELD_UNITS, LAYERS, Recorder, RssSampler,
                       stop_spark)

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        get_spark_s = time.perf_counter() - t0
        try:
            t1 = time.perf_counter()
            idx, osmline = _load_index(spark, path)
            load_s = time.perf_counter() - t1
            _phase("session + index load", t0)
            rec = Recorder(spark, traced=bool(args.trace))
            steal0 = _steal_s()
            res = workloads.WORKLOADS[args.workload](
                spark, rec, idx, osmline, args.seed, args.seconds)
            steal_s = _steal_s() - steal0
            _phase("workload (inputs, warm-up, timed window, checks)", t0)
            figures = rec.spark_figures() if args.trace else None
            env = _environment(spark, args, cpus, os.path.basename(path))
        finally:
            stop_spark(spark)
            _phase("stopped", t0)

    lat = res.latencies
    e2e = {
        "setup_s": (get_spark_s + load_s, "s"),
        "items_per_s": (res.items / res.wall_s, "1/s"),
        "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
    }
    with open(os.path.join(path, "build_report.json")) as fh:
        print("build " + json.dumps(json.load(fh), sort_keys=True))
    print("environment " + json.dumps(env, sort_keys=True))
    print("samples " + json.dumps(
        {"items": res.items, "rounds": res.rounds, "wall_s": res.wall_s,
         "steal_s": steal_s,
         "call_s": {k: [round(x, 3) for x in v] for k, v in lat.items()}},
        sort_keys=True))
    if res.tally.errors:
        print("failures " + json.dumps(res.tally.errors), file=sys.stderr)

    if args.trace:
        # layer figures are per round (crawl pass or api cycle), so they
        # read the same whether one round or two fit in the window
        per = res.rounds
        metrics = {"session.get_spark_s": (get_spark_s, "s"),
                   "index.load_s": (load_s, "s")}
        for layer in LAYERS:
            for f, unit in FIELD_UNITS.items():
                metrics[f"{layer}.{f}"] = (figures[layer][f] / per, unit)
            calls = lat.get(CALLS[layer], [])
            metrics[f"{layer}.call_p50_ms"] = (
                statistics.median(calls) * 1e3 if calls else 0.0, "ms")
        for name in ("extract.pages_in", "extract.mentions_out",
                     "search.distinct_texts"):
            metrics[name] = (res.counters.get(name, 0.0), "count")
        metrics["search.found_ratio"] = (
            res.counters.get("search.found_ratio", 0.0), "ratio")
        covered = sum(figures[layer]["busy_s"] for layer in LAYERS)
        metrics["trace.timed_wall_s"] = (res.wall_s / per, "s")
        metrics["trace.uncovered_s"] = ((res.wall_s - covered) / per, "s")
        metrics["trace.covered_frac"] = (covered / res.wall_s, "ratio")
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-seed{args.seed}.jsonl")
        rec.dump(out)
        # the end-to-end figures of this traced run, to set against an
        # untraced run of the same seed for the tracing overhead
        print("traced_end_to_end " + json.dumps(
            {k: v for k, (v, _) in e2e.items()}, sort_keys=True))
        print(f"perfbench: spans written to {out}", file=sys.stderr)
    else:
        metrics = e2e

    print(json.dumps({
        "correct": res.tally.failed == 0,
        "attempted": res.tally.attempted,
        "failed": res.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
