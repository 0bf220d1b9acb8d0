"""Build the synthetic index the workloads serve from, once per source tree.

The index is the program's build product: ``build_index`` + ``build_osmline``
of the commit under test over the default synthetic country.  It is built in
its own process into ``.perfbench_cache/<key>/`` inside the checkout, where
``<key>`` hashes every file of ``nominatim_spark/`` and this file, so a
changed engine always rebuilds and no other tree's index is ever read.

Run directly to (re)build: ``python3 perfbench/index_build.py``.  The build report
(stage times from the checkpoint manifests, bytes on disk per stage) is kept
next to the index as ``build_report.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTRY = dict(n_cities=8, n_streets=12, n_houses=10, n_pois=5)
PLACEX_STAGES = ("placex_base", "placex_ranked", "placex_adjusted",
                 "placex_parented", "placex")
SEARCH_STAGES = ("word", "name_postings", "addr_postings", "search_name")


def source_key() -> str:
    h = hashlib.sha256(json.dumps(COUNTRY, sort_keys=True).encode())
    files = [os.path.abspath(__file__)]
    for dirpath, dirnames, names in os.walk(os.path.join(ROOT, "nominatim_spark")):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, n) for n in sorted(names)
                  if not n.endswith(".pyc")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def index_dir() -> str:
    return os.path.join(ROOT, ".perfbench_cache", source_key())


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def build(out: str, cpus: int) -> dict:
    from nominatim_spark.io.checkpoint import read_manifest
    from nominatim_spark.plans.flagship import build_synth_index
    from nominatim_spark.session import get_spark

    from spans import stop_spark

    spark = get_spark("perfbench_build", cpus=cpus)
    try:
        ckpt = os.path.join(out, "index")
        t0 = time.monotonic()
        idx, osmline = build_synth_index(spark, ckpt_root=ckpt, **COUNTRY)
        t_index = time.monotonic()
        osmline.write.parquet(os.path.join(out, "osmline"))
        t_osm = time.monotonic()
        n_places = idx.placex.count()
    finally:
        stop_spark(spark)
    # build_synth_index runs build_index then build_osmline (lazy); the
    # manifests carry the monotonic clock at each stage's end, so
    # consecutive differences are the stage times
    stage_s, prev = {}, t0
    for stage in PLACEX_STAGES + SEARCH_STAGES:
        clock = read_manifest(ckpt, stage)["written_at_stage_clock"]
        stage_s[stage] = round(clock - prev, 3)
        prev = clock
    return {
        "places": n_places,
        "country": COUNTRY,
        "index_build_s": round(t_index - t0, 3),
        "osmline_build_s": round(t_osm - t_index, 3),
        "stage_s": stage_s,
        "tokens_search_tables_s": round(sum(stage_s[s] for s in SEARCH_STAGES), 3),
        "stage_bytes": {s: _dir_bytes(os.path.join(ckpt, s))
                        for s in PLACEX_STAGES + SEARCH_STAGES},
        "checkpoint_bytes": _dir_bytes(ckpt),
    }


def main() -> None:
    cpus = len(os.sched_getaffinity(0))
    final = index_dir()
    if os.path.exists(os.path.join(final, "build_report.json")):
        print(final)
        return
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        report = build(tmp, cpus)
        with open(os.path.join(tmp, "build_report.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(final)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
