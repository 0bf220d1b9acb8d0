"""Span recorder, memory sampler and process helpers for the benchmark.

Spans are recorded from the benchmark's side of each layer's public
function; nothing inside ``nominatim_spark`` is instrumented.  In a traced
run every span tags the Spark jobs it triggers with its own job group, and
after the workload the recorder reads job, stage and task figures per group
from the driver's status store: the store the Spark UI reads, which Spark
keeps whether or not the UI runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import time

LAYERS = ("extract", "search", "reverse", "lookup")
# the workloads' latency list behind each layer's calls
CALLS = {"extract": "extract", "search": "forward", "reverse": "reverse",
         "lookup": "lookup"}
# the Spark figures every traced run reports per layer, with their units
FIELD_UNITS = {"busy_s": "s", "task_s": "s", "shuffle_mb": "MB",
               "spark_jobs": "count", "driver_gap_s": "s"}


class Recorder:
    """Holds spans in memory; ``traced=False`` records timings only."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "request_id": request_id, "group": f"pb-{sid}-{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.traced:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    up = self.spans[parent]
                    sc.setJobGroup(up["group"], up["name"], False)

    def untimed(self) -> "Recorder":
        """A recorder for warm-up work: its spans and jobs count nowhere."""
        return Recorder(self.spark, traced=False)

    # ---------------------------------------------------------- traced only

    def spark_figures(self) -> dict[str, dict[str, float]]:
        """Per layer name: jobs, task time, shuffle MB and driver gap."""
        jobs, stages = _read_status(self.spark)
        print(f"perfbench: status store holds {len(jobs)} jobs, "
              f"{len(stages)} stage attempts", file=sys.stderr)
        stage_by_id = {}
        for st in stages:
            stage_by_id.setdefault(st["stageId"], []).append(st)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            if j["jobGroup"]:
                by_group.setdefault(j["jobGroup"], []).append(j)
        out = {name: dict.fromkeys(FIELD_UNITS, 0.0) for name in LAYERS}
        for s in self.spans:
            if s["name"] not in out:
                continue
            fig = out[s["name"]]
            fig["busy_s"] += s["end"] - s["start"]
            gjobs = by_group.get(s["group"], [])
            fig["spark_jobs"] += len(gjobs)
            intervals = []
            seen = set()
            for j in gjobs:
                t0, t1 = j["submissionTime"], j["completionTime"]
                if t0 is not None and t1 is not None:
                    intervals.append((max(t0, s["start"]), min(t1, s["end"])))
                for sid in j["stageIds"]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    for st in stage_by_id.get(sid, []):
                        fig["task_s"] += st["executorRunTime"] / 1e3
                        fig["shuffle_mb"] += (st["shuffleReadBytes"]
                                              + st["shuffleWriteBytes"]) / 1e6
            fig["driver_gap_s"] += (s["end"] - s["start"]) - _union(intervals)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: s[k] for k in (
                    "id", "name", "start", "end", "parent", "request_id")})
                         + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur0, cur1 = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def _seq(seq) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _opt(opt):
    return opt.get() if opt.isDefined() else None


def _job(j) -> dict:
    times = [_opt(t) for t in (j.submissionTime(), j.completionTime())]
    return {"jobGroup": _opt(j.jobGroup()), "status": j.status().toString(),
            "submissionTime": times[0] and times[0].getTime() / 1e3,
            "completionTime": times[1] and times[1].getTime() / 1e3,
            "stageIds": _seq(j.stageIds())}


def _stage(st) -> dict:
    return {"stageId": st.stageId(), "executorRunTime": st.executorRunTime(),
            "shuffleReadBytes": st.shuffleReadBytes(),
            "shuffleWriteBytes": st.shuffleWriteBytes()}


def _read_status(spark) -> tuple[list[dict], list[dict]]:
    """Jobs and stages from the status store, once the listener caught up."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    no_task_status = sc._jvm.java.util.ArrayList()
    last = None
    for _ in range(60):
        jobs = [_job(j) for j in _seq(store.jobsList(None))]
        stages = [_stage(st) for st in _seq(store.stageList(
            None, False, False, no_quantiles, no_task_status))]
        settled = all(j["status"] != "RUNNING" for j in jobs)
        key = (len(jobs), len(stages))
        if settled and key == last:
            return jobs, stages
        last = key
        time.sleep(0.5)
    return jobs, stages


# ------------------------------------------------------------------ memory

class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_kb(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child."""
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
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
