"""The benchmark's workloads, their seeded inputs and ground-truth checks.

Every input is made in this process from the seed, before the timed window,
and every answer is checked against the synthetic generator's arithmetic
(``nominatim_spark.sources.synth``), never against another engine run.
"""

from __future__ import annotations

import random
import sys
import time
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from nominatim_spark.geometry.wkb import parse_wkb
from nominatim_spark.pipeline.extract import extract_pages
from nominatim_spark.pipeline.lookup import lookup_places
from nominatim_spark.pipeline.reverse import reverse_geocode
from nominatim_spark.pipeline.search import geocode
from nominatim_spark.sources import synth

from index_build import COUNTRY

CRAWL_PAGES = 50_000
CRAWL_FILLER = 15
# one api cycle: a forward query, a lookup and a reverse point, in a seeded
# order; runs always finish whole cycles so the mix is fixed.  The 1:1:1
# mix is an arbitrary fixed one, not measured Nominatim traffic.
API_CYCLE = ("forward", "lookup", "reverse")


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(what)

    def raised(self, n: int, what: str, exc: Exception) -> None:
        self.attempted += n
        self.failed += n
        if len(self.errors) < 10:
            self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:300])


@dataclass
class Result:
    tally: Tally
    wall_s: float                     # timed window
    items: int                        # pages or requests completed
    rounds: int                       # crawl passes or api cycles timed
    latencies: dict[str, list[float]]  # per public function, seconds
    counters: dict[str, float] = field(default_factory=dict)


# ------------------------------------------------------------ ground truth

def _house_points() -> list[tuple[str, int, float, float]]:
    """Every street house of the generator with its coordinate."""
    points = []
    places = synth.make_places(**COUNTRY)
    for r in places.itertuples(index=False):
        if r.osm_type == "N" and {"street", "housenumber"} <= set(r.address):
            x, y = parse_wkb(r.geometry).parts[0][0]
            points.append(("N", int(r.osm_id), float(x), float(y)))
    return points


def _house_query(rng: random.Random) -> tuple[str, str, int]:
    """A seeded house address and the (osm_type, osm_id) it must return."""
    c = COUNTRY
    city = rng.randrange(c["n_cities"])
    j = rng.randrange(c["n_streets"])
    k = rng.randrange(c["n_houses"])
    sid = 10000 + city * 100 + j
    return (f"{synth.street_name(city, j)} {2 * k + 1}, {synth.city_name(city)}",
            "N", 1000000 + sid * 100 + k)


def _page_index(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


# ------------------------------------------------------------ crawl_enrich

def _pages(spark, first: int, n: int):
    """synth.pages_df_dist's page rows for indices [first, first + n)."""
    c = COUNTRY

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([
                synth._page_row(int(p), c["n_cities"], c["n_streets"],
                                c["n_houses"], c["n_pois"], CRAWL_FILLER)
                for p in pdf["id"]])

    par = spark.sparkContext.defaultParallelism
    return (spark.range(first, first + n, numPartitions=par)
            .mapInPandas(gen, schema=synth.PAGES_SCHEMA))


def _crawl_pass(spark, rec, idx, osmline, pages, lat: dict[str, list[float]]):
    """pages -> extract -> geocode mentions -> lookup the distinct hits.

    The extraction output is cached once per pass: a crawl job reads it
    for the mention batch and keeps it for the page-level output.
    """
    with rec.span("extract") as s:
        ext = extract_pages(pages).persist()
        n_ext = ext.count()
    lat["extract"].append(s["end"] - s["start"])
    mentions = ext.filter(F.col("mention").isNotNull()).select(
        F.col("url").alias("query_id"), F.col("mention").alias("qtext"))
    with rec.span("search") as s:
        fwd = geocode(spark, idx, mentions, osmline=osmline).select(
            "query_id", "osm_type", "osm_id").toPandas()
    lat["forward"].append(s["end"] - s["start"])
    hits = fwd[["osm_type", "osm_id"]].dropna().drop_duplicates()
    refs = spark.createDataFrame(
        [(f"{t}{i}", t, int(i)) for t, i in hits.itertuples(index=False)],
        "ref_id string, osm_type string, osm_id long")
    with rec.span("lookup") as s:
        looked = lookup_places(spark, idx, refs, osmline=osmline).select(
            "ref_id", "osm_type", "osm_id").toPandas()
    lat["lookup"].append(s["end"] - s["start"])
    return ext, n_ext, fwd, hits, looked


def crawl_enrich(spark, rec, idx, osmline, seed: int, seconds: float) -> Result:
    c = COUNTRY
    # page indices stay below ~1e8: the page timestamp is index * 37 s
    # after 2025 and must fit pandas' nanosecond range
    first = 1 + (seed % 1000) * CRAWL_PAGES
    t_warm = time.perf_counter()
    pages = _pages(spark, first, CRAWL_PAGES).persist()
    pages.count()
    # one full untimed pass first: after a small warm-up pass the next
    # pass was still ~20 % faster than the one before it, so runs that
    # fit one or two passes in the window read differently
    scratch = {"extract": [], "forward": [], "lookup": []}
    ext, *_ = _crawl_pass(spark, rec.untimed(), idx, osmline, pages, scratch)
    ext.unpersist()
    print(f"perfbench: inputs + warm-up {time.perf_counter() - t_warm:.1f}s",
          file=sys.stderr)

    lat = {"extract": [], "forward": [], "lookup": []}
    tally = Tally()
    passes, outputs = 0, []
    t0 = time.perf_counter()
    while passes == 0 or time.perf_counter() - t0 < seconds:
        if outputs:
            # a cached extraction of the same pages would answer the next
            # pass's extract from the cache
            outputs[-1][0].unpersist()
        with rec.span("crawl.pass", request_id=f"pass-{passes}"):
            try:
                outputs.append(
                    _crawl_pass(spark, rec, idx, osmline, pages, lat))
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                tally.raised(CRAWL_PAGES, "crawl pass", exc)
        passes += 1
    wall = time.perf_counter() - t0

    # counters describe one pass: every pass reads the same pages
    counters = {"extract.pages_in": float(CRAWL_PAGES)}
    want = {p: synth.expected_target(p, **c)
            for p in range(first, first + CRAWL_PAGES)}
    for i, (ext, n_ext, fwd, hits, looked) in enumerate(outputs):
        # forward: every page's mention resolves to the generator's target
        got = {_page_index(q): (t, int(o))
               for q, t, o in fwd.itertuples(index=False) if t is not None}
        for p, target in want.items():
            tally.check(got.get(p) == target,
                        f"forward page {p}: {got.get(p)} != {target}")
        # lookup: each ref resolves to the same osm object
        by_ref = {r: (t, int(o)) for r, t, o in looked.itertuples(index=False)}
        for t, o in hits.itertuples(index=False):
            tally.check(by_ref.get(f"{t}{o}") == (t, int(o)), f"lookup {t}{o}")
        if i < len(outputs) - 1:
            continue
        # extract, checked on the last pass (every pass reads the same
        # pages): the mention bytes equal the generator's text for that url
        ex = ext.filter(F.col("mention").isNotNull()).select(
            "url", "mention").toPandas()
        seen = set()
        for url, mention in ex.itertuples(index=False):
            p = _page_index(url)
            text = synth._mention(p, c["n_cities"], c["n_streets"],
                                  c["n_houses"], c["n_pois"])[0]
            seen.add(p)
            tally.check(mention.encode() == text.encode(), f"extract {url}")
        for p in want.keys() - seen:
            tally.check(False, f"extract: page {p} has no mention")
        counters["extract.mentions_out"] = float(len(ex))
        counters["search.distinct_texts"] = float(ex["mention"].nunique())
        counters["search.found_ratio"] = len(got) / max(len(ex), 1)
    if outputs:
        outputs[-1][0].unpersist()
    pages.unpersist()
    return Result(tally, wall, CRAWL_PAGES * passes, passes, lat, counters)


# ------------------------------------------------------------ api_requests

def _api_cycle(spark, rng: random.Random, points, cycle: int):
    """One cycle of seeded requests, each with its prepared input DataFrame
    and the answer it must give.  Every request concerns a house: a house
    address forward, a house coordinate reverse, a house ref lookup, so runs
    of different seeds do the same kind of work on different targets."""
    order = list(API_CYCLE)
    rng.shuffle(order)
    plan = []
    for n, kind in enumerate(order):
        rid = f"c{cycle}-{n}"
        if kind == "forward":
            text, t, o = _house_query(rng)
            df = spark.createDataFrame([(rid, text)],
                                       "query_id string, qtext string")
        elif kind == "reverse":
            t, o, x, y = rng.choice(points)
            df = spark.createDataFrame(
                [(rid, x, y)], "point_id string, lon double, lat double")
        else:
            t, o, _, _ = rng.choice(points)
            df = spark.createDataFrame(
                [(rid, t, o)], "ref_id string, osm_type string, osm_id long")
        plan.append((kind, rid, df, (t, o)))
    return plan


def _serve(spark, rec, idx, osmline, kind: str, rid: str, df):
    name = {"forward": "search"}.get(kind, kind)
    with rec.span(name, request_id=rid) as s:
        if kind == "forward":
            rows = geocode(spark, idx, df, osmline=osmline).collect()
        elif kind == "reverse":
            rows = reverse_geocode(spark, idx, df, osmline=osmline).collect()
        else:
            rows = lookup_places(spark, idx, df, osmline=osmline).collect()
    got = (rows[0]["osm_type"], int(rows[0]["osm_id"])) if rows else None
    return got, s["end"] - s["start"]


def api_requests(spark, rec, idx, osmline, seed: int, seconds: float) -> Result:
    points = _house_points()
    # one untimed reverse first: the first reverse in a process costs
    # seconds more than later ones, and a server pays that once.  Forward
    # and lookup are not warmed (see README.md, "Time budget").
    _, _, x, y = random.Random(-1 - seed).choice(points)
    warm = spark.createDataFrame([("warm", x, y)],
                                 "point_id string, lon double, lat double")
    _, sec = _serve(spark, rec.untimed(), idx, osmline, "reverse", "warm", warm)
    print(f"perfbench: reverse warm-up {sec:.1f}s", file=sys.stderr)

    rng = random.Random(seed)
    lat = {"forward": [], "reverse": [], "lookup": []}
    tally = Tally()
    cycles, found, wall = 0, 0, 0.0
    # closed loop, one client: the next request leaves when the previous
    # answer is back; whole cycles only, so every run has the same mix.
    # Each cycle's inputs are made before its clock starts.
    while cycles == 0 or wall < seconds:
        plan = _api_cycle(spark, rng, points, cycles)
        t0 = time.perf_counter()
        for kind, rid, df, want in plan:
            try:
                got, sec = _serve(spark, rec, idx, osmline, kind, rid, df)
            except Exception as exc:  # noqa: BLE001 — counted, loop goes on
                tally.raised(1, f"{kind} {rid}", exc)
                continue
            lat[kind].append(sec)
            found += kind == "forward" and got is not None
            tally.check(got == want, f"{kind} {rid}: {got} != {want}")
        wall += time.perf_counter() - t0
        cycles += 1
    # each forward request carries one text
    counters = {"search.distinct_texts": 1.0,
                "search.found_ratio": found / cycles}
    return Result(tally, wall, cycles * len(API_CYCLE), cycles, lat, counters)


WORKLOADS = {"crawl_enrich": crawl_enrich, "api_requests": api_requests}
