"""Batch reverse geocoding — the tiered cascade as DataFrame stages.

The reference's ReverseGeocoder (/root/reference/src/nominatim_api/
reverse.py:607-645) cascades per point: street/POI distance search within
0.006 deg -> housenumber/interpolation refinement -> area containment
ordered by rank desc (with place-node refinement) -> country fallback.
Here each tier is one distributed join over *all* points at once, and the
cascade is a coalesce over tier outputs:

  tier 1: kNN ring expansion against rank 26-30 places (J6) with the
          reference's max radius (0.006 deg for streets); a STREET winner
          refines to the nearest of its child housenumber points within
          0.001 deg, or to an interpolation segment of the street when
          that is closer (reverse.py:242-320 _find_housenumber_for_street
          / _find_interpolation_for_street, applied at :322-389)
  tier 2: point-in-polygon cover join against areas rank 5..25, deepest
          rank_address wins (T5 semantics: rank desc, then smallest
          area); the winning area refines to a better place NODE inside
          it when one lies within its rank's reverse_place_diameter of
          the point (reverse.py:391-459 IntersectsReverseDistance /
          IsBelowReverseDistance, ranking.sql:56-77)
  tier 3: country polygon containment (rank 1..4 — reverse.py:520-605)

Batch narrowings (documented): interpolation refinement considers the
winning street's own lines (the reference's parent-less variant also
scans nearby foreign lines); place-node refinement considers node ranks
>= 13 (diameter <= 0.16 deg) so the candidate join stays radius-bounded —
the reference's larger-diameter node ranks are state-level nodes that
rarely carry reverse results.

Per-index tables: three tables depend only on the index, never on the
request — the cell cover of the tier-2 areas, the cell cover of the
tier-3 country polygons, and the refinement place nodes joined to the
areas that contain them.  They are built and persisted once per
``IndexTables`` (:class:`ReverseTables`, kept on the index) and filtered
by ``max_rank`` at query time, so the first reverse on an index pays for
their build and later calls only probe them.  A ``dataclasses.replace``
copy or an updated index starts without them and builds its own.  The
request's points are materialized once at entry as well.

Returns one row per input point with the chosen place + tier label + the
refined housenumber when one was found.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nominatim_spark.io.checkpoint import materialize_probe
from nominatim_spark.operators.spatial import (
    cover_cells_dist, knn_join, point_in_polygon_join_dist)
from nominatim_spark.pipeline.placex import IndexTables

MAX_STREET_DIST_DEG = 0.006  # reverse.py:322-389 street search radius
HOUSE_DIST_DEG = 0.001       # housenumber/interpolation refine radius
NODE_REFINE_MIN_RANK = 13    # batch floor for place-node refinement
FEATURE_DIST_DEG = 0.007     # _lookup_area_others ST_Expand radius (:471)

DEFAULT_LAYERS = ("address", "poi")  # ReverseDetails default (types.py:595)
FEATURE_LAYERS = ("railway", "natural", "manmade")


def _layer_class_filter(layers):
    """Class membership for the railway/natural/manmade feature layers —
    the reference's _filter_by_layer (reverse.py:144-158): with manmade
    enabled everything EXCEPT the disabled layers' classes passes, else
    only the enabled layers' classes pass."""
    if "manmade" in layers:
        exclude = []
        if "railway" not in layers:
            exclude.append("railway")
        if "natural" not in layers:
            exclude.extend(("natural", "water", "waterway"))
        return (~F.col("class").isin(exclude)) if exclude else F.lit(True)
    include = []
    if "railway" in layers:
        include.append("railway")
    if "natural" in layers:
        include.extend(("natural", "water", "waterway"))
    return F.col("class").isin(include)


def _tier1_layer_restrict(placex, layers, max_rank: int):
    """Tier-1 candidate restriction per enabled layer — the reference's
    _find_closest_street_or_pois restrict union (reverse.py:185-200):

    * ADDRESS: rank_address 26..min(29, max_rank); at max_rank 30 also
      address points (IsAddressPoint, sqlalchemy_functions.py:115-134 —
      rank_address 30, not inherited, housenumber or addr:housename)
    * POI (max_rank 30 only): rank_search 30, class not place/building,
      not line-like
    * feature layers: rank_search 26..max_rank, rank_address 0, class in
      the layer set
    """
    conds = []
    if "address" in layers:
        c = F.col("rank_address").between(26, min(29, max_rank))
        if max_rank == 30:
            c = c | (
                (F.col("rank_address") == 30)
                & F.col("address").getItem("_inherited").isNull()
                & (F.col("address").getItem("housenumber").isNotNull()
                   | F.col("name").getItem("addr:housename").isNotNull())
            )
        conds.append(c)
    if "poi" in layers and max_rank == 30:
        c = ((F.col("rank_search") == 30)
             & ~F.col("class").isin("place", "building"))
        if "geom_kind" in placex.columns:
            c = c & (~F.col("geom_kind").isin("LineString",
                                              "MultiLineString")
                     | F.col("geom_kind").isNull())
        conds.append(c)
    if any(ly in layers for ly in FEATURE_LAYERS):
        conds.append(
            F.col("rank_search").between(26, max_rank)
            & (F.col("rank_address") == 0)
            & _layer_class_filter(layers)
        )
    if not conds:
        return F.lit(False)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def _reverse_place_diameter(rs):
    """reverse_place_diameter(rank_search) — ranking.sql:56-77."""
    return (
        F.when(rs <= 4, 5.0).when(rs <= 8, 1.8).when(rs <= 12, 0.6)
        .when(rs <= 17, 0.16).when(rs <= 18, 0.08).when(rs <= 19, 0.04)
        .otherwise(0.02)
    )


def _line_near_udf():
    """Squared distance from (lon, lat) to a WKB linestring + the
    fraction along the line of the closest point (ST_Distance +
    ST_LineLocatePoint, the osmline refinement's two measures).
    Built lazily — pandas_udf return-type parsing needs a live session."""

    @F.pandas_udf("dist2 double, frac double")
    def _line_near(geom: pd.Series, lon: pd.Series, lat: pd.Series
                   ) -> pd.DataFrame:
        from nominatim_spark.geometry.ops import line_locate_point
        from nominatim_spark.geometry.wkb import parse_wkb

        d2s = np.empty(len(geom))
        fracs = np.empty(len(geom))
        for i, (g, x, y) in enumerate(zip(geom, lon, lat)):
            coords = parse_wkb(bytes(g)).all_coords()
            p = np.array([float(x), float(y)])
            a = coords[:-1]
            d = np.diff(coords, axis=0)
            seg_len2 = np.sum(d * d, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.clip(
                    np.sum((p - a) * d, axis=1) / seg_len2, 0.0, 1.0)
            t = np.nan_to_num(t)
            proj = a + t[:, None] * d
            d2s[i] = float(np.min(np.sum((proj - p) ** 2, axis=1)))
            fracs[i] = line_locate_point(coords, float(x), float(y))
        return pd.DataFrame({"dist2": d2s, "frac": fracs})

    return _line_near


def _searchable(placex: DataFrame) -> DataFrame:
    # linked label nodes never surface as reverse results (P5 guard)
    if "linked_place_id" in placex.columns:
        return placex.filter(F.col("linked_place_id").isNull())
    return placex


def _areas(placex: DataFrame) -> DataFrame:
    """Tier-2 candidate areas (rank_address 5..25), every rank_search."""
    return placex.filter(
        (F.col("extended_type") == "A") & F.col("rank_address").between(5, 25)
    ).select(
        F.col("place_id").alias("a_id"),
        F.col("rank_address").alias("a_addr"),
        F.col("rank_search").alias("a_rs"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).alias("a_area"),
        "geometry",
    )


def _countries(placex: DataFrame) -> DataFrame:
    """Tier-3 country-level polygons (rank_address 1..4)."""
    return placex.filter(
        (F.col("extended_type") == "A") & F.col("rank_address").between(1, 4)
    ).select(
        F.col("place_id").alias("c_id"),
        F.col("rank_address").alias("c_addr"),
        "geometry",
    )


@dataclass
class ReverseTables:
    """The index-only inputs of reverse's polygon tiers.

    None depends on the request, so one set, persisted, serves every
    call; ``max_rank`` filters them at query time.
    """
    area_cover: DataFrame     # (a_id, cell, _full, a_rs) of every area
    country_cover: DataFrame  # (c_id, cell, _full)
    # refinement nodes with the areas containing them:
    # (t2_place, n_id, n_rs, n_lon, n_lat)
    node_area: DataFrame


def _reverse_tables(idx: IndexTables) -> ReverseTables:
    """``idx``'s reverse tables, built and persisted on first use."""
    if idx.reverse_tables is None:
        placex = _searchable(idx.placex)
        areas = _areas(placex)
        area_cover = cover_cells_dist(areas, poly_key="a_id").join(
            areas.select("a_id", "a_rs"), "a_id")
        # place-node refinement candidates (NODE_REFINE_MIN_RANK floor,
        # see the module docstring)
        nodes = placex.filter(
            (F.col("osm_type") == "N")
            & F.col("rank_address").between(4, 25)
            & (F.col("rank_search") >= NODE_REFINE_MIN_RANK)
            & F.col("name").getItem("name").isNotNull()
        ).select(
            F.col("place_id").alias("n_id"),
            F.col("rank_search").alias("n_rs"),
            F.col("lon").alias("n_lon"), F.col("lat").alias("n_lat"),
        )
        node_area = point_in_polygon_join_dist(
            nodes.select(F.col("n_id").alias("point_id"),
                         F.col("n_lon").alias("lon"),
                         F.col("n_lat").alias("lat")),
            areas.select("a_id", "geometry"), poly_key="a_id",
            cover=area_cover.drop("a_rs"),
        ).select(F.col("point_id").alias("n_id"),
                 F.col("a_id").alias("t2_place")).join(nodes, "n_id")
        tables = ReverseTables(
            area_cover=area_cover,
            country_cover=cover_cells_dist(_countries(placex),
                                           poly_key="c_id"),
            node_area=node_area,
        )
        for df in (tables.area_cover, tables.country_cover,
                   tables.node_area):
            df.persist().count()
        idx.reverse_tables = tables
    return idx.reverse_tables


def reverse_geocode(
    spark,
    idx: IndexTables,
    points: DataFrame,
    *,
    point_key: str = "point_id",
    max_rank: int = 30,
    osmline: DataFrame | None = None,
    tiger: DataFrame | None = None,
    layers: list[str] | None = None,
) -> DataFrame:
    """points(point_id, lon, lat) -> best place per point.

    ``layers`` filters which kinds of places may answer (the reference's
    DataLayer flags, ReverseDetails.layers default ADDRESS|POI,
    types.py:586-597): any of 'address', 'poi', 'railway', 'natural',
    'manmade'.  Feature layers search named rank_address-0 places within
    0.007 deg (reverse.py _lookup_area_others:461-489); the country
    fallback only answers for the address layer (lookup(): 633).

    ``tiger``: osmline-shaped TIGER segments (sources.tiger.tiger_osmline).
    Consulted only for street winners in the US with no OSM housenumber
    nearby (reverse.py:365-374 + _find_tiger_number_for_street:293-320);
    an OSM interpolation still wins over a TIGER match, and TIGER results
    keep the street's osm object (create_from_tiger_row, results.py:370).
    """
    layers = [ly.lower() for ly in (layers or DEFAULT_LAYERS)]
    has_addr = "address" in layers
    placex = _searchable(idx.placex)
    # every tier reads the points: materialize them once, one task per
    # Arrow batch of points (tiers re-check rows in Python), so a single
    # request runs as one task and a large batch keeps its parallelism
    # (Spark reads a batch size <= 0 as unlimited: the default sizing)
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    points = (materialize_probe(points, batch) if batch > 0
              else materialize_probe(points))
    pts = points.select(point_key, "lon", "lat")

    # ---- tier 1: nearest street/POI within the radius, restricted to
    # the enabled layers (reverse.py:185-200 restrict union)
    near_places = placex.filter(
        F.col("rank_search").between(26, max_rank)
        & _tier1_layer_restrict(placex, layers, max_rank)
    ).select(F.col("place_id").alias("cand_id"), "lon", "lat")
    knn = knn_join(
        points, near_places, res=7, point_key=point_key, cand_key="cand_id",
        k_cells_start=2, k_cells_max=4,
    )
    t1 = knn.filter(
        F.col("dist2") <= MAX_STREET_DIST_DEG ** 2
    ).join(
        placex.select(F.col("place_id").alias("cand_id"),
                      F.col("rank_address").alias("_t1_ra"),
                      F.col("country_code").alias("_t1_cc")),
        "cand_id",
    ).select(point_key, F.col("cand_id").alias("t1_place"),
             "_t1_ra", "_t1_cc")

    # ---- tier 1 refinement: street winner -> housenumber point or
    # interpolation segment of that street (reverse.py:242-320,:322-389)
    house_ref = interp_ref = tiger_ref = None
    if max_rank > 27 and has_addr:
        streets = (
            t1.filter(F.col("_t1_ra").between(26, 27))
            .select(point_key, F.col("t1_place").alias("_street"), "_t1_cc")
            .join(pts, point_key)
        )
        houses = placex.filter(
            (F.col("rank_address") == 30)
            & F.col("address").getItem("housenumber").isNotNull()
            & F.col("parent_place_id").isNotNull()
        ).select(
            F.col("parent_place_id").alias("_street"),
            F.col("place_id").alias("_h_id"),
            F.col("address").getItem("housenumber").alias("_h_hnr"),
            F.col("lon").alias("_h_lon"), F.col("lat").alias("_h_lat"),
        )
        house_ref = (
            streets.join(houses, "_street")
            .withColumn(
                "_hd2",
                (F.col("_h_lon") - F.col("lon")) ** 2
                + (F.col("_h_lat") - F.col("lat")) ** 2,
            )
            .filter(F.col("_hd2") <= HOUSE_DIST_DEG ** 2)
            .groupBy(point_key)
            .agg(F.expr(
                "min_by(struct(_h_id, _h_hnr, _hd2), struct(_hd2, _h_id))"
            ).alias("_h"))
        )
        if osmline is not None:
            lines = osmline.select(
                F.col("parent_place_id").alias("_street"),
                "osmline_id", "way_id", "startnumber", "endnumber", "step",
                "geometry",
            )
            ln = _line_near_udf()("geometry", "lon", "lat")
            interp_ref = (
                streets.join(lines, "_street")
                .withColumn("_ln", ln)
                .filter(F.col("_ln.dist2") <= HOUSE_DIST_DEG ** 2)
                .select(
                    point_key, "osmline_id", "way_id",
                    F.col("_ln.dist2").alias("_id2"),
                    # _interpolated_housenumber (reverse.py:57-67):
                    # nearest step position along the segment
                    (F.col("startnumber") + F.floor(
                        (F.col("endnumber") - F.col("startnumber"))
                        * F.col("_ln.frac") / F.col("step") + 0.5
                    ).cast("int") * F.col("step")).alias("_i_hnr"),
                )
                .groupBy(point_key)
                .agg(F.expr(
                    "min_by(struct(osmline_id, way_id, _i_hnr, _id2), "
                    "struct(_id2, osmline_id))"
                ).alias("_i"))
            )
        if tiger is not None:
            # US-only TIGER fallback (reverse.py:365-374): closest TIGER
            # segment of the winning street within the house radius, with
            # the same interpolated-housenumber math as osmline
            tlines = tiger.select(
                F.col("parent_place_id").alias("_street"),
                F.col("osmline_id").alias("_t_id"),
                "startnumber", "endnumber", "step", "geometry",
            )
            tln = _line_near_udf()("geometry", "lon", "lat")
            tiger_ref = (
                streets.filter(F.col("_t1_cc") == "us")
                .join(tlines, "_street")
                .withColumn("_ln", tln)
                .filter(F.col("_ln.dist2") <= HOUSE_DIST_DEG ** 2)
                .select(
                    point_key, "_t_id",
                    F.col("_street").alias("_t_street"),
                    F.col("_ln.dist2").alias("_td2"),
                    (F.col("startnumber") + F.floor(
                        (F.col("endnumber") - F.col("startnumber"))
                        * F.col("_ln.frac") / F.col("step") + 0.5
                    ).cast("int") * F.col("step")).alias("_t_hnr"),
                )
                .groupBy(point_key)
                .agg(F.expr(
                    "min_by(struct(_t_id, _t_street, _t_hnr, _td2), "
                    "struct(_td2, _t_id))"
                ).alias("_t"))
            )

    t1r = t1.select(point_key, "t1_place")
    t1r = (t1r.join(house_ref, point_key, "left") if house_ref is not None
           else t1r.withColumn("_h", F.lit(None).cast(
               "struct<_h_id:long,_h_hnr:string,_hd2:double>")))
    t1r = (t1r.join(interp_ref, point_key, "left") if interp_ref is not None
           else t1r.withColumn("_i", F.lit(None).cast(
               "struct<osmline_id:long,way_id:long,_i_hnr:int,"
               "_id2:double>")))
    t1r = (t1r.join(tiger_ref, point_key, "left") if tiger_ref is not None
           else t1r.withColumn("_t", F.lit(None).cast(
               "struct<_t_id:long,_t_street:long,_t_hnr:int,_td2:double>")))
    # the interpolation wins only when strictly closer than the chosen
    # housenumber (or the 0.001 street refine radius); TIGER answers only
    # when neither an OSM housenumber nor an interpolation matched
    # (hnr_distance is None + the later interpolation override, :365-389)
    use_interp = (
        F.col("_i").isNotNull()
        & (F.col("_i._id2")
           < F.coalesce(F.col("_h._hd2"), F.lit(HOUSE_DIST_DEG ** 2)))
    )
    use_tiger = (
        ~F.coalesce(use_interp, F.lit(False))
        & F.col("_h").isNull() & F.col("_t").isNotNull()
    )
    t1r = t1r.select(
        point_key,
        F.when(use_interp, F.col("_i.osmline_id"))
        .when(F.col("_h").isNotNull(), F.col("_h._h_id"))
        .when(use_tiger, F.col("_t._t_id"))
        .otherwise(F.col("t1_place")).alias("t1_place"),
        F.when(use_interp, F.col("_i._i_hnr").cast("string"))
        .when(F.col("_h").isNotNull(), F.col("_h._h_hnr"))
        .when(use_tiger, F.col("_t._t_hnr").cast("string"))
        .alias("t1_hnr"),
        F.when(use_interp, F.lit("interpolation"))
        .when(F.col("_h").isNotNull(), F.lit("house"))
        .when(use_tiger, F.lit("tiger"))
        .otherwise(F.lit("street_poi")).alias("t1_kind"),
        F.when(use_interp, F.col("_i.way_id")).alias("_i_way"),
        F.when(use_tiger, F.col("_t._t_street")).alias("_t_street"),
    )

    # ---- tier 2: deepest containing area (distributed PiP cover join —
    # the area table scales with the planet, nothing reaches the driver).
    # Country-level polygons (rank_address <= 4) are tier 3 below.
    # Address-layer only (lookup_area, reverse.py:491-516); capped at
    # max_rank like the reference's rank_search <= MAX_RANK_PARAM.
    tables = _reverse_tables(idx)
    areas = _areas(placex).filter(F.col("a_rs") <= F.lit(max_rank))
    hit = point_in_polygon_join_dist(
        pts, areas, poly_key="a_id", carry=("a_addr", "a_area", "a_rs"),
        cover=tables.area_cover.filter(F.col("a_rs") <= F.lit(max_rank))
        .drop("a_rs"),
    )
    w = Window.partitionBy(point_key).orderBy(
        F.col("a_addr").desc(), F.col("a_area").asc(), F.col("a_id")
    )
    t2w = (
        hit.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(point_key, F.col("a_id").alias("t2_place"), "a_rs")
    )

    # ---- tier 2 refinement: better place node inside the winning area
    # (reverse.py:436-459): rank_search above the area's, within its
    # rank's reverse diameter of the point, contained in the area.  The
    # winning area already passed the max_rank cap, so only the node's
    # own rank is capped here.
    nref = (
        t2w.join(pts, point_key)
        .join(tables.node_area.filter(F.col("n_rs") <= F.lit(max_rank)),
              "t2_place")
        .filter(F.col("n_rs") > F.col("a_rs"))
        .withColumn(
            "_nd2",
            (F.col("n_lon") - F.col("lon")) ** 2
            + (F.col("n_lat") - F.col("lat")) ** 2,
        )
        .filter(F.col("_nd2")
                < _reverse_place_diameter(F.col("n_rs")) ** 2)
        .groupBy(point_key)
        .agg(F.expr(
            "min_by(n_id, struct(-n_rs, _nd2, n_id))").alias("n_best"))
    )
    t2r = t2w.join(nref, point_key, "left").select(
        point_key,
        F.coalesce("n_best", "t2_place").alias("t2_place"),
        F.col("n_best").isNotNull().alias("t2_is_node"),
    )
    if not has_addr:
        # lookup_area's address branch runs only for the ADDRESS layer
        # (reverse.py:497-500)
        t2r = pts.select(
            point_key,
            F.lit(None).cast("long").alias("t2_place"),
            F.lit(None).cast("boolean").alias("t2_is_node"),
        ).limit(0)

    # ---- tier 2b: named non-address features of the enabled feature
    # layers within 0.007 deg (_lookup_area_others, reverse.py:461-489):
    # highest rank_search wins, distance breaks ties.  Loses to a
    # containing address area (the reference's _get_closest with the
    # address row's literal 0.0 distance, :502-516).
    t2o = None
    if any(ly in layers for ly in FEATURE_LAYERS):
        from nominatim_spark.operators.spatial import within_distance_join

        others = placex.filter(
            (F.col("rank_address") == 0)
            & F.col("rank_search").between(5, max_rank)
            & (F.size(F.map_keys(F.col("name"))) > 0)
            & _layer_class_filter(layers)
        ).select(F.col("place_id").alias("o_id"), "lon", "lat",
                 F.col("rank_search").alias("o_rs"))
        t2o = (
            within_distance_join(
                points, others.select("o_id", "lon", "lat"),
                radius_deg=FEATURE_DIST_DEG, point_key=point_key,
                cand_key="o_id",
            )
            .join(others.select("o_id", "o_rs"), "o_id")
            .groupBy(point_key)
            .agg(F.expr("min_by(o_id, struct(-o_rs, dist2, o_id))")
                 .alias("t2o_place"))
        )

    # ---- tier 3: country containment (the reference's country fallback,
    # reverse.py:520-605 lookup_country) — rank_address 1..4 polygons;
    # address layer only (lookup(): row fallback gated on ADDRESS, :633)
    chit = point_in_polygon_join_dist(
        pts, _countries(placex), poly_key="c_id", carry=("c_addr",),
        cover=tables.country_cover,
    )
    wc = Window.partitionBy(point_key).orderBy(
        F.col("c_addr").desc(), F.col("c_id")
    )
    tier3 = (
        chit.withColumn("_rn", F.row_number().over(wc))
        .filter("_rn = 1")
        .select(point_key, F.col("c_id").alias("t3_place"))
    )

    # ---- cascade
    out = points.join(t1r, point_key, "left").join(t2r, point_key, "left")
    out = (out.join(t2o, point_key, "left") if t2o is not None
           else out.withColumn("t2o_place", F.lit(None).cast("long")))
    out = (out.join(tier3, point_key, "left") if has_addr
           else out.withColumn("t3_place", F.lit(None).cast("long")))
    out = (
        out
        .withColumn("place_id", F.coalesce("t1_place", "t2_place",
                                           "t2o_place", "t3_place"))
        .withColumn(
            "tier",
            F.when(F.col("t1_place").isNotNull(), F.col("t1_kind"))
            .when(
                F.col("t2_place").isNotNull(),
                F.when(F.col("t2_is_node"), "place_node").otherwise("area"),
            )
            .when(F.col("t2o_place").isNotNull(), "feature")
            .when(F.col("t3_place").isNotNull(), "country")
            .otherwise("none"),
        )
        .withColumn("housenumber", F.col("t1_hnr"))
        .drop("t1_place", "t2_place", "t2o_place", "t3_place", "t1_kind",
              "t1_hnr", "t2_is_node")
    )
    info = placex.select(
        "place_id", "osm_type", "osm_id", "class", "type",
        "rank_search", "rank_address", "country_code",
    )
    out = out.join(info, "place_id", "left")
    # interpolation/TIGER winners live outside placex: fill their
    # attributes (create_from_osmline_row / create_from_tiger_row shapes —
    # a TIGER result keeps the parent STREET's osm object, results.py:386)
    is_interp = F.col("tier") == "interpolation"
    is_tiger = F.col("tier") == "tiger"
    street_osm = placex.select(
        F.col("place_id").alias("_t_street"),
        F.col("osm_type").alias("_ts_type"),
        F.col("osm_id").alias("_ts_id"),
    )
    out = out.join(street_osm, "_t_street", "left")
    out = (
        out.withColumn("osm_type", F.when(is_interp, "W")
                       .when(is_tiger, F.col("_ts_type"))
                       .otherwise(F.col("osm_type")))
        .withColumn("osm_id", F.when(is_interp, F.col("_i_way"))
                    .when(is_tiger, F.col("_ts_id"))
                    .otherwise(F.col("osm_id")))
        .withColumn("class", F.when(is_interp | is_tiger, "place")
                    .otherwise(F.col("class")))
        .withColumn("type", F.when(is_interp, "houses")
                    .when(is_tiger, "house")
                    .otherwise(F.col("type")))
        .withColumn("rank_search", F.when(is_interp | is_tiger, 30)
                    .otherwise(F.col("rank_search")))
        .withColumn("rank_address", F.when(is_interp | is_tiger, 30)
                    .otherwise(F.col("rank_address")))
        .withColumn("country_code", F.when(is_tiger, "us")
                    .otherwise(F.col("country_code")))
        .drop("_i_way", "_t_street", "_ts_type", "_ts_id")
    )
    return out
