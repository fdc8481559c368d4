"""Relation geometry assembly: member-way joins + multipolygon overlay.

Spark shape of SURVEY.md §2.3 J3/J4 + §2.8 G5/G6:
    kept relations -> explode members (type='way', deduped)      [J3]
    -> hash join member ways' assembled coordinates               [J1 reuse]
    -> groupBy relation: collect member linework                  [1 shuffle]
    -> pandas UDF: line_merge -> closed rings -> even-odd overlay [G6]
Standalone-way outputs exclude member ways of kept relations via a
left-anti join (J4, data_manager.pyx:70-84).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrosm_spark.functions import geometry_np as G
from pyrosm_spark.operators import geometry as geom

# G5 exception lists (relations.pyx:70-134)
_RAILWAY_AREA_VALUES = ["platform", "station", "turntable", "roundhouse",
                        "traverser", "wash"]
_HIGHWAY_AREA_VALUES = ["platform", "rest_area", "services"]
_WATERWAY_AREA_VALUES = ["riverbank", "dock", "boatyard", "dam", "fuel"]


def _nn(c):
    return F.coalesce(c, F.lit(False))


def force_linestring_col(tags) -> F.Column:
    """G5 — relation LineString-vs-area typing (relations.pyx:70-134).

    Keys are probed in the reference's order (barrier, route, railway,
    highway, waterway); the first decisive key wins, then ``area=no``
    forces linestring, then ``type in (multipolygon, boundary)`` forces
    area over everything (#21). Pure when/otherwise chain.
    """
    barrier, route = tags["barrier"], tags["route"]
    railway, highway = tags["railway"], tags["highway"]
    waterway, area, rtype = tags["waterway"], tags["area"], tags["type"]

    loop_verdict = (
        F.when(barrier.isNotNull(), F.lit(True))
        .when(route.isNotNull(), F.lit(True))
        .when(_nn(railway.isNotNull() & ~railway.isin(_RAILWAY_AREA_VALUES)),
              F.lit(True))
        # highway=pedestrian with an area tag decides here (break) either way
        .when(_nn((highway == "pedestrian") & area.isNotNull()),
              _nn(area != "yes"))
        .when(_nn(highway.isNotNull() & (highway != "pedestrian")
                  & ~highway.isin(_HIGHWAY_AREA_VALUES)), F.lit(True))
        .when(_nn(waterway.isNotNull() & ~waterway.isin(_WATERWAY_AREA_VALUES)),
              F.lit(True))
        .otherwise(F.lit(False))
    )
    with_area_no = loop_verdict | _nn(area == "no")
    return F.when(
        _nn(rtype.isin(["multipolygon", "boundary"])), F.lit(False)
    ).otherwise(with_area_no)


@F.pandas_udf(T.BinaryType())
def relation_geometry_wkb(
    member_wkbs: pd.Series, force_linestring: pd.Series
) -> pd.Series:
    """G6 — per-relation geometry from member linework.

    ``member_wkbs`` is array<binary> of member-way LineString WKBs (one
    per member way; WKB chosen over nested struct arrays because Arrow
    transfers flat binary lists efficiently). Area relations run the OSM
    multipolygon algorithm (geometry.pyx:195-240): line_merge, keep
    closed rings, even-odd overlay; returns MultiPolygon WKB (or None
    when no ring survives — the reference drops such relations).
    Linestring relations (routes etc.) line_merge into a
    MultiLineString (geometry.pyx:268-275).
    """
    out = []
    for members, force_ls in zip(member_wkbs, force_linestring):
        lines = []
        if members is not None:
            for wkb in members:
                if wkb is None:
                    continue
                gtype, coords = G.parse_wkb(bytes(wkb))
                if gtype == G.WKB_LINESTRING and len(coords) >= 2:
                    lines.append(coords)
        if not lines:
            out.append(None)
            continue
        if force_ls:
            merged = G.line_merge(lines)
            out.append(G.wkb_multilinestring(merged) if merged else None)
            continue
        polys = G.assemble_multipolygon(lines)
        out.append(G.wkb_multipolygon(polys) if polys else None)
    return pd.Series(out)


def straddling_relation_count(relations: DataFrame, ways: DataFrame) -> DataFrame:
    """A9 — diagnostic: relations with some-but-not-all member ways
    present in the way table (frames.pyx:142-160 warning). One exploded
    join + a grouped HAVING."""
    m = relation_member_ways(relations)
    present = ways.select(F.col("id").alias("way_id")).withColumn(
        "_present", F.lit(1))
    per_rel = (
        m.join(present, "way_id", "left")
        .groupBy("rel_id")
        .agg(F.count("*").alias("n_members"),
             F.sum(F.coalesce("_present", F.lit(0))).alias("n_present"))
    )
    return per_rel.filter(
        (F.col("n_present") > 0) & (F.col("n_present") < F.col("n_members"))
    )


def relation_member_ways(relations: DataFrame) -> DataFrame:
    """Explode way members, deduped per relation (relations.pyx:41-42),
    type-qualified so colliding node/relation ids never join (J3;
    collect.py:20-23)."""
    return (
        relations.select(
            F.col("id").alias("rel_id"), F.explode("members").alias("m")
        )
        .filter(F.col("m.member_type") == "way")
        .select("rel_id", F.col("m.member_id").alias("way_id"),
                F.col("m.member_role").alias("member_role"))
        .dropDuplicates(["rel_id", "way_id"])
    )


# Largest member set broadcast when static sizes cannot vouch for it.
# What gets broadcast is the member ways' exploded refs and point
# structs (~20-50 bytes per ref): tens of MB at ~10 refs per way. The
# ref total itself is not probed.
_BROADCAST_MEMBER_PROBE = 100_000


def _estimate_fits_broadcast(df: DataFrame) -> bool:
    """Whether Catalyst's static size estimate of ``df`` is within
    ``spark.sql.autoBroadcastJoinThreshold``. Reads the optimized plan's
    statistics, so no job runs."""
    threshold = df.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    return 0 <= size <= threshold


def _broadcast_member_lookups(members: DataFrame, ways: DataFrame,
                              nodes: DataFrame) -> bool:
    """Pick the member lookups' join strategy: True = broadcast the
    member ways explicitly, False = leave the joins to the planner.

    When the way and node tables are both estimated within the broadcast
    threshold, the planner broadcasts every lookup from static sizes and
    no job runs. Otherwise a small member set would still be planned as
    a sort-merge join against the node table: without CBO a filter or a
    semi-join does not shrink the estimate, and AQE submits the node
    table's shuffle before it learns the member side is small. So one
    LIMIT-bounded count of the member rows (a relations-table-only
    action) decides."""
    if _estimate_fits_broadcast(ways) and _estimate_fits_broadcast(nodes):
        return False
    probe = members.limit(_BROADCAST_MEMBER_PROBE + 1).count()
    return probe <= _BROADCAST_MEMBER_PROBE


def assemble_relations(
    relations: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    member_way_restriction: DataFrame | None = None,
) -> DataFrame:
    """Relations + geometry. ``member_way_restriction`` (optional set of
    allowed way ids, e.g. in-box ways when complete_relations=False,
    J6/collect.py:606-623) limits which member ways participate.

    The member lookups against the (possibly planet-sized) way and node
    tables stream-scan those tables without a shuffle when the member
    set is small, and keep shuffle joins when it is huge. Building the
    plan runs no Spark job when both tables are estimated within the
    broadcast threshold, and one count probe otherwise (see
    :func:`_broadcast_member_lookups`)."""
    members = relation_member_ways(relations)
    if member_way_restriction is not None:
        members = members.join(
            member_way_restriction.select(F.col("id").alias("way_id")),
            "way_id", "left_semi",
        )
    # Resolve each DISTINCT member way's coordinates ONCE: a way
    # shared by k kept relations has k (rel_id, way_id) member rows,
    # and exploding refs per member row would make way_coordinates'
    # groupBy(way_id) collect every vertex k times — handing k-fold
    # duplicated pts (wrong MultiLineString WKB; multipolygons only
    # survived because fix_ring's polygonize dedupes) to all k rows,
    # and inflating the broadcast payload. The reference resolves per
    # way too (its node-index lookup is keyed by the way).
    small = _broadcast_member_lookups(members, ways, nodes)
    uniq_ids = members.select("way_id").distinct()
    uniq_ways = ways.select(F.col("id").alias("way_id"), "refs").join(
        F.broadcast(uniq_ids) if small else uniq_ids,
        "way_id", "left_semi")
    with_pts = geom.spread_for_udf(geom.way_coordinates(
        uniq_ways.withColumnRenamed("way_id", "id"), nodes,
        broadcast_ways=small,
    ).filter(geom.pts_size() >= 2))
    way_lines = with_pts.select(
        F.col("id").alias("way_id"),
        geom.way_geometry_wkb(F.col(geom.PTS_FIELD), F.lit(False))
        .alias("_line"),
    )
    member_lines = members.join(
        F.broadcast(way_lines) if small else way_lines,
        "way_id", "inner",
    ).withColumnRenamed("way_id", "id")
    # The reference assembles by geometry, order-independent (#21) —
    # sort members by way id for a deterministic collect_list.
    per_rel = (
        member_lines.groupBy("rel_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("id"), F.col("_line")))
            ).alias("_mw")
        )
        .select(
            "rel_id",
            F.transform(F.col("_mw"), lambda s: s["_line"]).alias(
                "member_wkbs"
            ),
        )
    )
    rel = relations.join(per_rel, relations["id"] == per_rel["rel_id"], "inner")
    rel = rel.withColumn("_force_ls", force_linestring_col(F.col("tags")))
    rel = rel.withColumn(
        "geometry",
        relation_geometry_wkb(F.col("member_wkbs"), F.col("_force_ls")),
    )
    return (
        rel.filter(F.col("geometry").isNotNull())
        .drop("rel_id", "member_wkbs", "_force_ls", "members")
        .withColumn("osm_type", F.lit("relation"))
    )
