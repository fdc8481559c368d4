"""Distributed geometry assembly: the node->way coordinate join and the
WKB constructors.

This module is the Spark-native replacement for pyrosm's geometry
engine (``geometry.pyx``, ``node_lookup.pyx``): the per-way node-ref
loop becomes one shuffle join + one aggregation (J1 in SURVEY.md §2.3),
and segment lengths stay entirely in whole-stage codegen (G10).
Only final WKB serialization touches Python, as Arrow-batched pandas
UDFs over numpy kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrosm_spark.functions import geometry_np as G
from pyrosm_spark.functions.distance import segment_length_m

PTS_FIELD = "pts"  # array<struct<pos:int, ref:long, lon:double, lat:double>>


def way_coordinates(ways: DataFrame, nodes: DataFrame,
                    broadcast_ways: bool = False) -> DataFrame:
    """J1 — the workhorse node->way coordinate join.

    Reference semantics (``geometry.pyx:295-342``, ``node_lookup.pyx:52-66``):
    each way's node refs resolve to (lon, lat) *in ref order*; refs
    missing from the node table are dropped while preserving the
    subsequence order. Missing-node completion (J5, the reference's
    second file pass, ``pbfreader.pyx:609-647``) is a non-issue here:
    we always join against the full node table.

    Spark shape: posexplode(refs) -> shuffle hash join on node id ->
    collect_list(struct(pos, ...)) -> array_sort. Two shuffles total
    (join key, then way id); both are pure equi-shuffles AQE can size.
    Returns ``ways`` with an added ``pts`` array column (ways with zero
    resolvable refs keep an empty array).

    ``broadcast_ways=True`` is the SMALL-left-side plan (relation
    member assembly: dozens-to-thousands of ways probing a planet-sized
    node table): the exploded refs and the aggregated pts are broadcast
    so the node table is stream-scanned once with ZERO shuffles,
    instead of fully reshuffling it for a tiny probe side. AQE cannot
    make that switch: a sort-merge join planned from static sizes
    submits the node table's shuffle before the probe side's size is
    known. Callers must know the way set is broadcast-sized (see
    ``relations.assemble_relations``).
    """
    refs = ways.select(F.col("id").alias("way_id"),
                       F.posexplode("refs").alias("pos", "ref"))
    coords = nodes.select(F.col("id").alias("ref"),
                          F.col("lon").alias("_lon"),
                          F.col("lat").alias("_lat"))
    if broadcast_ways:
        joined = coords.join(F.broadcast(refs), "ref", "inner")
    else:
        joined = refs.join(coords, "ref", "inner")
    pts = (
        joined.groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    F.col("pos"),
                    F.col("ref"),
                    F.col("_lon").alias("lon"),
                    F.col("_lat").alias("lat"),
                ))
            ).alias(PTS_FIELD)
        )
    )
    if broadcast_ways:
        pts = F.broadcast(pts)
    return (
        ways.join(pts, ways["id"] == pts["way_id"], "left")
        .drop("way_id")
        .withColumn(PTS_FIELD, F.coalesce(
            F.col(PTS_FIELD),
            F.array().cast(pts.schema[PTS_FIELD].dataType),
        ))
    )


# --------------------------------------------------------------------------
# Native-SQL helpers over the pts array
# --------------------------------------------------------------------------

def pts_size(pts: Column = None) -> Column:
    return F.size(pts if pts is not None else F.col(PTS_FIELD))


def way_is_closed(refs: Column = None) -> Column:
    """Closed ring decided on the RAW refs — the reference checks
    ``nodes[0] == nodes[-1]`` on the way's ref list before resolving
    coordinates (geometry.pyx:508), so a ring whose middle node is
    missing/deleted still *decides* polygon (construction may then
    fail and drop the row, matching the reference's None-geometry
    path).

    No minimum-size gate beyond 2: the reference decides polygon on
    first==last ALONE, so a raw 3-ref closed way [A, B, A] takes the
    polygon path (building the same padded sliver its goldens count)
    and [A, A] takes it too (the <3-resolved-vertices rule then drops
    it) — a >=4 gate here would emit LineString rows the reference
    never produces for those ways."""
    r = refs if refs is not None else F.col("refs")
    return (F.size(r) >= 2) & (
        F.element_at(r, 1) == F.element_at(r, -1)
    )


def segment_lengths_m(pts: Column = None) -> Column:
    """Per-segment haversine lengths (meters, round 3) as an array —
    pure SQL, stays in codegen (G10, distance.py:77-90)."""
    p = pts if pts is not None else F.col(PTS_FIELD)
    idx = F.sequence(F.lit(1), F.size(p) - 1)  # element_at is 1-based
    return F.when(F.size(p) >= 2, F.transform(
        idx,
        lambda i: segment_length_m(
            F.element_at(p, i)["lat"], F.element_at(p, i)["lon"],
            F.element_at(p, i + 1)["lat"], F.element_at(p, i + 1)["lon"],
        ),
    )).otherwise(F.array().cast("array<double>"))


def way_length_m(pts: Column = None) -> Column:
    """Way length = sum of segment lengths, rounded to 0 decimals
    (distance.py:77-78 ``.sum().round(0)``)."""
    segs = segment_lengths_m(pts)
    return F.round(F.aggregate(segs, F.lit(0.0), lambda a, x: a + x), 0)


def closed_way_is_polygon(tags: Column) -> Column:
    """G4 — closed-way area decision (geometry.pyx:381-389, 496-503):
    explicit area tag wins; otherwise polygon unless THIS way carries a
    linear-feature tag (highway / barrier / route). Pure Column expr."""
    area = tags["area"]
    has_linear = (
        tags["highway"].isNotNull()
        | tags["barrier"].isNotNull()
        | tags["route"].isNotNull()
    )
    return (
        F.when(area == "yes", F.lit(True))
        .when(area == "no", F.lit(False))
        .otherwise(~F.coalesce(has_linear, F.lit(False)))
    )


def bbox_struct(pts: Column = None) -> Column:
    """Geometry bbox as a struct column — the pruning companion of the
    WKB geometry (SURVEY.md §1.2: 'WKB + bbox struct columns')."""
    p = pts if pts is not None else F.col(PTS_FIELD)
    lons = F.transform(p, lambda s: s["lon"])
    lats = F.transform(p, lambda s: s["lat"])
    return F.struct(
        F.array_min(lons).alias("xmin"),
        F.array_min(lats).alias("ymin"),
        F.array_max(lons).alias("xmax"),
        F.array_max(lats).alias("ymax"),
    )


# --------------------------------------------------------------------------
# WKB constructors (Arrow-batched pandas UDFs over numpy kernels)
# --------------------------------------------------------------------------

def spread_for_udf(df: DataFrame) -> DataFrame:
    """Give the next Arrow-UDF stage its own exchange.

    Without it the geometry UDF fuses into the same task as the
    coordinate join's final aggregation; the per-task Arrow round-trip
    then serializes against the join machinery and AQE's byte-based
    coalescing under-parallelizes the CPU-dense work (measured 2.5x on
    a 475k-way world, stable across partition counts). The cost is one
    exchange of the pts frame — one extra pass over the coordinate
    payload, bought back by a clean, evenly-sized Python stage.

    The exchange is a ``REBALANCE``: AQE sizes its partitions from the
    bytes actually shuffled (``advisoryPartitionSizeInBytes``, split
    when skewed). A large frame still fans out over every core, while a
    small one runs as one or two Python tasks. A fixed partition count
    (``2 x defaultParallelism``) would spend eight Python tasks on a few
    thousand ways on 4 cores, and each task pays a Python worker round
    trip that costs more than its rows (see ``session.py``).
    Spark ignores the hint when AQE is off; that session gets the fixed
    count instead.
    """
    spark = df.sparkSession
    if spark.conf.get("spark.sql.adaptive.enabled") == "true":
        return df.hint("rebalance")
    return df.repartition(spark.sparkContext.defaultParallelism * 2)


@F.pandas_udf(T.BinaryType())
def _way_wkb_from_arrays(lons: pd.Series, lats: pd.Series,
                         is_polygon: pd.Series) -> pd.Series:
    """Way geometry kernel: Polygon for closed areas, LineString
    otherwise; None for <2 points (dropped downstream) — G2/G3
    (geometry.pyx:404-620, vectorized there with shapely, here numpy).

    Inputs are parallel array<double> columns: Arrow hands each row
    over as ready numpy float64 arrays (the array<struct> form
    deserialized to per-point Python dicts — ~5x slower end-to-end).
    The whole batch is flattened once; shoelace areas (closure-term
    corrected), auto-close detection, and CCW orientation are computed
    vectorized over the flat arrays, so the per-row Python work is one
    header pack + one contiguous ``tobytes``. Degeneracy needs only
    the area test: a ring with <3 distinct vertices has zero area.
    """
    import struct

    n_all = len(lons)
    if n_all == 0:
        return pd.Series([], dtype=object)
    all_lon = list(lons)
    all_lat = list(lats)
    # NULL array cells (no resolvable refs) count as length 0 -> the
    # row yields None, preserving the public contract without callers
    # having to pre-filter pts_size() >= 2
    lens_all = np.fromiter((0 if a is None else a.size for a in all_lon),
                           dtype=np.int64, count=n_all)
    keep = lens_all >= 2
    if not keep.all():
        # compact to decodable rows up front: short rows at the batch
        # TAIL would otherwise put reduceat start indices past the end
        # of the cross-term array; their contract is simply None
        idx = np.nonzero(keep)[0]
        sub = _way_wkb_from_arrays.func(
            pd.Series([all_lon[i] for i in idx]),
            pd.Series([all_lat[i] for i in idx]),
            pd.Series(is_polygon.to_numpy()[idx]),
        )
        full = np.full(n_all, None, dtype=object)
        full[idx] = sub.to_numpy(dtype=object)
        return pd.Series(full)

    n_rows = n_all
    arrs = all_lon
    lens = lens_all
    off = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    total = int(off[-1])
    flat = np.empty((total, 2), dtype="<f8")
    flat[:, 0] = np.concatenate(arrs) if total else []
    flat[:, 1] = np.concatenate(all_lat) if total else []
    x, y = flat[:, 0], flat[:, 1]

    # per-row shoelace over stored points with implicit closure:
    # open-segment cross terms summed per row + the last->first term.
    # Coordinates are translated to each row's first vertex first —
    # the standard conditioning trick: absolute lon/lat products
    # cancel to ~1e-11 float noise, translated ones to ~1e-19, so the
    # degeneracy threshold below cleanly separates noise from any
    # real ring (a 10 cm feature is ~1e-12 deg^2).
    # the keep>=2 compaction above guarantees every row here has at
    # least 2 points, so no width-0/1 reduceat windows can occur
    first_i, last_i = off[:-1].clip(max=max(total - 1, 0)), off[1:] - 1
    xt = x - np.repeat(x[first_i], lens)
    yt = y - np.repeat(y[first_i], lens)
    if total > 1:
        terms = xt[:-1] * yt[1:] - xt[1:] * yt[:-1]
        seg_sum = np.add.reduceat(terms, first_i)
        # reduceat windows run to the next start: subtract the term that
        # crosses the row boundary (absent for the final row)
        cross = np.zeros(n_rows)
        cross[:-1] = terms[(off[1:-1] - 1).clip(min=0)]
        seg_sum = seg_sum - np.where(
            np.arange(n_rows) < n_rows - 1, cross, 0.0)
    else:
        seg_sum = np.zeros(n_rows)
    # the last->first closure term is identically 0 in translated
    # coordinates (first vertex sits at the origin)
    area2 = seg_sum  # 2*signed area of the implicitly-closed ring
    is_closed = (x[first_i] == x[last_i]) & (y[first_i] == y[last_i])
    # Ring viability mirrors the reference's CREATION-level rule
    # (geometry.pyx:361-378 create_polygon_geometry): a ring fails only
    # when fewer than 3 vertices resolve, or when every vertex is
    # identical (the degenerate case the reference's batched builder
    # demotes and the per-way builder returns None for). A closed
    # 3-vertex ring ([A, B, A]) is BUILT — the reference's own fixture
    # goldens count such slivers (see the npts<4 pad below).
    # Zero-AREA rings with >=4 distinct-ish points
    # (collinear slivers at a cropped extract's edge) are still BUILT,
    # exactly as shapely/GEOS builds them without validation; its
    # tests' golden counts (2208 buildings on test.osm.pbf) require
    # those rows to survive.
    starts_r = off[:-1]
    all_same = (
        (np.maximum.reduceat(x, starts_r) == np.minimum.reduceat(x, starts_r))
        & (np.maximum.reduceat(y, starts_r) == np.minimum.reduceat(y, starts_r))
    )
    degenerate = (lens < 3) | all_same

    poly_flags = is_polygon.to_numpy()
    hdr_line = struct.pack("<BI", 1, G.WKB_LINESTRING)
    hdr_poly = struct.pack("<BII", 1, G.WKB_POLYGON, 1)
    out = []
    for i in range(n_rows):
        s, e = off[i], off[i + 1]
        if not poly_flags[i]:
            out.append(hdr_line + struct.pack("<I", int(lens[i]))
                       + flat[s:e].tobytes())
            continue
        if degenerate[i]:
            out.append(None)  # degenerate ring -> dropped (reference
            #                   returns None, frames drops the row)
            continue
        ring = flat[s:e] if area2[i] > 0 else flat[s:e][::-1]  # CCW
        npts = int(lens[i]) + (0 if is_closed[i] else 1)
        body = ring.tobytes() if is_closed[i] else (
            ring.tobytes() + ring[:1].tobytes())
        if npts < 4:
            # already-closed 3-point sliver (e.g. a way whose missing
            # ref collapsed it to [A, B, A]): the reference's GEOS
            # constructor still builds these (its own fixture goldens
            # — 2208 buildings / 51 landuse on test.osm.pbf — COUNT
            # them); pad with the closure vertex so the WKB ring
            # meets the 4-point spec minimum. Dropping instead breaks
            # test_reference_parity golden counts by 15 buildings.
            body += ring[:1].tobytes()
            npts += 1
        out.append(hdr_poly + struct.pack("<I", npts) + body)
    return pd.Series(out)


def way_geometry_wkb(pts_col, is_polygon_col) -> Column:
    """G2/G3 entry: projects the pts struct array into two native
    array<double> columns before the Arrow hop, so Python never sees
    per-point structs. Field extraction is ``GetArrayStructFields``
    (codegen), not an interpreted ``transform`` lambda."""
    pts_col = pts_col if isinstance(pts_col, Column) else F.col(pts_col)
    return _way_wkb_from_arrays(
        pts_col.getField("lon"), pts_col.getField("lat"), is_polygon_col)


def _sliced_bytes(buf: bytes, width: int, n: int) -> list:
    return [buf[i * width:(i + 1) * width] for i in range(n)]


@F.pandas_udf(T.BinaryType())
def point_geometry_wkb(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Node geometry (G1). One 21-byte record per point, assembled for
    the whole Arrow batch in a single packed numpy buffer (a per-row
    struct.pack loop measured ~8x slower on million-node worlds)."""
    n = len(lon)
    rec = np.dtype({"names": ["bo", "typ", "x", "y"],
                    "formats": ["u1", "<u4", "<f8", "<f8"],
                    "offsets": [0, 1, 5, 13], "itemsize": 21})
    arr = np.empty(n, dtype=rec)
    arr["bo"] = 1
    arr["typ"] = G.WKB_POINT
    arr["x"] = lon.to_numpy()
    arr["y"] = lat.to_numpy()
    return pd.Series(_sliced_bytes(arr.tobytes(), 21, n))


@F.pandas_udf(T.BinaryType())
def segment_geometry_wkb(
    lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series
) -> pd.Series:
    """Two-point segment LineString (network nodes=True path, W2);
    batch-assembled like point_geometry_wkb (41 bytes per segment)."""
    n = len(lon1)
    rec = np.dtype({"names": ["bo", "typ", "np_", "x1", "y1", "x2", "y2"],
                    "formats": ["u1", "<u4", "<u4", "<f8", "<f8", "<f8",
                                "<f8"],
                    "offsets": [0, 1, 5, 9, 17, 25, 33], "itemsize": 41})
    arr = np.empty(n, dtype=rec)
    arr["bo"] = 1
    arr["typ"] = G.WKB_LINESTRING
    arr["np_"] = 2
    arr["x1"] = lon1.to_numpy()
    arr["y1"] = lat1.to_numpy()
    arr["x2"] = lon2.to_numpy()
    arr["y2"] = lat2.to_numpy()
    return pd.Series(_sliced_bytes(arr.tobytes(), 41, n))
