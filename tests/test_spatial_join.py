"""Spatial-join correctness vs brute-force numpy oracles."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrosm_spark.functions import geometry_np as G
from pyrosm_spark.functions import tiles as TT
from pyrosm_spark.operators.layers import get_buildings
from pyrosm_spark.operators.osm_source import load_osm
from pyrosm_spark.operators.spatial_join import (
    assign_tiles,
    assign_tiles_adaptive,
    cell_histogram,
    hot_cells,
    knn_join,
    point_in_polygon_join,
    polygon_cover,
)

from tests import oracle


@pytest.fixture(scope="module")
def images(spark, synth_dir):
    return spark.read.parquet(os.path.join(synth_dir, "images.parquet"))


@pytest.fixture(scope="module")
def buildings(spark, synth_dir):
    nodes, ways, rels = load_osm(spark, synth_dir)
    b = get_buildings(nodes, ways, rels).select("id", "osm_type", "geometry")
    # polygons only
    return b.cache()


def test_tile_assignment_matches_closed_form(spark, images):
    rows = assign_tiles(images, 15).select("image_id", "lon", "lat",
                                           "cell").collect()
    assert len(rows) == 2000
    for r in rows[:300]:
        assert r["cell"] == TT.encode_py(r["lon"], r["lat"], 15)


def test_polygon_cover_contains_vertices(spark, buildings):
    rows = polygon_cover(buildings, 15).select("id", "geometry",
                                               "cell").collect()
    covers = {}
    for r in rows:
        covers.setdefault(r["id"], set()).add(r["cell"])
    # every polygon vertex's cell is in the cover
    seen = set()
    for r in rows:
        if r["id"] in seen:
            continue
        seen.add(r["id"])
        gtype, payload = G.parse_wkb(bytes(r["geometry"]))
        if gtype == G.WKB_POLYGON:
            rings = payload
        elif gtype == G.WKB_MULTIPOLYGON:
            rings = [x for p in payload for x in p]
        else:
            continue
        for ring in rings:
            for lon, lat in ring:
                assert TT.encode_py(lon, lat, 15) in covers[r["id"]]


def _pip_oracle(img_rows, poly_rows):
    """Brute force: every (point, polygon) containment pair."""
    pairs = set()
    polys = []
    for r in poly_rows:
        gtype, payload = G.parse_wkb(bytes(r["geometry"]))
        if gtype == G.WKB_POLYGON:
            polys.append((r["id"], [payload]))
        elif gtype == G.WKB_MULTIPOLYGON:
            polys.append((r["id"], payload))
    px = np.array([r["lon"] for r in img_rows])
    py = np.array([r["lat"] for r in img_rows])
    ids = [r["image_id"] for r in img_rows]
    for pid, ring_sets in polys:
        inside = np.zeros(len(px), dtype=bool)
        for rings in ring_sets:
            inside |= G.points_in_polygon(px, py, rings)
        for i in np.nonzero(inside)[0]:
            pairs.add((ids[i], pid))
    return pairs


def test_point_in_polygon_join_matches_bruteforce(spark, images, buildings):
    joined = point_in_polygon_join(images, buildings, res=15)
    got = {(r["image_id"], r["poly_id"]) for r in
           joined.select("image_id", "poly_id").collect()}
    exp = _pip_oracle(images.collect(), buildings.collect())
    assert got == exp
    assert len(exp) > 0  # synthetic data must actually produce hits


def test_pip_salted_equals_unsalted(spark, images, buildings):
    plain = point_in_polygon_join(images, buildings, res=15)
    salted = point_in_polygon_join(images, buildings, res=15, point_salt=8)
    a = {(r["image_id"], r["poly_id"]) for r in
         plain.select("image_id", "poly_id").collect()}
    b = {(r["image_id"], r["poly_id"]) for r in
         salted.select("image_id", "poly_id").collect()}
    assert a == b


def test_pip_left_join_retains_unmatched_points(spark, images, buildings):
    """how='left': matched rows equal the inner join; every point that
    hit no polygon survives with null polygon columns; total distinct
    point ids == input point count (the 'every image row keeps a tile'
    contract). Differential across uniform AND compact forms."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join_compact,
    )

    n_points = images.count()
    inner = point_in_polygon_join(images, buildings, res=15)
    inner_pairs = {(r["image_id"], r["poly_id"]) for r in
                   inner.select("image_id", "poly_id").collect()}
    for fn in (point_in_polygon_join, point_in_polygon_join_compact):
        left = fn(images, buildings, res=15, how="left",
                  point_id_col="image_id")
        rows = left.select("image_id", "poly_id", "cell").collect()
        got_pairs = {(r["image_id"], r["poly_id"]) for r in rows
                     if r["poly_id"] is not None}
        assert got_pairs == inner_pairs
        assert len({r["image_id"] for r in rows}) == n_points
        unmatched = [r for r in rows if r["poly_id"] is None]
        assert unmatched  # synth world has points outside all buildings
        matched_ids = {a for a, _ in inner_pairs}
        for r in unmatched:
            assert r["image_id"] not in matched_ids
            assert r["cell"] is not None  # still tile-assigned
    with pytest.raises(ValueError):
        point_in_polygon_join(images, buildings, how="left")  # no id col
    with pytest.raises(ValueError):
        point_in_polygon_join(images, buildings, how="outer")


def test_raster_polygon_join_matches_bruteforce(spark, images, buildings):
    """Raster-tile <-> polygon join vs brute force: every (tile,
    polygon) pair tested with the independent numpy kernel
    geometry_intersects_rect (shapely-intersects semantics). Also
    pins how='left' (empty tiles retained, nulls)."""
    from pyrosm_spark.operators.spatial_join import (
        assign_tiles,
        raster_polygon_join,
        tile_rect,
    )

    res = 12
    tiles_df = (assign_tiles(images, res)
                .groupBy("cell").agg(F.count("*").alias("n_images")))
    j = raster_polygon_join(tiles_df, buildings, res=res)
    got = {(r["cell"], r["poly_id"], r["poly_osm_type"]) for r in
           j.select("cell", "poly_id", "poly_osm_type").collect()}

    # brute force over all pairs with the independent kernel
    n = 1 << res
    sx, sy = 360.0 / n, 180.0 / n
    exp = set()
    tiles_rows = tiles_df.collect()
    poly_rows = buildings.collect()
    from pyrosm_spark.functions.tiles import _RES_SHIFT, _X_SHIFT

    for t in tiles_rows:
        rem = t["cell"] - (res << _RES_SHIFT)
        tx, ty = rem >> _X_SHIFT, rem & ((1 << _X_SHIFT) - 1)
        rect = (tx * sx - 180.0, ty * sy - 90.0,
                tx * sx - 180.0 + sx, ty * sy - 90.0 + sy)
        for p in poly_rows:
            gtype, _ = G.parse_wkb(bytes(p["geometry"]))
            if gtype not in (G.WKB_POLYGON, G.WKB_MULTIPOLYGON):
                continue
            if G.geometry_intersects_rect(bytes(p["geometry"]),
                                          (rect[0], rect[1],
                                           rect[2], rect[3])):
                exp.add((t["cell"], p["id"], p["osm_type"]))
    assert got == exp
    assert len(exp) > 0

    left = raster_polygon_join(tiles_df, buildings, res=res, how="left")
    rows = left.select("cell", "poly_id").collect()
    assert len({r["cell"] for r in rows}) == len(tiles_rows)
    assert any(r["poly_id"] is None for r in rows)
    matched_cells = {c for c, _, _ in exp}
    for r in rows:
        if r["poly_id"] is None:
            assert r["cell"] not in matched_cells


def test_knn_matches_bruteforce_sample(spark, images, synth_dir):
    nodes_rows = oracle.load_rows(f"{synth_dir}/osm_nodes.parquet")
    pois = [n for n in nodes_rows
            if n["visible"] and "amenity" in oracle.tagdict(n)]
    poi_df = spark.createDataFrame(
        [(n["id"], n["lon"], n["lat"]) for n in pois], "id long, lon double, lat double"
    )
    got = knn_join(images.select("image_id", "lon", "lat"), poi_df,
                   k=3, res=10, ring=1)
    got_map = {}
    for r in got.select("image_id", "neighbor_id", "knn_rank",
                        "distance_m").collect():
        got_map.setdefault(r["image_id"], []).append(
            (r["knn_rank"], r["neighbor_id"], r["distance_m"]))
    img_rows = images.select("image_id", "lon", "lat").collect()
    tx = np.array([p["lon"] for p in pois])
    ty = np.array([p["lat"] for p in pois])
    tid = np.array([p["id"] for p in pois])
    checked = 0
    for r in img_rows[:200]:
        d = G.haversine_m_np(r["lat"], r["lon"], ty, tx)
        order = np.lexsort((tid, d))[:3]
        exp = [int(tid[i]) for i in order]
        gm = sorted(got_map.get(r["image_id"], []))
        # ring may truncate the true kNN at cell borders; require exact
        # match whenever the engine returned all 3 within the ring
        if len(gm) == 3:
            got_ids = [g[1] for g in gm]
            # compare by distance (id tiebreak), allowing the documented
            # ring-boundary miss only if the true kth neighbor is farther
            # than one cell span (~4km at res 10)
            for g_id, e_id in zip(got_ids, exp):
                if g_id != e_id:
                    # verify the miss is a ring-boundary case
                    e_d = float(d[list(tid).index(e_id)])
                    assert e_d > 2000.0, (r["image_id"], got_ids, exp)
                    break
            else:
                checked += 1
    assert checked > 100  # most points match brute force exactly


def test_hot_cell_detection_and_adaptive_split(spark, images):
    hot = hot_cells(images, res=12, threshold_ratio=4.0)
    assert len(hot) >= 1  # generator plants hot discs
    adaptive = assign_tiles_adaptive(images, 12, hot, split_levels=3)
    rows = adaptive.select("lon", "lat", "cell").collect()
    hot_ids = {c for c, _ in hot}
    n_fine = n_coarse = 0
    for r in rows:
        res = r["cell"] >> 58
        base = TT.encode_py(r["lon"], r["lat"], 12)
        if base in hot_ids:
            assert res == 15
            n_fine += 1
        else:
            assert res == 12 and r["cell"] == base
            n_coarse += 1
    assert n_fine > 0 and n_coarse > 0
    # splitting actually reduces the max key cardinality
    hist0 = {r["cell"]: r["count"]
             for r in cell_histogram(images, 12).collect()}
    from collections import Counter
    hist1 = Counter(r["cell"] for r in rows)
    assert max(hist1.values()) < max(hist0.values())


def test_bbox_geometry_filter_exact(spark, buildings, synth_dir):
    """J10/F12 exact refine: far-away features drop, straddlers and
    rect-inside-polygon cases survive."""
    from pyrosm_spark.operators.spatial_join import bbox_geometry_filter
    from pyrosm_spark.functions import geometry_np as G
    import numpy as np

    rows = buildings.collect()
    # pick one polygon; build a tiny rect strictly inside it
    for r in rows:
        t, payload = G.parse_wkb(bytes(r["geometry"]))
        if t == G.WKB_POLYGON:
            shell = payload[0]
            cx, cy = shell[:-1, 0].mean(), shell[:-1, 1].mean()
            if G.points_in_polygon(np.array([cx]), np.array([cy]), payload)[0]:
                inner_rect = (cx - 1e-6, cy - 1e-6, cx + 1e-6, cy + 1e-6)
                pid = r["id"]
                break
    kept = bbox_geometry_filter(buildings, inner_rect)
    ids = {x["id"] for x in kept.select("id").collect()}
    assert pid in ids
    # rect far outside the region keeps nothing
    empty = bbox_geometry_filter(buildings, (0.0, 0.0, 1.0, 1.0))
    assert empty.count() == 0
    # whole-region rect keeps everything
    full = bbox_geometry_filter(buildings, (24.0, 59.0, 26.0, 61.0))
    assert full.count() == buildings.count()


def test_knn_join_requires_unambiguous_point_id(spark):
    """The top-k window must partition by a UNIQUE point key — an
    ambiguous id set raises instead of silently ranking k-per-group."""
    import pytest as _pt

    from pyrosm_spark.operators.spatial_join import knn_join

    pts = spark.createDataFrame(
        [("a", 1, 24.9, 60.2)], ["grp", "extra", "lon", "lat"])
    tgt = spark.createDataFrame([(1, 24.91, 60.21)], ["id", "lon", "lat"])
    with _pt.raises(ValueError, match="point_id_col"):
        knn_join(pts, tgt, k=1)
    out = knn_join(pts, tgt, k=1, point_id_col="grp")
    assert out.count() == 1
    with _pt.raises(ValueError, match="not in points columns"):
        knn_join(pts, tgt, k=1, point_id_col="nope")


def test_knn_join_complete_escalates_sparse_points(spark):
    """A point whose initial ring holds < k targets escalates to a
    coarser resolution and completes its top-k; dense points keep
    their base-pass answers (same values as plain knn_join)."""
    from pyrosm_spark.operators.spatial_join import (
        knn_join,
        knn_join_complete,
    )

    # targets clustered near (24.9, 60.2); one far point at (26.5, 61)
    tgt = spark.createDataFrame(
        [(i, 24.9 + i * 1e-4, 60.2 + i * 1e-4) for i in range(5)],
        ["id", "lon", "lat"])
    pts = spark.createDataFrame(
        [("near", 24.9005, 60.2005), ("far", 26.5, 61.0)],
        ["pid", "lon", "lat"])
    base = knn_join(pts, tgt, k=3, res=12, ring=1, point_id_col="pid")
    by_pid = {}
    for r in base.collect():
        by_pid.setdefault(r["pid"], []).append(r)
    assert len(by_pid.get("near", [])) == 3
    assert len(by_pid.get("far", [])) < 3  # sparse: ring missed targets

    comp = knn_join_complete(pts, tgt, k=3, res=12, ring=1,
                             max_escalations=4, point_id_col="pid")
    by_pid_c = {}
    for r in comp.collect():
        by_pid_c.setdefault(r["pid"], []).append(r)
    assert len(by_pid_c["far"]) == 3  # escalation completed the set
    # dense point: identical rows to the base pass
    near_base = sorted((r["neighbor_id"], r["knn_rank"])
                       for r in by_pid["near"])
    near_comp = sorted((r["neighbor_id"], r["knn_rank"])
                       for r in by_pid_c["near"])
    assert near_base == near_comp


def test_compact_uncompact_match_driver_kernels(spark):
    """Distributed compact_cover/uncompact_cover equal the driver-side
    reference kernels (tiles.compact_py/uncompact_py) on covers with
    partial and complete sibling groups."""
    from pyrosm_spark.operators.spatial_join import (
        compact_cover,
        uncompact_cover,
    )

    rng = np.random.default_rng(7)
    cases = []
    for fid in range(6):
        # a bbox cover at res 8: contiguous block -> many full sibling
        # groups; jitter the extents so shapes differ per feature
        x0, y0 = int(rng.integers(0, 200)), int(rng.integers(0, 200))
        w, h = int(rng.integers(1, 9)), int(rng.integers(1, 9))
        cells = [
            (8 << TT._RES_SHIFT) + (x << TT._X_SHIFT) + y
            for x in range(x0, x0 + w)
            for y in range(y0, y0 + h)
        ]
        cases.append((fid, cells))
    rows = [(fid, c) for fid, cells in cases for c in cells]
    df = spark.createDataFrame(rows, "fid long, cell long")

    got = compact_cover(df, key_cols=("fid",))
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["fid"], []).append(r["cell"])
    for fid, cells in cases:
        assert sorted(got_map[fid]) == TT.compact_py(cells), fid

    # uncompact back to uniform res 8 reproduces the original cover
    back = uncompact_cover(got, 8)
    back_map = {}
    for r in back.collect():
        back_map.setdefault(r["fid"], []).append(r["cell"])
    for fid, cells in cases:
        assert sorted(back_map[fid]) == sorted(set(cells)), fid
        assert sorted(back_map[fid]) == TT.uncompact_py(
            got_map[fid], 8), fid


def test_compact_cover_full_grid_collapses_to_single_parent(spark):
    """A complete 4^k block compacts to exactly one ancestor cell."""
    from pyrosm_spark.operators.spatial_join import compact_cover

    res, k = 6, 3  # 8x8 block aligned at origin
    n = 1 << k
    rows = [(1, (res << TT._RES_SHIFT) + (x << TT._X_SHIFT) + y)
            for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "fid long, cell long")
    out = compact_cover(df, key_cols=("fid",)).collect()
    assert len(out) == 1
    assert TT.decode_py(out[0]["cell"]) == (res - k, 0, 0)


def test_pip_compact_equals_uniform_join(spark, images, buildings):
    """point_in_polygon_join_compact returns the identical
    (image, polygon) pair set as the uniform-resolution join — on the
    synth buildings AND on one deliberately large polygon whose cover
    spans hundreds of fine cells (the case the compact path exists
    for)."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join,
        point_in_polygon_join_compact,
    )

    uni = point_in_polygon_join(images, buildings, res=15).select(
        "image_id", "poly_id", "poly_osm_type")
    cmp_ = point_in_polygon_join_compact(images, buildings, res=15).select(
        "image_id", "poly_id", "poly_osm_type")
    a = {tuple(r) for r in uni.collect()}
    b = {tuple(r) for r in cmp_.collect()}
    assert a == b and len(a) > 0

    # large polygon: a rectangle spanning most of the synth world
    big = G.wkb_polygon([np.array(
        [[24.80, 60.15], [25.20, 60.15], [25.20, 60.45],
         [24.80, 60.45], [24.80, 60.15]])])
    polys = spark.createDataFrame(
        [(999, "way", bytearray(big))], "id long, osm_type string, geometry binary")
    uni2 = point_in_polygon_join(images, polys, res=12).select(
        "image_id", "poly_id")
    cmp2 = point_in_polygon_join_compact(images, polys, res=12).select(
        "image_id", "poly_id")
    s1 = {tuple(r) for r in uni2.collect()}
    s2 = {tuple(r) for r in cmp2.collect()}
    assert s1 == s2 and len(s1) > 0


def test_native_refine_equals_arrow_refine(spark, images, buildings):
    """refine='native' (Catalyst exists/aggregate ray cast) must emit
    the exact pair set of refine='arrow' (the numpy kernel) on the
    synth world — same oracle-anchored semantics, zero Python in the
    candidate hot path."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join_compact)

    a = point_in_polygon_join(images, buildings, res=15, refine="arrow")
    n = point_in_polygon_join(images, buildings, res=15, refine="native")
    pa = {(r[0], r[1]) for r in a.select("image_id", "poly_id").collect()}
    pn = {(r[0], r[1]) for r in n.select("image_id", "poly_id").collect()}
    assert pa == pn and len(pn) > 0

    ca = point_in_polygon_join_compact(images, buildings, res=15,
                                       refine="arrow")
    cn = point_in_polygon_join_compact(images, buildings, res=15,
                                       refine="native")
    sa = {(r[0], r[1]) for r in ca.select("image_id", "poly_id").collect()}
    sn = {(r[0], r[1]) for r in cn.select("image_id", "poly_id").collect()}
    assert sa == sn == pn

    with pytest.raises(ValueError, match="unknown refine"):
        point_in_polygon_join(images, buildings, refine="bogus")


def test_native_refine_holes_and_multipolygon(spark):
    """Adversarial geometries for the native ray cast: a square with a
    hole (point in hole excluded, point in shell kept) and a
    two-part multipolygon — native == arrow == numpy kernel."""
    shell = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                      [0.0, 0.0]])
    hole = np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0],
                     [4.0, 4.0]])
    part2 = np.array([[20.0, 20.0], [22.0, 20.0], [22.0, 22.0],
                      [20.0, 22.0], [20.0, 20.0]])
    donut = G.wkb_polygon([shell, hole])
    multi = G.wkb_multipolygon([[shell, hole], [part2]])
    polys = spark.createDataFrame(
        [(1, "way", bytearray(donut)), (2, "relation", bytearray(multi))],
        "poly_id long, osm_type string, geometry binary")
    pts = spark.createDataFrame(
        [("in_shell", 2.0, 2.0), ("in_hole", 5.0, 5.0),
         ("outside", 15.0, 15.0), ("in_part2", 21.0, 21.0),
         ("near_edge", 3.9999999, 5.0)],
        "image_id string, lon double, lat double")
    expect = {("in_shell", 1), ("in_shell", 2), ("in_part2", 2),
              ("near_edge", 1), ("near_edge", 2)}
    for refine in ("native", "arrow"):
        got = {(r[0], r[1]) for r in point_in_polygon_join(
            pts, polys, res=8, refine=refine)
            .select("image_id", "poly_id").collect()}
        assert got == expect, refine
    # numpy kernel agreement on the same points
    px = np.array([2.0, 5.0, 15.0, 21.0, 3.9999999])
    py = np.array([2.0, 5.0, 15.0, 21.0, 5.0])
    k_donut = G.points_in_polygon(px, py, [shell, hole])
    assert list(k_donut) == [True, False, False, False, True]


def test_pip_auto_routes_mixed_corpus(spark, images, buildings):
    """point_in_polygon_join_auto must equal the uniform join over a
    corpus holding both building-scale polygons and one huge polygon
    (routed to the compact mixed-res path), and must actually split
    the corpus both ways at the default threshold."""
    from pyrosm_spark.operators.spatial_join import (
        cover_size_expr,
        point_in_polygon_join_auto,
        wkb_bbox,
    )

    big = G.wkb_polygon([np.array(
        [[24.0, 59.9], [26.0, 59.9], [26.0, 60.7], [24.0, 60.7],
         [24.0, 59.9]])])
    extra = spark.createDataFrame(
        [(999_999, "way", bytearray(big))], "id long, osm_type string, geometry binary")
    corpus = buildings.unionByName(extra)

    withsize = corpus.withColumn("bbox", wkb_bbox(F.col("geometry"))) \
                     .withColumn("ncells", cover_size_expr("bbox", 15))
    n_small = withsize.filter("ncells <= 64").count()
    n_large = withsize.filter("ncells > 64").count()
    assert n_small > 0 and n_large > 0  # both routes exercised

    auto = point_in_polygon_join_auto(images, corpus, res=15)
    uni = point_in_polygon_join(images, corpus, res=15)
    a = {(r["image_id"], r["poly_id"], r["poly_osm_type"])
         for r in auto.collect()}
    u = {(r["image_id"], r["poly_id"], r["poly_osm_type"])
         for r in uni.select("image_id", "poly_id", "poly_osm_type")
         .collect()}
    assert a == u
    # the huge polygon contains every image point (images are generated
    # inside the synth bbox)
    assert {(i, p) for i, p, _ in a if p == 999_999} == {
        (r["image_id"], 999_999) for r in images.select("image_id").collect()}


def test_pip_compact_caps_world_polygon_cover(spark, images, buildings):
    """A world-spanning polygon must NOT explode a uniform res-15 cover
    (~10^9 rows) — the per-polygon resolution cap bounds the cover
    closed-form before the explode, and the pair set still matches the
    uniform join run on the same corpus."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join_auto,
        point_in_polygon_join_compact,
    )

    world = G.wkb_polygon([np.array(
        [[-179.0, -89.0], [179.0, -89.0], [179.0, 89.0], [-179.0, 89.0],
         [-179.0, -89.0]])])
    corpus = buildings.unionByName(spark.createDataFrame(
        [(777, "way", bytearray(world))],
        "id long, osm_type string, geometry binary"))

    # compact join end to end at res 15 — without the cap this would
    # need a ~10^9-row cover for the world polygon alone
    c = point_in_polygon_join_compact(images, corpus, res=15)
    got = {(r["image_id"], r["poly_id"]) for r in
           c.select("image_id", "poly_id").collect()}
    # world polygon contains every image; building pairs match the
    # uniform join over buildings alone
    uni = point_in_polygon_join(images, buildings, res=15)
    exp = {(r["image_id"], r["poly_id"]) for r in
           uni.select("image_id", "poly_id").collect()}
    all_imgs = {r["image_id"] for r in images.select("image_id").collect()}
    assert got == exp | {(i, 777) for i in all_imgs}

    # the auto join routes the world polygon through the capped
    # compact path and agrees
    a = point_in_polygon_join_auto(images, corpus, res=15)
    assert {(r["image_id"], r["poly_id"]) for r in
            a.select("image_id", "poly_id").collect()} == got


def test_pip_join_polygon_side_is_cached_in_plan(spark, images, buildings):
    """The compact/auto joins evaluate the polygon-side plan several
    times (compaction levels, the levels collect, the payload join, the
    routing probe); the persist added for that must survive into the
    physical plan — the polygon side should read from the cache, not
    re-run the WKB kernels per action."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join_auto,
        point_in_polygon_join_compact,
    )

    c = point_in_polygon_join_compact(images, buildings, res=15)
    plan = c._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan

    a = point_in_polygon_join_auto(images, buildings, res=15)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_compact_cover_uniform_equals_iterative(spark):
    """compact_cover_uniform (one-pass, no driver loop) must produce
    the identical compacted set as the iterative compact_cover on
    uniform-res-per-feature covers — random rectangles plus aligned
    full 4x4 blocks (which force multi-level collapse), mixed
    resolutions ACROSS features."""
    import random

    from pyrosm_spark.operators.spatial_join import (
        compact_cover,
        compact_cover_uniform,
    )

    random.seed(11)
    rows = []
    for fid in range(30):
        res = random.randint(1, 10)
        n = 1 << res
        x0, y0 = random.randint(0, n - 2), random.randint(0, n - 2)
        w = random.randint(1, min(6, n - x0))
        h = random.randint(1, min(6, n - y0))
        rows += [(fid, (res << TT._RES_SHIFT) + ((x0 + dx) << TT._X_SHIFT)
                  + (y0 + dy)) for dx in range(w) for dy in range(h)]
        if fid % 3 == 0 and res >= 2:
            bx, by = (x0 // 4) * 4, (y0 // 4) * 4
            if bx + 4 <= n and by + 4 <= n:
                rows += [(fid, (res << TT._RES_SHIFT)
                          + ((bx + dx) << TT._X_SHIFT) + (by + dy))
                         for dx in range(4) for dy in range(4)]
    cov = spark.createDataFrame(rows, "fid int, cell long")
    a = {(r["fid"], r["cell"])
         for r in compact_cover_uniform(cov, key_cols=["fid"]).collect()}
    b = {(r["fid"], r["cell"])
         for r in compact_cover(cov, key_cols=["fid"]).collect()}
    assert a == b


def test_compact_cover_uniform_full_grid_single_parent(spark):
    """A complete aligned 4^k block collapses to one ancestor in one
    declarative DAG (the driver-loop-free path the compact PIP join
    uses)."""
    from pyrosm_spark.operators.spatial_join import compact_cover_uniform

    res, k = 6, 3
    n = 1 << k
    rows = [(1, (res << TT._RES_SHIFT) + (x << TT._X_SHIFT) + y)
            for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "fid long, cell long")
    out = compact_cover_uniform(df, key_cols=("fid",)).collect()
    assert len(out) == 1
    assert TT.decode_py(out[0]["cell"]) == (res - k, 0, 0)


# --------------------------------------------------------------------------
# Round-3 review fixes
# --------------------------------------------------------------------------

def test_pip_compact_cell_column_is_res_level(spark, images, buildings):
    """The compact join's 'cell' output must be the point's OWN
    res-level tile (parity with the uniform join), not the coarser
    compacted cover cell the equi-join matched on."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join,
        point_in_polygon_join_compact,
    )

    big = G.wkb_polygon([np.array(
        [[24.80, 60.15], [25.20, 60.15], [25.20, 60.45],
         [24.80, 60.45], [24.80, 60.15]])])
    polys = spark.createDataFrame(
        [(999, "way", bytearray(big))],
        "id long, osm_type string, geometry binary")
    uni = {(r["image_id"], r["cell"]) for r in point_in_polygon_join(
        images, polys, res=12).select("image_id", "cell").collect()}
    cmp_ = {(r["image_id"], r["cell"]) for r in
            point_in_polygon_join_compact(
                images, polys, res=12).select("image_id", "cell").collect()}
    assert uni == cmp_ and uni
    # every emitted cell is at res 12
    assert all(c >> TT._RES_SHIFT == 12 for _, c in cmp_)


def test_wkb_bbox_empty_geometry_yields_null(spark):
    """POLYGON EMPTY (0 rings) is legal WKB: the bbox kernel must emit
    a null bbox row, not crash the task."""
    import struct

    from pyrosm_spark.operators.spatial_join import wkb_bbox

    empty_poly = struct.pack("<BII", 1, 3, 0)      # little-endian, 0 rings
    empty_line = struct.pack("<BII", 1, 2, 0)      # 0-point linestring
    ok = G.wkb_polygon([np.array(
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])])
    df = spark.createDataFrame(
        [(1, bytearray(empty_poly)), (2, bytearray(empty_line)),
         (3, bytearray(ok)), (4, None)],
        "id long, geometry binary")
    rows = {r["id"]: r["b"] for r in df.select(
        "id", wkb_bbox(F.col("geometry")).alias("b")).collect()}
    assert rows[1]["xmin"] is None and rows[2]["xmin"] is None
    assert rows[4]["xmin"] is None
    assert rows[3]["xmin"] == 0.0 and rows[3]["ymax"] == 1.0


def test_segsets_bbox_equals_wkb_bbox_for_polygons(spark):
    """The cover's Catalyst bbox (from decoded segment sets) equals the
    WKB bbox kernel for every polygon shape, and is null for geometries
    that have no segment sets, so polygon_cover over a frame carrying
    ``_segsets`` gives such rows no cells."""
    import struct

    from pyrosm_spark.operators.spatial_join import (
        segsets_bbox,
        wkb_bbox,
        wkb_segment_sets,
    )

    shell = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                      [0.0, 0.0]])
    hole = np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0],
                     [4.0, 4.0]])
    part2 = np.array([[20.0, -3.0], [22.0, -3.0], [22.0, 22.0],
                      [20.0, 22.0], [20.0, -3.0]])
    polygons = {
        1: G.wkb_polygon([shell]),
        2: G.wkb_polygon([shell, hole]),
        3: G.wkb_multipolygon([[shell, hole], [part2]]),
        4: struct.pack("<BII", 1, 3, 0),  # POLYGON EMPTY
    }
    others = {
        5: G.wkb_linestring(shell[:3]),
        6: G.wkb_point(1.0, 2.0),
    }
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in {**polygons, **others}.items()],
        "id long, geometry binary",
    ).withColumn("_segsets", wkb_segment_sets(F.col("geometry")))
    rows = {r["id"]: r for r in df.select(
        "id", segsets_bbox().alias("seg"),
        wkb_bbox(F.col("geometry")).alias("wkb")).collect()}
    for i in polygons:
        assert rows[i]["seg"].asDict() == rows[i]["wkb"].asDict(), i
    assert rows[3]["seg"].asDict() == {
        "xmin": 0.0, "ymin": -3.0, "xmax": 22.0, "ymax": 22.0}
    assert rows[4]["seg"]["xmin"] is None
    for i in others:
        assert rows[i]["wkb"]["xmin"] is not None, i
        assert all(v is None for v in rows[i]["seg"]), i
    covered = {r["id"] for r in polygon_cover(df, 8).select("id").collect()}
    assert covered == {1, 2, 3}


def test_raster_polygon_join_custom_cell_col(spark, images, buildings):
    """cell_col other than 'cell' must work — the cover side renames
    its join key to match."""
    from pyrosm_spark.operators.spatial_join import raster_polygon_join

    res = 14
    t = assign_tiles(images, res).groupBy("cell").count() \
        .withColumnRenamed("cell", "tile_cell")
    got = raster_polygon_join(t, buildings, res=res, cell_col="tile_cell")
    ref = raster_polygon_join(
        t.withColumnRenamed("tile_cell", "cell"), buildings, res=res)
    a = {(r["tile_cell"], r["poly_id"]) for r in got.collect()}
    b = {(r["cell"], r["poly_id"]) for r in ref.collect()}
    assert a == b and a


def test_broadcast_false_forbids_broadcast(spark, images, buildings):
    """broadcast_polygons=False must keep the tiny cover out of a
    broadcast join (shuffle_hash hint) — AQE would otherwise broadcast
    it regardless."""
    j_false = point_in_polygon_join(images, buildings, res=15,
                                    broadcast_polygons=False)
    j_true = point_in_polygon_join(images, buildings, res=15,
                                   broadcast_polygons=True)
    plan_false = j_false._jdf.queryExecution().executedPlan().toString()
    plan_true = j_true._jdf.queryExecution().executedPlan().toString()
    # assert on the CELL join specifically — upstream feature-assembly
    # joins (relation member lookups) legitimately broadcast either way
    assert "ShuffledHashJoin [cell" in plan_false
    assert "BroadcastHashJoin [cell" not in plan_false
    assert "BroadcastHashJoin [cell" in plan_true


def test_compact_cover_tolerates_preexisting_parent(spark):
    """Mixed-res input holding a parent AND its 4 children must not
    leak duplicate rows or miscount the next level's sibling groups."""
    from pyrosm_spark.operators.spatial_join import compact_cover

    r, pr = 2, 1
    px, py = 1, 1
    parent = (pr << TT._RES_SHIFT) + (px << TT._X_SHIFT) + py
    children = [
        (r << TT._RES_SHIFT) + ((2 * px + dx) << TT._X_SHIFT) + (2 * py + dy)
        for dx in (0, 1) for dy in (0, 1)
    ]
    rows = [(7, c) for c in children] + [(7, parent)]
    df = spark.createDataFrame(rows, "poly_id long, cell long")
    out = compact_cover(df, key_cols=("poly_id",))
    got = [r["cell"] for r in out.collect()]
    assert sorted(got) == sorted(set(got)), "duplicate rows leaked"
    assert parent in got


def test_left_join_pins_matched_once(spark, images, buildings):
    """how='left' must evaluate the candidate join + refine ONCE: the
    matched frame is pinned and both union arms read the cache."""
    from pyrosm_spark.operators import spatial_join as SJ

    j = point_in_polygon_join(images, buildings, res=15, how="left",
                              point_id_col="image_id")
    assert SJ._PINNED.get("pip_left"), "matched frame not pinned"
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    # and the left contract still holds
    n_points = images.count()
    assert j.select("image_id").distinct().count() == n_points


def test_pip_cover_memo_reuse_and_invalidation(spark, images, buildings):
    """Repeated pip calls with a semantically identical polygon side
    reuse the pinned cover derivation (_memo_pin); a different res or
    an explicit release rebuilds it — and results never change."""
    from pyrosm_spark.operators import spatial_join as SJ

    SJ.release_pinned_caches()
    assert not SJ._PIN_MEMO
    n1 = point_in_polygon_join(images, buildings, res=15).count()
    first = SJ._PINNED.get("pip_cover")
    assert first and SJ._PIN_MEMO.get("pip_cover")
    j2 = point_in_polygon_join(images, buildings, res=15)
    # same pinned frame object — the derivation was NOT rebuilt
    assert SJ._PINNED.get("pip_cover") is first
    plan = j2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert j2.count() == n1
    # a different res must rebuild (stale-cover hazard)
    n3 = point_in_polygon_join(images, buildings, res=13).count()
    assert SJ._PINNED.get("pip_cover") is not first
    assert n3 == n1  # output is res-invariant on this fixture
    # a different polygon plan must rebuild too
    point_in_polygon_join(images, buildings.limit(3), res=13).count()
    assert len(SJ._PINNED.get("pip_cover", [])) == 1  # old one released
    # explicit release invalidates the memo
    SJ.release_pinned_caches()
    assert "pip_cover" not in SJ._PIN_MEMO and not SJ._PINNED


def test_raster_cover_memo_reuse(spark, images, buildings):
    from pyrosm_spark.operators import spatial_join as SJ
    from pyrosm_spark.operators.spatial_join import (
        assign_tiles, raster_polygon_join)

    SJ.release_pinned_caches()
    tiles14 = assign_tiles(images, 14).groupBy("cell").count()
    n1 = raster_polygon_join(tiles14, buildings, res=14).count()
    first = SJ._PINNED.get("raster_cover")
    assert first
    assert raster_polygon_join(tiles14, buildings, res=14).count() == n1
    assert SJ._PINNED.get("raster_cover") is first
    SJ.release_pinned_caches()


def test_composed_left_joins_keep_separate_pins(spark, images, buildings):
    """Composing a how='left' PIP join and a how='left' raster join into
    one lazy plan must not unpin the first join's matched frame: pin
    tags are namespaced per operator, so the second build cannot
    release the first's materialization before the action runs."""
    from pyrosm_spark.operators import spatial_join as SJ
    from pyrosm_spark.operators.spatial_join import raster_polygon_join

    SJ.release_pinned_caches()
    pip = point_in_polygon_join(images, buildings, res=15, how="left",
                                point_id_col="image_id")
    tiles_df = (assign_tiles(images, 12)
                .groupBy("cell").agg(F.count("*").alias("n_images")))
    raster = raster_polygon_join(tiles_df, buildings, res=12, how="left")
    assert SJ._PINNED.get("pip_left"), \
        "PIP matched frame unpinned by the raster build"
    assert SJ._PINNED.get("raster_left")
    both = (pip.select("poly_id").unionByName(raster.select("poly_id"))
            .distinct())
    assert both.count() > 0
    assert SJ._PINNED.get("pip_left") and SJ._PINNED.get("raster_left")
    SJ.release_pinned_caches()


def test_interleaved_same_op_released_pin_recomputes(spark, images,
                                                     buildings):
    """A second call of the same how='left' operator releases the first
    call's pinned matched frame (per-tag lifecycle, spatial_join._pin).
    A plan the first call returned then loses its cache and must
    recompute from its deterministic lineage: same rows, no failure."""
    from pyrosm_spark.operators import spatial_join as SJ

    SJ.release_pinned_caches()
    first = point_in_polygon_join(images, buildings, res=15, how="left",
                                  point_id_col="image_id")
    first_pins = list(SJ._PINNED.get("pip_left") or [])
    assert first_pins
    second = point_in_polygon_join(images, buildings, res=15, how="left",
                                   point_id_col="image_id")
    now = SJ._PINNED.get("pip_left") or []
    assert now and all(f is not g for f in first_pins for g in now), \
        "second call must have released the first call's pin"
    a = {(r["image_id"], r["poly_id"]) for r in first.collect()}
    b = {(r["image_id"], r["poly_id"]) for r in second.collect()}
    assert a == b and len(a) > 0
    SJ.release_pinned_caches()


def test_release_pinned_caches_frees_every_operator_pin(spark, images,
                                                        buildings):
    """One owner releases every pin: after a PIP join (memo cover), a
    how='left' PIP join, a raster join, a kNN join and
    connected_components each ran an action, release_pinned_caches()
    empties the pin registry and the cover memo, and no RDD those calls
    persisted is left in the session."""
    from pyrosm_spark.operators import spatial_join as SJ
    from pyrosm_spark.operators.graph import connected_components
    from pyrosm_spark.operators.spatial_join import raster_polygon_join

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    SJ.release_pinned_caches()
    buildings.count()  # the fixture's own cache predates the calls
    before = persisted()
    point_in_polygon_join(images, buildings, res=15).count()
    point_in_polygon_join(images, buildings, res=15, how="left",
                          point_id_col="image_id").count()
    tiles_df = assign_tiles(images, 12).groupBy("cell").count()
    raster_polygon_join(tiles_df, buildings, res=12).count()
    targets = images.select(F.col("image_id").alias("id"), "lon", "lat")
    knn_join(images.select("image_id", "lon", "lat"), targets,
             k=3, res=10).count()
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 5)],
                                  "u long, v long")
    assert connected_components(edges).select("comp").distinct().count() == 2
    assert SJ._PINNED and SJ._PIN_MEMO  # the calls did pin
    SJ.release_pinned_caches()
    assert not SJ._PINNED and not SJ._PIN_MEMO
    left = persisted() - before
    assert not left, f"persisted RDDs left after release: {sorted(left)}"
