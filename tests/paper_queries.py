"""The paper's queries, each with an independent DuckDB value oracle.

``QUERIES`` maps a name to a ``(world) -> DataFrame`` callable over the
committed synthetic world in ``data/synth`` (generated by
``pyrosm_spark.synth``, seed 42). ``oracle_sql()`` maps the same names
to DuckDB SQL that computes the expected rows from the same parquet
files without the engine: ANSI-SQL mirrors for the SQL-expressible
operators (layers, networks, crop, PBF roundtrips, tiling, the PIP,
raster and kNN joins, chain collapse), a generator-differential oracle
for the image decode (phash/shape references stored at table-build
time) and a committed golden for the Helsinki buildings. The oracles
read the materialized plain tag columns, an evaluation path
independent of the engine's MapType tags. ``assert_matches`` is the
one compare.

``tests/test_value_oracles.py`` runs every pair; ``scripts/plan_audit.py``
audits the plans of some of these queries.
"""

from __future__ import annotations

import functools
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tests.test_reference_parity import REF_HELSINKI_PBF

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SYNTH_DIR = os.path.join(REPO_DIR, "data", "synth")

W = f"read_parquet('{SYNTH_DIR}/osm_ways.parquet')"
N = f"read_parquet('{SYNTH_DIR}/osm_nodes.parquet')"
R = f"read_parquet('{SYNTH_DIR}/osm_relations.parquet')"
IMG = f"read_parquet('{SYNTH_DIR}/images.parquet')"


class World:
    """The synthetic world the queries read, plus the frames several
    of them share. The driving network and the building polygons are
    built and persisted on first use; :meth:`close` unpersists them.
    ``scratch`` is a writable directory for the queries that write
    (checkpoint, Z-order layout)."""

    def __init__(self, spark: SparkSession, scratch: str):
        from pyrosm_spark.synth import ensure_images_table, ensure_osm_tables

        ensure_osm_tables(SYNTH_DIR, grid=16, seed=42)
        ensure_images_table(os.path.join(SYNTH_DIR, "images.parquet"),
                            n_rows=2000, seed=42)
        self.spark = spark
        self.scratch = scratch
        self._held: list = []

    def osm(self):
        from pyrosm_spark.operators.osm_source import load_osm

        return load_osm(self.spark, SYNTH_DIR)

    def images(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(SYNTH_DIR, "images.parquet"))

    def world_pbf(self) -> str:
        """The synth world as a byte-level .osm.pbf (the from-scratch
        codec in sources/pbf.py), written once if absent; queries over
        it prove the full S4-S7 ingest + S11 export stack against the
        parquet oracle."""
        path = os.path.join(SYNTH_DIR, "world.osm.pbf")
        if not os.path.exists(path):
            from pyrosm_spark.operators.osm_source import load_osm
            from pyrosm_spark.sources.pbf import write_pbf

            n, w, r = load_osm(self.spark, SYNTH_DIR, visible_only=False)
            write_pbf(n, w, r, path)
        return path

    @functools.cached_property
    def driving_network(self):
        """``(graph_nodes, edges)`` of the driving network, which seven
        queries share (the J1 node->way join plus length/geometry)."""
        from pyrosm_spark.operators.network import get_network

        nodes, ways, _ = self.osm()
        gnodes, edges = get_network(nodes, ways, "driving", with_nodes=True)
        return self._hold(gnodes), self._hold(edges)

    @functools.cached_property
    def building_polygons(self) -> DataFrame:
        """The building layer's multipolygon assembly, which the PIP
        and raster queries share."""
        from pyrosm_spark.operators.layers import get_buildings

        nodes, ways, rels = self.osm()
        return self._hold(get_buildings(nodes, ways, rels).select(
            "id", "osm_type", "geometry"))

    def _hold(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def close(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()


# ==========================================================================
# Engine queries
# ==========================================================================

def _q_network_edges(network_type: str):
    def q(world: World) -> DataFrame:
        from pyrosm_spark.operators import geometry as geom
        from pyrosm_spark.operators.network import filter_network_ways

        nodes, ways, _ = world.osm()
        w = filter_network_ways(ways, network_type)
        w = geom.way_coordinates(w, nodes).filter(geom.pts_size() >= 2)
        return w.select(
            "id",
            F.col("tags")["highway"].alias("highway"),
            geom.pts_size().cast("int").alias("n_pts"),
            geom.way_length_m().alias("length"),
        )

    return q


def _q_network_segments(world: World) -> DataFrame:
    _, edges = world.driving_network
    return edges.select("id", "u", "v", "length")


def _q_directed_edges(world: World) -> DataFrame:
    from pyrosm_spark.operators.network import directed_edges

    _, edges = world.driving_network
    return directed_edges(edges, "driving").select("id", "u", "v")


def _standalone_building_ways(nodes, ways, rels) -> DataFrame:
    """Shared by _q_buildings_ways and _q_pip_bbox: building-
    tagged ways minus relation members (J4), coordinate-joined (J1),
    >=2 resolvable points — ONE definition so a semantics fix (e.g.
    the member-exclusion rule) can't leave a stale copy behind."""
    from pyrosm_spark.functions.filters import element_filter_column
    from pyrosm_spark.operators import geometry as geom
    from pyrosm_spark.operators.relations import relation_member_ways

    pred = element_filter_column(F.col("tags"), {"building": True})
    member_ids = relation_member_ways(rels.filter(pred)).select(
        F.col("way_id").alias("id")).distinct()
    w = ways.filter(pred).join(member_ids, "id", "left_anti")
    return geom.way_coordinates(w, nodes).filter(geom.pts_size() >= 2)


def _q_buildings_ways(world: World) -> DataFrame:
    from pyrosm_spark.operators import geometry as geom

    nodes, ways, rels = world.osm()
    w = _standalone_building_ways(nodes, ways, rels)
    return w.select(
        "id",
        F.col("tags")["building"].alias("building"),
        (geom.way_is_closed()
         & geom.closed_way_is_polygon(F.col("tags"))).alias("is_polygon"),
        geom.pts_size().cast("int").alias("n_pts"),
    )


def _q_pois_nodes(world: World) -> DataFrame:
    from pyrosm_spark.functions.filters import element_filter_column

    nodes, _, _ = world.osm()
    pred = element_filter_column(
        F.col("tags"), {"amenity": True, "shop": ["supermarket"]})
    return nodes.filter(pred).select(
        "id", F.col("tags")["amenity"].alias("amenity"),
        F.col("tags")["shop"].alias("shop"), "lon", "lat")


def _q_boundaries(world: World) -> DataFrame:
    from pyrosm_spark.operators.layers import get_boundaries

    nodes, ways, rels = world.osm()
    b = get_boundaries(nodes, ways, rels, boundary_type="administrative")
    return b.select("id", "osm_type", F.col("tags")["name"].alias("name"))


def _q_bbox_ways(world: World) -> DataFrame:
    from pyrosm_spark.operators.network import filter_network_ways, ways_in_bbox
    from pyrosm_spark.synth.osm import TEST_BBOX

    nodes, ways, _ = world.osm()
    w = filter_network_ways(ways, "all")
    return ways_in_bbox(w, nodes, TEST_BBOX).select("id")


def _q_latest_node_version(world: World) -> DataFrame:
    from pyrosm_spark.operators.osm_source import latest_version

    nodes, _, _ = world.osm()
    lv = latest_version(nodes.select("id", "version", "timestamp", "lon", "lat"),
                        order_cols=("version", "timestamp"))
    return lv.select("id", "version", "lon", "lat")


def _q_custom_bracket_network(world: World) -> DataFrame:
    """F4/F5 — Overpass-bracket custom filter compiled to Catalyst."""
    from pyrosm_spark.operators.network import filter_network_ways

    _, ways, _ = world.osm()
    w = filter_network_ways(
        ways, custom_filter='["highway"~"path|cycleway"]["bicycle"!="no"]')
    return w.select("id", F.col("tags")["highway"].alias("highway"))


def _q_straddling_relations(world: World) -> DataFrame:
    """A9 — relations with some-but-not-all member ways present."""
    from pyrosm_spark.operators.relations import straddling_relation_count

    _, ways, rels = world.osm()
    return straddling_relation_count(rels, ways)


def _q_crop(world: World) -> DataFrame:
    """S10 selection semantics — 3-stage bbox crop cascade: in-box
    nodes -> complete ways -> node closure -> referencing relations."""
    from pyrosm_spark.operators.crop import crop_tables
    from pyrosm_spark.synth.osm import TEST_BBOX

    nodes, ways, rels = world.osm()
    n, w, r = crop_tables(nodes, ways, rels, TEST_BBOX)
    return (
        n.select(F.lit("node").alias("kind"), "id")
        .unionByName(w.select(F.lit("way").alias("kind"), "id"))
        .unionByName(r.select(F.lit("relation").alias("kind"), "id"))
    )


def _q_buildings_relations_helsinki(world: World) -> DataFrame:
    """G6 — the reference's own public Helsinki fixture run
    end-to-end: PBF blob decode -> building filter -> relation member
    resolve -> multipolygon even-odd assembly (the single most
    parity-sensitive path). The reference's golden is 486 building
    features with both way and relation rows present
    (test_buildings_parsing.py; reference parity test #21). DuckDB can
    neither decode PBF nor assemble multipolygons, so the SQL oracle
    reads a committed golden snapshot of this output
    (data/goldens/helsinki_buildings.parquet) — generated
    deterministically by this pipeline, pinned by
    tests/test_reference_parity.py (count/columns/type-mix vs the
    reference's own expectations) and by the golden regression test in
    tests/test_osm_layers.py; the oracle therefore value-checks every
    per-feature WKB digest, not just the row count."""
    from pyrosm_spark.api import OSM

    gdf = OSM(world.spark, REF_HELSINKI_PBF).get_buildings()
    return gdf.select(
        "id", "osm_type", "building",
        # WKB header byte 2 (LE uint32 low byte) = geometry type
        F.conv(F.hex(F.substring("geometry", 2, 1)), 16, 10)
        .cast("int").alias("geom_type"),
        F.length("geometry").cast("long").alias("wkb_len"),
        F.md5("geometry").alias("wkb_md5"),
    )


def _q_pbf_roundtrip_nodes(world: World) -> DataFrame:
    """S4-S7/S11 — every node survives parquet -> .osm.pbf (write_pbf)
    -> read_pbf byte-exactly: ids, 100-nanodegree coordinate units
    (the PBF wire precision, compared as integers), tag cardinality
    and metadata against the original parquet table."""
    from pyrosm_spark.sources.pbf import read_pbf

    nodes, _w, _r = read_pbf(world.spark, world.world_pbf())
    return nodes.select(
        "id",
        F.round(F.col("lon") * 1e7).cast("long").alias("lon_e7"),
        F.round(F.col("lat") * 1e7).cast("long").alias("lat_e7"),
        F.size("tags").alias("n_tags"),
        "version", "changeset", "timestamp", "visible",
    )


def _q_pbf_roundtrip_ways(world: World) -> DataFrame:
    """S4/S11 — every way survives the .osm.pbf roundtrip with its
    full delta-coded ref list byte-exactly."""
    from pyrosm_spark.sources.pbf import read_pbf

    _n, ways, _r = read_pbf(world.spark, world.world_pbf())
    # the ref list is compared as one scalar signature: array cells
    # are unhashable and do not sort, while a joined string carries
    # the same byte-exactness evidence and sorts on both engines
    return ways.select(
        "id",
        F.coalesce(
            F.concat_ws(",", F.transform("refs",
                                         lambda r: r.cast("string"))),
            F.lit("")).alias("refs_sig"),
        F.size("tags").alias("n_tags"),
        "version", "timestamp", "visible")


def _q_pbf_roundtrip_relations(world: World) -> DataFrame:
    """S4/S11 — relations survive the roundtrip: member ids (delta),
    types (enum), roles (string table) canonicalized to id:type:role
    strings for the cross-engine compare."""
    from pyrosm_spark.sources.pbf import read_pbf

    _n, _w, rels = read_pbf(world.spark, world.world_pbf())
    # members collapse to one sortable scalar per row (see refs_sig)
    return rels.select(
        "id",
        F.coalesce(
            F.concat_ws(";", F.transform(
                "members",
                lambda m: F.concat_ws(
                    ":", m["member_id"].cast("string"), m["member_type"],
                    m["member_role"]))),
            F.lit("")).alias("members_sig"),
        F.size("tags").alias("n_tags"),
        "version", "timestamp", "visible")


def _q_pbf_scan_summary(world: World) -> DataFrame:
    """S4-S7 — whole-file checksum of the .osm.pbf roundtrip: per
    element type, row count, id sum, total tag entries, total way
    refs and relation members vs the source parquet tables."""
    from pyrosm_spark.sources.pbf import read_pbf_union

    u = read_pbf_union(world.spark, world.world_pbf())

    def _cnt(col):
        return F.sum(F.when(F.col(col).isNull(), F.lit(0))
                     .otherwise(F.size(col)))

    return u.groupBy("osm_type").agg(
        F.count("*").alias("n"),
        F.sum("id").alias("id_sum"),
        F.sum(F.size("tags")).alias("tag_sum"),
        _cnt("refs").alias("refs_sum"),
        _cnt("members").alias("members_sum"),
    )


def _q_latest_history(world: World) -> DataFrame:
    """A1 — per-column last-non-null over version history (the
    get_latest_version semantics; data_filter.pyx:340-343)."""
    from pyrosm_spark.operators.osm_source import latest_version
    h = world.spark.read.parquet(os.path.join(SYNTH_DIR,
                                        "osm_nodes_history.parquet"))
    src = h.filter(F.col("visible")).select(
        "id", "version", "timestamp",
        F.round("lon", 6).alias("lon"), F.round("lat", 6).alias("lat"),
        F.col("tags")["name"].alias("name"),
        F.col("tags")["amenity"].alias("amenity"),
    )
    lv = latest_version(src, order_cols=("version", "timestamp"))
    return lv.select("id", "lon", "lat", "name", "amenity")


def _q_tag_presentation_ways(world: World) -> DataFrame:
    """§1.3 — dynamic presentation schema: occurring-only columns,
    column-level numeric coercion, canonical leftover tags."""
    from pyrosm_spark.functions.tags import present_layer

    _, ways, _ = world.osm()
    src = ways.filter(F.col("tags")["maxspeed"].isNotNull())
    out = present_layer(src, ["maxspeed", "lanes", "name", "height"],
                        leftover_json=False)
    return out.select("id", "maxspeed", "lanes", "name", "tags_leftover")


def _q_id_tag_rename(world: World) -> DataFrame:
    """tagparser.pyx:41-44 — a tag literally keyed 'id' -> id_tag."""
    from pyrosm_spark.functions.tags import present_layer

    nodes, _, _ = world.osm()
    src = nodes.filter(F.col("tags")["id"].isNotNull())
    out = present_layer(src, ["amenity", "id"], coerce=False,
                        leftover_json=False)
    return out.select("id", "id_tag", "amenity")


def _q_tile_assignment(world: World) -> DataFrame:
    from pyrosm_spark.operators.spatial_join import assign_tiles

    return assign_tiles(world.images(), 15).select("image_id", "cell")


def _q_tile_adaptive(world: World) -> DataFrame:
    """Adaptive cell splitting (the north rule's skew handling): hot cells — count > 4x the mean of the res-12
    histogram — re-key their rows at res 15 (64x smaller tiles), cold
    rows keep res 12. The oracle mirrors histogram, threshold, and
    split in pure SQL over the same closed-form cell encoding."""
    from pyrosm_spark.operators.spatial_join import (
        assign_tiles_adaptive,
        hot_cells,
    )

    imgs = world.images()
    hot = hot_cells(imgs, 12, threshold_ratio=4.0)
    return assign_tiles_adaptive(imgs, 12, hot, split_levels=3).select(
        "image_id", "cell")


def _q_checkpointed_tile_counts(world: World) -> DataFrame:
    """S9: the per-cell histogram builds THROUGH the CheckpointManager
    (deterministic stage key over the input fingerprint; atomic
    tmp+rename publish; resumed from the checkpoint on any re-run) and
    must equal the direct SQL aggregation either way."""
    from pyrosm_spark.operators.spatial_join import cell_histogram
    from pyrosm_spark.plans.checkpoint import CheckpointManager

    img_path = os.path.join(SYNTH_DIR, "images.parquet")
    mgr = CheckpointManager(world.spark, os.path.join(world.scratch, "ckpt"))
    out = mgr.stage(
        "tile_counts_r12", {"res": 12}, [img_path],
        lambda: cell_histogram(world.spark.read.parquet(img_path), 12),
    )
    return out.select("cell", F.col("count").alias("n"))


def _q_tile_counts(world: World) -> DataFrame:
    from pyrosm_spark.operators.spatial_join import cell_histogram

    return cell_histogram(world.images(), 12).select(
        "cell", F.col("count").alias("n"))


# Sub-window of the synth image extent (lon 24.6-25.2, lat 60.1-60.4).
_ZORDER_BBOX = (24.8, 60.15, 25.0, 60.3)
_ZORDER_RES = 15


def _q_zorder_scan(world: World) -> DataFrame:
    """Z-order layout roundtrip: cluster the
    image table on the Morton key (repartitionByRange +
    sortWithinPartitions), re-read with the bbox lowered to pushed
    Morton-range predicates, and project the persisted key. The oracle
    recomputes the key closed-form in SQL, so a hash-green row proves
    both the pruned scan's result set and the key's bit-exactness."""
    from pyrosm_spark.sources.layout import (
        scan_spatial,
        write_spatial_clustered,
    )

    imgs = world.images().select("image_id", "lon", "lat")
    path = os.path.join(world.scratch, "zorder")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_spatial_clustered(imgs, path, res=_ZORDER_RES)
    out = scan_spatial(world.spark, path, bbox=_ZORDER_BBOX, res=_ZORDER_RES)
    return out.select(
        "image_id", F.col("_zkey").alias("zkey"), "lon", "lat")


def _q_pip_bbox(world: World) -> DataFrame:
    """Images joined to standalone building ways by bbox containment —
    the oracle-checkable companion of the exact PIP join (the bbox is
    the cover-prune stage of the same plan)."""
    from pyrosm_spark.operators import geometry as geom
    from pyrosm_spark.operators.spatial_join import (
        assign_tiles,
        cover_cells_expr,
    )

    nodes, ways, rels = world.osm()
    w = _standalone_building_ways(nodes, ways, rels)
    polys = w.select(F.col("id").alias("poly_id"),
                     geom.bbox_struct().alias("bbox"))
    cover = polys.withColumn("cell", F.explode(cover_cells_expr("bbox", 15)))
    pts = assign_tiles(world.images(), 15)
    return (
        pts.join(cover, "cell")
        .filter(F.col("lon").between(F.col("bbox.xmin"), F.col("bbox.xmax"))
                & F.col("lat").between(F.col("bbox.ymin"), F.col("bbox.ymax")))
        .select("image_id", "poly_id").distinct()
    )


def _q_pip_exact(world: World) -> DataFrame:
    """J10 — exact PIP over ALL building polygons (standalone ways +
    multipolygon relations). ``osm_type`` disambiguates way-vs-relation
    poly ids (the synth id spaces overlap numerically). Oracle: summed
    ray-crossing parity over every ring segment of the feature — for
    non-crossing rings, global even-odd parity equals the engine's
    per-polygon containment-depth union."""
    from pyrosm_spark.operators.spatial_join import point_in_polygon_join

    j = point_in_polygon_join(world.images(), world.building_polygons,
                              res=15)
    return j.select("image_id", "poly_id",
                    F.col("poly_osm_type").alias("osm_type"))


def _q_pip_exact_ways(world: World) -> DataFrame:
    """Exact PIP restricted to standalone closed building WAYS — the
    single-ring case whose even-odd ray cast IS expressible in the SQL
    oracle (crossing parity over cyclic segments); pip_exact_join
    extends the same oracle to multipolygon relations."""
    from pyrosm_spark.operators.spatial_join import point_in_polygon_join

    polys = world.building_polygons.filter("osm_type = 'way'")
    j = point_in_polygon_join(world.images(), polys, res=15)
    return j.select("image_id", "poly_id")


def _q_pip_left(world: World) -> DataFrame:
    """how='left' PIP join over standalone building ways: matched
    rows are the inner pair set, and every image that hit NO polygon
    survives with a null poly_id — the 'every image row keeps its
    tile assignment' contract of the north rule. Oracle: ANSI LEFT
    JOIN of the images table against the ray-cast hit set."""
    from pyrosm_spark.operators.spatial_join import point_in_polygon_join

    polys = world.building_polygons.filter("osm_type = 'way'")
    j = point_in_polygon_join(world.images(), polys, res=15,
                              how="left", point_id_col="image_id")
    return j.select("image_id", "poly_id")


def _q_pip_compact(world: World) -> DataFrame:
    """The COMPACTED mixed-resolution PIP join (H3-style
    compact/uncompact covers, the north rule's large-polygon scale
    path) — must produce the identical pair set as the uniform-res
    join, so it shares pip_exact_join's ray-cast SQL oracle."""
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join_compact,
    )

    j = point_in_polygon_join_compact(
        world.images(), world.building_polygons, res=15)
    return j.select("image_id", "poly_id",
                    F.col("poly_osm_type").alias("osm_type"))


def _q_pip_auto(world: World) -> DataFrame:
    """Mixed-corpus routed PIP join: buildings (uniform equi-join
    route) + a world-spanning literal rectangle (capped compact route)
    in ONE call — point_in_polygon_join_auto splits the corpus by
    closed-form cover size. The rectangle's oracle contribution is
    exact by construction: it contains every image point."""
    from pyrosm_spark.functions import geometry_np as G
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join_auto,
    )
    import numpy as np

    rect = G.wkb_polygon([np.array(
        [[-179.0, -89.0], [179.0, -89.0], [179.0, 89.0],
         [-179.0, 89.0], [-179.0, -89.0]])])
    corpus = world.building_polygons.unionByName(
        world.spark.createDataFrame(
            [(-1, "synthetic", bytearray(rect))],
            "id long, osm_type string, geometry binary"))
    j = point_in_polygon_join_auto(
        world.images(), corpus, res=15, id_cols=("id", "osm_type"))
    return j.select("image_id",
                    F.col("poly_id"),
                    F.col("poly_osm_type").alias("osm_type"))


def _q_raster_polygon(world: World) -> DataFrame:
    """Raster-tile <-> vector-polygon join (north rule): the image
    corpus aggregated into res-12 raster tiles (count payload), each
    tile joined to every standalone building way whose polygon
    INTERSECTS the tile square — exact edge/corner/containment test in
    whole-stage codegen. Oracle: the same three-way test in ANSI SQL
    (EXISTS segment-rect + ray-cast parity at the tile corner + bbox
    containment) over the identical candidate quantization."""
    from pyrosm_spark.operators.spatial_join import (
        assign_tiles,
        raster_polygon_join,
    )

    tiles = (assign_tiles(world.images(), 12)
             .groupBy("cell").agg(F.count("*").alias("n_images")))
    polys = world.building_polygons.filter("osm_type = 'way'")
    j = raster_polygon_join(tiles, polys, res=12)
    return j.select("cell", "poly_id", "n_images")


def _q_knn(world: World) -> DataFrame:
    from pyrosm_spark.functions.filters import element_filter_column
    from pyrosm_spark.operators.spatial_join import knn_join

    nodes, _, _ = world.osm()
    pois = nodes.filter(
        element_filter_column(F.col("tags"), {"amenity": True})
    ).select("id", "lon", "lat")
    imgs = world.images().filter(F.col("image_id") < "img000000200").select(
        "image_id", "lon", "lat")
    # res 9 cell (~0.7 deg) + ring 1 covers the whole synthetic region ->
    # the cell-local join is exhaustive here, so brute force is an oracle
    out = knn_join(imgs, pois, k=3, res=9, ring=1, point_id_col="image_id")
    return out.select("image_id", "neighbor_id",
                      F.round("distance_m", 3).alias("distance_m"),
                      F.col("knn_rank").cast("int").alias("knn_rank"))


def _q_knn_complete(world: World) -> DataFrame:
    """Ring-ESCALATING kNN under the value oracle: starts at res 15
    (ring 1 covers ~0.003 deg — most images see zero POIs and must
    escalate), widening res 13 -> 11 -> 9 until each point holds >= k
    candidates. The oracle picks, per point, the FINEST level with
    >= k ring candidates and ranks by haversine within it — exactly
    the engine's first-filled-level semantics."""
    from pyrosm_spark.functions.filters import element_filter_column
    from pyrosm_spark.operators.spatial_join import knn_join_complete

    nodes, _, _ = world.osm()
    pois = nodes.filter(
        element_filter_column(F.col("tags"), {"amenity": True})
    ).select("id", "lon", "lat")
    imgs = world.images().filter(F.col("image_id") < "img000000200").select(
        "image_id", "lon", "lat")
    out = knn_join_complete(imgs, pois, k=3, res=15, ring=1,
                            max_escalations=3, point_id_col="image_id")
    return out.select("image_id", "neighbor_id",
                      F.round("distance_m", 3).alias("distance_m"),
                      F.col("knn_rank").cast("int").alias("knn_rank"))


def _q_street_count(world: World) -> DataFrame:
    from pyrosm_spark.operators.graph import street_count
    _, edges = world.driving_network
    return street_count(edges)


def _q_degrees(world: World) -> DataFrame:
    from pyrosm_spark.operators.graph import degrees
    from pyrosm_spark.operators.network import directed_edges

    _, edges = world.driving_network
    d = directed_edges(edges, "driving")
    return degrees(d)


def _q_simplify(world: World) -> DataFrame:
    """A4/A8/W4 — undirected degree-2 chain collapse. Chains are
    orientation-canonicalized (least/greatest endpoint) and the way-id
    set is serialized to a comma string so the rows sort and hash
    (array cells are unhashable)."""
    from pyrosm_spark.operators.graph import simplify_chains
    _, edges = world.driving_network
    s = simplify_chains(edges)
    return s.select(
        F.least("u", "v").alias("u"),
        F.greatest("u", "v").alias("v"),
        "length",
        "n_segments",
        F.concat_ws(",", F.col("way_ids").cast("array<string>"))
        .alias("way_ids"),
    )


def _q_simplify_directed(world: World) -> DataFrame:
    """X2 full form — OSMnx endpoint rules 1-5 (pure-SQL detection)
    + directed chain walk, attribute-uniform on highway. Array columns
    (way_ids, highway_values) are serialized to comma strings so the
    rows sort; directed chains keep their orientation."""
    from pyrosm_spark.operators.graph import simplify_directed_chains
    from pyrosm_spark.operators.network import directed_edges

    _, edges = world.driving_network
    d = directed_edges(edges, "driving").withColumn(
        "highway", F.col("tags")["highway"])
    out = simplify_directed_chains(d, edge_attr_cols=("highway",))
    return out.select(
        "u", "v", "length", "n_segments",
        F.concat_ws(",", F.col("way_ids").cast("array<string>"))
        .alias("way_ids"),
        F.concat_ws(",", "highway_values").alias("highway"),
    )


def _q_largest_component(world: World) -> DataFrame:
    from pyrosm_spark.operators.graph import largest_component_edges
    _, edges = world.driving_network
    return largest_component_edges(edges).select("id", "u", "v")


def _q_decode_features(world: World) -> DataFrame:
    """Image decode + invariants — GENERATOR-DIFFERENTIAL oracle: the
    stored phash/h/w columns were computed by the independent
    pyarrow/numpy generator at table-build time, so comparing the
    engine's decoded phash_computed (and shapes, and ok flags) against
    them value-checks the whole decode path; only the per-channel
    means stay engine-only (not reproducible in SQL)."""
    from pyrosm_spark.operators.multimodal import decode_features

    return decode_features(world.images()).select(
        "image_id", "ok", "h", "w", "phash_computed", "phash_match",
        "caption_len")


QUERIES = {
    "buildings_ways": _q_buildings_ways,
    "buildings_relations_helsinki": _q_buildings_relations_helsinki,
    "pois_nodes": _q_pois_nodes,
    "boundaries_admin": _q_boundaries,
    "tag_presentation_ways": _q_tag_presentation_ways,
    "id_tag_rename": _q_id_tag_rename,
    "custom_bracket_network": _q_custom_bracket_network,
    "network_driving_edges": _q_network_edges("driving"),
    "network_walking_edges": _q_network_edges("walking"),
    "network_cycling_edges": _q_network_edges("cycling"),
    "network_all_edges": _q_network_edges("all"),
    "network_driving_psv_edges": _q_network_edges("driving+psv"),
    "network_driving_segments": _q_network_segments,
    "directed_edges_driving": _q_directed_edges,
    "bbox_complete_ways": _q_bbox_ways,
    "crop_bbox_cascade": _q_crop,
    "straddling_relations": _q_straddling_relations,
    "latest_node_version": _q_latest_node_version,
    "latest_history_nodes": _q_latest_history,
    "pbf_roundtrip_nodes": _q_pbf_roundtrip_nodes,
    "pbf_roundtrip_ways": _q_pbf_roundtrip_ways,
    "pbf_roundtrip_relations": _q_pbf_roundtrip_relations,
    "pbf_scan_summary": _q_pbf_scan_summary,
    "tile_assignment": _q_tile_assignment,
    "tile_counts": _q_tile_counts,
    "checkpointed_tile_counts": _q_checkpointed_tile_counts,
    "tile_adaptive_split": _q_tile_adaptive,
    "zorder_pruned_scan": _q_zorder_scan,
    "pip_bbox_join": _q_pip_bbox,
    "pip_exact_join": _q_pip_exact,
    "pip_exact_ways": _q_pip_exact_ways,
    "pip_left_join": _q_pip_left,
    "pip_compact_join": _q_pip_compact,
    "pip_auto_join": _q_pip_auto,
    "raster_polygon_join": _q_raster_polygon,
    "knn_images_pois": _q_knn,
    "knn_escalating": _q_knn_complete,
    "street_count_driving": _q_street_count,
    "degrees_directed_driving": _q_degrees,
    "largest_weak_component": _q_largest_component,
    "simplify_chains_driving": _q_simplify,
    "simplify_directed_osmnx": _q_simplify_directed,
    "decode_features": _q_decode_features,
}


# ==========================================================================
# DuckDB oracles
# ==========================================================================

def _hav_sql(lat1, lon1, lat2, lon2) -> str:
    from pyrosm_spark.functions.distance import haversine_sql

    return haversine_sql(lat1, lon1, lat2, lon2)


_NET_EXCLUDE = {
    # driving+psv / driving+service: the psv exclusion is lifted
    # (config/osm_filters.py psv-inclusive variant; pyrosm.py:290-291)
    "driving+psv": (
        "(coalesce(area = 'yes', false) OR coalesce(highway IN "
        "('cycleway','footway','path','pedestrian','steps','track',"
        "'corridor','elevator','escalator','proposed','construction',"
        "'bridleway','abandoned','platform','raceway'), false) OR "
        "coalesce(motor_vehicle = 'no', false) OR "
        "coalesce(motorcar = 'no', false) OR coalesce(service IN "
        "('parking','parking_aisle','private','emergency_access'), false))"
    ),
    "driving": (
        "(coalesce(area = 'yes', false) OR coalesce(highway IN "
        "('cycleway','footway','path','pedestrian','steps','track',"
        "'corridor','elevator','escalator','proposed','construction',"
        "'bridleway','abandoned','platform','raceway'), false) OR "
        "coalesce(motor_vehicle = 'no', false) OR "
        "coalesce(motorcar = 'no', false) OR coalesce(service IN "
        "('parking','parking_aisle','private','emergency_access'), false) "
        "OR coalesce(psv = 'yes', false))"
    ),
    "walking": (
        "(coalesce(area = 'yes', false) OR coalesce(highway IN "
        "('cycleway','motor','proposed','construction','abandoned',"
        "'platform','raceway','motorway','motorway_link'), false) OR "
        "coalesce(foot = 'no', false) OR coalesce(service = 'private', false))"
    ),
    "cycling": (
        "(coalesce(area = 'yes', false) OR coalesce(highway IN "
        "('footway','steps','corridor','elevator','escalator','motor',"
        "'proposed','construction','abandoned','platform','raceway',"
        "'motorway','motorway_link'), false) OR "
        "coalesce(bicycle = 'no', false) OR coalesce(service = 'private', false))"
    ),
    "all": "false",
}


def _network_way_cte(network_type: str) -> str:
    """Shared CTE: filtered ways -> resolved ordered points -> segments."""
    return f"""
        wf AS (
            SELECT id, refs FROM {W}
            WHERE visible AND highway IS NOT NULL
              AND NOT {_NET_EXCLUDE[network_type]}
        ),
        r AS (
            SELECT id, unnest(refs) AS ref,
                   unnest(generate_series(1, len(refs))) AS pos
            FROM wf
        ),
        j AS (
            SELECT r.id, r.pos, n.lon, n.lat, n.id AS nid
            FROM r JOIN {N} n ON n.id = r.ref AND n.visible
        ),
        s AS (
            SELECT id, pos, lon, lat, nid,
                   lag(lon) OVER (PARTITION BY id ORDER BY pos) AS plon,
                   lag(lat) OVER (PARTITION BY id ORDER BY pos) AS plat,
                   lag(nid) OVER (PARTITION BY id ORDER BY pos) AS pnid
            FROM j
        ),
        seg AS (
            SELECT id, pnid AS u, nid AS v,
                   round({_hav_sql('plat', 'plon', 'lat', 'lon')}, 3) AS L
            FROM s WHERE plon IS NOT NULL
        )
    """


def _network_edges_sql(network_type: str) -> str:
    return f"""
        WITH {_network_way_cte(network_type)},
        per AS (
            SELECT seg.id, count(*) + 1 AS n_pts, round(sum(L), 0) AS length
            FROM seg GROUP BY seg.id
        )
        SELECT w.id, w.highway, CAST(per.n_pts AS INT) AS n_pts, per.length
        FROM per JOIN {W} w ON w.id = per.id
    """


_DIRECTED_SQL = f"""
    WITH {_network_way_cte('driving')},
    tagged AS (
        SELECT seg.id, seg.u, seg.v,
               (coalesce(w.oneway IN ('yes','true','1','-1','T','F'), false)
                OR coalesce(w.junction = 'roundabout', false)) AS oneway,
               coalesce(w.oneway IN ('-1','T'), false) AS against
        FROM seg JOIN {W} w ON w.id = seg.id
    )
    SELECT id, u, v FROM tagged WHERE oneway AND NOT against
    UNION ALL
    SELECT id, v AS u, u AS v FROM tagged WHERE oneway AND against
    UNION ALL
    SELECT id, u, v FROM tagged WHERE NOT oneway
    UNION ALL
    SELECT id, v AS u, u AS v FROM tagged WHERE NOT oneway
"""

_BUILDINGS_SQL = f"""
    WITH member_ids AS (
        SELECT DISTINCT u.member_id AS id
        FROM (SELECT unnest(members) AS u FROM {R}
              WHERE visible AND building IS NOT NULL)
        WHERE u.member_type = 'way'
    ),
    wf AS (
        SELECT * FROM {W}
        WHERE visible AND building IS NOT NULL
          AND id NOT IN (SELECT id FROM member_ids)
    ),
    r AS (
        SELECT id, unnest(refs) AS ref,
               unnest(generate_series(1, len(refs))) AS pos
        FROM wf
    ),
    j AS (
        SELECT r.id, count(*) AS n_pts
        FROM r JOIN {N} n ON n.id = r.ref AND n.visible
        GROUP BY r.id
    )
    SELECT wf.id, wf.building,
           (len(wf.refs) >= 2 AND wf.refs[1] = wf.refs[-1] AND
            CASE WHEN wf.area = 'yes' THEN true
                 WHEN wf.area = 'no' THEN false
                 ELSE (wf.highway IS NULL AND wf.barrier IS NULL
                       AND wf.route IS NULL) END) AS is_polygon,
           CAST(j.n_pts AS INT) AS n_pts
    FROM wf JOIN j ON j.id = wf.id
    WHERE j.n_pts >= 2
"""

def _crop_sql() -> str:
    from pyrosm_spark.synth.osm import TEST_BBOX

    x0, y0, x1, y1 = TEST_BBOX
    return f"""
        WITH inbox AS (
            SELECT id AS nid FROM {N}
            WHERE visible AND lon BETWEEN {x0} AND {x1}
              AND lat BETWEEN {y0} AND {y1}
        ),
        refs AS (
            SELECT id AS wid, unnest(refs) AS nid FROM {W} WHERE visible
        ),
        kept_ways AS (
            SELECT DISTINCT wid FROM refs
            WHERE nid IN (SELECT nid FROM inbox)
        ),
        closure AS (
            SELECT nid FROM inbox
            UNION
            SELECT r.nid FROM refs r
            WHERE r.wid IN (SELECT wid FROM kept_ways)
        ),
        kept_nodes AS (
            SELECT n.id FROM {N} n
            WHERE n.visible AND n.id IN (SELECT nid FROM closure)
        ),
        mem AS (
            SELECT id AS rid, u.member_id AS mid, u.member_type AS mt
            FROM (SELECT id, unnest(members) AS u FROM {R} WHERE visible)
        ),
        kept_rels AS (
            SELECT DISTINCT rid FROM mem
            WHERE (mt = 'node' AND mid IN (SELECT nid FROM closure))
               OR (mt = 'way' AND mid IN (SELECT wid FROM kept_ways))
        )
        SELECT 'node' AS kind, id FROM kept_nodes
        UNION ALL SELECT 'way', wid FROM kept_ways
        UNION ALL SELECT 'relation', rid FROM kept_rels
    """


def _bbox_sql() -> str:
    from pyrosm_spark.synth.osm import TEST_BBOX

    x0, y0, x1, y1 = TEST_BBOX
    return f"""
        WITH inbox AS (
            SELECT id FROM {N}
            WHERE visible AND lon BETWEEN {x0} AND {x1}
              AND lat BETWEEN {y0} AND {y1}
        )
        SELECT w.id FROM {W} w
        WHERE w.visible AND w.highway IS NOT NULL
          AND EXISTS (
              SELECT 1 FROM unnest(w.refs) AS t(ref)
              JOIN inbox ON inbox.id = t.ref)
    """


def _tile_sql(res: int, agg: bool) -> str:
    from pyrosm_spark.functions.tiles import cell_id_sql

    cell = cell_id_sql("lon", "lat", res)
    if not agg:
        return f"SELECT image_id, {cell} AS cell FROM {IMG}"
    return (
        f"SELECT {cell} AS cell, count(*) AS n FROM {IMG} GROUP BY 1"
    )


def _zorder_scan_sql() -> str:
    """Mirror of ``_q_zorder_scan``: the exact bbox window plus a
    closed-form recomputation of the persisted Morton key. The grid
    indices bind to short aliases in a subquery so the interleave's
    text growth (each spread step doubles its input expression)
    applies to a 2-char token, not the clamp formula."""
    from pyrosm_spark.functions.tiles import grid_x_sql, grid_y_sql
    from pyrosm_spark.sources.layout import morton_key_sql_from_xy

    x0, y0, x1, y1 = _ZORDER_BBOX
    z = morton_key_sql_from_xy("gx", "gy")
    return (
        f"SELECT image_id, {z} AS zkey, lon, lat FROM ("
        f"SELECT image_id, lon, lat, "
        f"{grid_x_sql('lon', _ZORDER_RES)} AS gx, "
        f"{grid_y_sql('lat', _ZORDER_RES)} AS gy FROM {IMG} "
        f"WHERE lon BETWEEN {x0} AND {x1} "
        f"AND lat BETWEEN {y0} AND {y1})"
    )


def _tile_adaptive_sql(res: int, split_levels: int, ratio: float) -> str:
    """SQL mirror of hot_cells + assign_tiles_adaptive: histogram at
    ``res``, hot = count > ratio * mean, hot rows re-keyed at
    ``res + split_levels``."""
    from pyrosm_spark.functions.tiles import cell_id_sql

    coarse = cell_id_sql("lon", "lat", res)
    fine = cell_id_sql("lon", "lat", res + split_levels)
    return f"""
        WITH hist AS (
            SELECT {coarse} AS cell, count(*) AS n FROM {IMG} GROUP BY 1
        ),
        hot AS (
            SELECT cell FROM hist
            WHERE n > (SELECT avg(n) FROM hist) * {ratio}
        )
        SELECT image_id,
               CASE WHEN {coarse} IN (SELECT cell FROM hot)
                    THEN {fine} ELSE {coarse} END AS cell
        FROM {IMG}
    """


_PIP_BBOX_SQL = f"""
    WITH member_ids AS (
        SELECT DISTINCT u.member_id AS id
        FROM (SELECT unnest(members) AS u FROM {R}
              WHERE visible AND building IS NOT NULL)
        WHERE u.member_type = 'way'
    ),
    wf AS (
        SELECT * FROM {W}
        WHERE visible AND building IS NOT NULL
          AND id NOT IN (SELECT id FROM member_ids)
    ),
    r AS (SELECT id, unnest(refs) AS ref FROM wf),
    pts AS (
        SELECT r.id, n.lon, n.lat
        FROM r JOIN {N} n ON n.id = r.ref AND n.visible
    ),
    boxes AS (
        SELECT id AS poly_id, min(lon) AS xmin, min(lat) AS ymin,
               max(lon) AS xmax, max(lat) AS ymax, count(*) AS n_pts
        FROM pts GROUP BY id HAVING count(*) >= 2
    )
    SELECT DISTINCT i.image_id, b.poly_id
    FROM {IMG} i JOIN boxes b
      ON i.lon BETWEEN b.xmin AND b.xmax
     AND i.lat BETWEEN b.ymin AND b.ymax
"""

_PIP_RELATIONS_CTES = f"""
    bm AS (  -- building relations' member ways, deduped (J3)
        SELECT DISTINCT rel_id, u.member_id AS way_id
        FROM (SELECT id AS rel_id, unnest(members) AS u FROM {R}
              WHERE visible AND building IS NOT NULL)
        WHERE u.member_type = 'way'
    ),
    mw AS (  -- member refs in order; missing member ways drop (inner)
        SELECT b.rel_id, w.id AS way_id, unnest(w.refs) AS ref,
               generate_subscripts(w.refs, 1) AS pos
        FROM bm b JOIN {W} w ON w.id = b.way_id AND w.visible
    ),
    rpts AS (
        SELECT m.rel_id, m.way_id, m.pos, n.lon, n.lat
        FROM mw m JOIN {N} n ON n.id = m.ref AND n.visible
    ),
    rr AS (  -- re-rank after missing-ref drops
        SELECT rel_id, way_id,
               row_number() OVER (PARTITION BY rel_id, way_id
                                  ORDER BY pos) AS i,
               count(*) OVER (PARTITION BY rel_id, way_id) AS n, lon, lat
        FROM rpts
    ),
    rseg AS (  -- per-member consecutive segments; a closed member's
               -- duplicated closing ref supplies its closing segment,
               -- split-ring members close via shared endpoint nodes —
               -- ray parity needs only the segment SET, not ring order
        SELECT a.rel_id, a.lon AS x1, a.lat AS y1, b.lon AS x2, b.lat AS y2
        FROM (SELECT * FROM rr WHERE n >= 2) a
        JOIN (SELECT * FROM rr WHERE n >= 2) b
          ON a.rel_id = b.rel_id AND a.way_id = b.way_id AND b.i = a.i + 1
    ),
    rclosed AS (  -- all rings closed <=> every vertex has even
                  -- incidence; an odd vertex marks an unclosed ring
                  -- (engine drops the ring — whole-relation drop is
                  -- exact here: synth's one open chain is its
                  -- relation's sole member)
        SELECT rel_id FROM (
            SELECT rel_id, x, y, count(*) AS c FROM (
                SELECT rel_id, x1 AS x, y1 AS y FROM rseg
                UNION ALL SELECT rel_id, x2, y2 FROM rseg)
            GROUP BY rel_id, x, y)
        GROUP BY rel_id
        HAVING bool_and(c % 2 = 0)
    ),
    rboxes AS (
        SELECT r.rel_id AS poly_id, min(lon) AS xmin, min(lat) AS ymin,
               max(lon) AS xmax, max(lat) AS ymax
        FROM rpts r
        JOIN (SELECT rel_id, way_id FROM rr WHERE n >= 2) k
          ON k.rel_id = r.rel_id AND k.way_id = r.way_id
        WHERE r.rel_id IN (SELECT rel_id FROM rclosed)
        GROUP BY r.rel_id
    ),
    rcand AS (
        SELECT i.image_id, i.lon AS px, i.lat AS py, b.poly_id
        FROM {IMG} i JOIN rboxes b
          ON i.lon BETWEEN b.xmin AND b.xmax
         AND i.lat BETWEEN b.ymin AND b.ymax
    ),
    relhits AS (  -- global even-odd parity across ALL rings
        SELECT c.image_id, c.poly_id
        FROM rcand c JOIN rseg s ON s.rel_id = c.poly_id
        GROUP BY c.image_id, c.poly_id
        HAVING sum(CASE WHEN (s.y1 > c.py) != (s.y2 > c.py)
                         AND c.px < (s.x2 - s.x1) * (c.py - s.y1)
                                    / (s.y2 - s.y1) + s.x1
                   THEN 1 ELSE 0 END) % 2 = 1
    )
"""

_PIP_WAYS_CTES = f"""
    member_ids AS (
        SELECT DISTINCT u.member_id AS id
        FROM (SELECT unnest(members) AS u FROM {R}
              WHERE visible AND building IS NOT NULL)
        WHERE u.member_type = 'way'
    ),
    wf AS (  -- standalone closed building ways that DECIDE polygon (G4)
        SELECT * FROM {W}
        WHERE visible AND building IS NOT NULL
          AND id NOT IN (SELECT id FROM member_ids)
          AND len(refs) >= 2 AND refs[1] = refs[-1]
          AND CASE WHEN area = 'yes' THEN TRUE
                   WHEN area = 'no' THEN FALSE
                   ELSE highway IS NULL AND barrier IS NULL
                        AND route IS NULL END
    ),
    r AS (
        SELECT id, unnest(refs) AS ref,
               generate_subscripts(refs, 1) AS pos
        FROM wf
    ),
    pts AS (  -- resolved coordinates, ref order preserved (J1)
        SELECT r.id, r.pos, n.lon, n.lat
        FROM r JOIN {N} n ON n.id = r.ref AND n.visible
    ),
    ring AS (  -- re-rank after missing-ref drops; drop the closing dup
        SELECT id, row_number() OVER (PARTITION BY id ORDER BY pos) AS i,
               count(*) OVER (PARTITION BY id) AS n, lon, lat
        FROM pts
    ),
    ring2 AS (
        SELECT id, i,
               CASE WHEN first_value(lon) OVER w = last_value(lon) OVER w
                     AND first_value(lat) OVER w = last_value(lat) OVER w
                    THEN n - 1 ELSE n END AS m, lon, lat
        FROM ring
        WINDOW w AS (PARTITION BY id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING)
    ),
    seg AS (  -- cyclic edges over the deduped ring
        SELECT a.id, a.lon AS x1, a.lat AS y1, b.lon AS x2, b.lat AS y2
        FROM (SELECT * FROM ring2 WHERE i <= m) a
        JOIN (SELECT * FROM ring2 WHERE i <= m) b
          ON a.id = b.id AND b.i = (a.i % a.m) + 1
    ),
    firstpt AS (SELECT id, lon AS fx, lat AS fy FROM ring2 WHERE i = 1),
    deg AS (  -- degenerate rings never emit (G3); shoelace computed in
              -- coordinates translated to the ring's first vertex, the
              -- same conditioning the engine kernel uses (absolute
              -- lon/lat products carry ~1e-11 float noise, far above
              -- the 1e-16 threshold)
        SELECT s.id FROM seg s JOIN firstpt f ON f.id = s.id
        GROUP BY s.id
        HAVING abs(sum((s.x1 - f.fx) * (s.y2 - f.fy)
                       - (s.x2 - f.fx) * (s.y1 - f.fy))) > 1e-16
    ),
    boxes AS (
        SELECT id AS poly_id, min(lon) AS xmin, min(lat) AS ymin,
               max(lon) AS xmax, max(lat) AS ymax
        FROM pts WHERE id IN (SELECT id FROM deg) GROUP BY id
    ),
    cand AS (  -- bbox prune (semantics-free, mirrors the cover stage)
        SELECT i.image_id, i.lon AS px, i.lat AS py, b.poly_id
        FROM {IMG} i JOIN boxes b
          ON i.lon BETWEEN b.xmin AND b.xmax
         AND i.lat BETWEEN b.ymin AND b.ymax
    )
"""

_PIP_WAYS_HITS = """
    SELECT c.image_id, c.poly_id
    FROM cand c JOIN seg s ON s.id = c.poly_id
    GROUP BY c.image_id, c.poly_id
    HAVING sum(CASE WHEN (s.y1 > c.py) != (s.y2 > c.py)
                     AND c.px < (s.x2 - s.x1) * (c.py - s.y1)
                                / (s.y2 - s.y1) + s.x1
               THEN 1 ELSE 0 END) % 2 = 1
"""

_PIP_EXACT_WAYS_SQL = f"WITH {_PIP_WAYS_CTES} {_PIP_WAYS_HITS}"

_PIP_EXACT_JOIN_SQL = f"""
    WITH {_PIP_WAYS_CTES},
    {_PIP_RELATIONS_CTES}
    SELECT image_id, poly_id, 'way' AS osm_type FROM ({_PIP_WAYS_HITS})
    UNION ALL
    SELECT image_id, poly_id, 'relation' AS osm_type FROM relhits
"""

def _raster_polygon_sql(res: int = 12) -> str:
    """SQL mirror of raster_polygon_join at ``res`` over the building
    ways: identical candidate quantization (tile x/y within the
    polygon bbox's quantized index range = the engine's bbox cover),
    identical three-way intersect test with the engine's expression
    order so float results are bit-identical."""
    from pyrosm_spark.functions.tiles import _RES_SHIFT, _X_SHIFT

    n = 1 << res
    sx = 360.0 / n  # embed the Python-computed double verbatim
    sy = 180.0 / n

    def qx(col):
        return (f"GREATEST(0, LEAST({n - 1}, "
                f"CAST(FLOOR(({col} + 180.0) / 360.0 * {float(n)}) "
                f"AS BIGINT)))")

    def qy(col):
        return (f"GREATEST(0, LEAST({n - 1}, "
                f"CAST(FLOOR(({col} + 90.0) / 180.0 * {float(n)}) "
                f"AS BIGINT)))")

    # tile rect bounds from the quantized indices (engine: tile_rect)
    x0, y0 = f"(t.tx * {sx!r} - 180.0)", f"(t.ty * {sy!r} - 90.0)"
    x1, y1 = f"({x0} + {sx!r})", f"({y0} + {sy!r})"
    # per-corner cross products of the segment's supporting line
    cross = {}
    for cn, (cx, cy) in {"c1": (x0, y0), "c2": (x0, y1),
                         "c3": (x1, y0), "c4": (x1, y1)}.items():
        cross[cn] = (f"((s.x2 - s.x1) * ({cy} - s.y1) "
                     f"- (s.y2 - s.y1) * ({cx} - s.x1))")
    same_side = (
        f"(({cross['c1']} > 0 AND {cross['c2']} > 0 AND "
        f"{cross['c3']} > 0 AND {cross['c4']} > 0) OR "
        f"({cross['c1']} < 0 AND {cross['c2']} < 0 AND "
        f"{cross['c3']} < 0 AND {cross['c4']} < 0))"
    )
    seg_overlap = (
        f"GREATEST(s.x1, s.x2) >= {x0} AND LEAST(s.x1, s.x2) <= {x1} "
        f"AND GREATEST(s.y1, s.y2) >= {y0} AND LEAST(s.y1, s.y2) <= {y1}"
    )
    return f"""
        WITH {_PIP_WAYS_CTES},
        tiles AS (
            SELECT {qx('lon')} AS tx, {qy('lat')} AS ty,
                   count(*) AS n_images
            FROM {IMG} GROUP BY 1, 2
        ),
        bidx AS (
            -- quantize the bbox index range FIRST: complex
            -- expressions inside a range-join condition trip a
            -- DuckDB IEJoin internal error
            SELECT poly_id, xmin, ymin, xmax, ymax,
                   {qx('xmin')} AS qx0, {qx('xmax')} AS qx1,
                   {qy('ymin')} AS qy0, {qy('ymax')} AS qy1
            FROM boxes
        ),
        tcand AS (
            SELECT t.tx, t.ty, t.n_images, b.poly_id,
                   b.xmin AS bxmin, b.ymin AS bymin,
                   b.xmax AS bxmax, b.ymax AS bymax
            FROM tiles t JOIN bidx b
              ON t.tx BETWEEN b.qx0 AND b.qx1
             AND t.ty BETWEEN b.qy0 AND b.qy1
        )
        SELECT (CAST({res} AS BIGINT) * {1 << _RES_SHIFT}
                + tx * {1 << _X_SHIFT} + ty) AS cell,
               poly_id, n_images
        FROM (
            -- one aggregation pass per candidate pair over the
            -- polygon's segments: every non-degenerate polygon has
            -- >= 1 segment, so the join drops no candidate
            SELECT t.tx, t.ty, t.n_images, t.poly_id,
                   max(CASE WHEN {seg_overlap} AND NOT {same_side}
                       THEN 1 ELSE 0 END) AS edge_hit,
                   sum(CASE WHEN (s.y1 > {y0}) != (s.y2 > {y0})
                             AND {x0} < (s.x2 - s.x1) * ({y0} - s.y1)
                                        / (s.y2 - s.y1) + s.x1
                       THEN 1 ELSE 0 END) AS crossings,
                   max(CASE WHEN t.bxmin >= {x0} AND t.bxmax <= {x1}
                             AND t.bymin >= {y0} AND t.bymax <= {y1}
                       THEN 1 ELSE 0 END) AS contained
            FROM tcand t JOIN seg s ON s.id = t.poly_id
            GROUP BY t.tx, t.ty, t.n_images, t.poly_id
        )
        WHERE edge_hit = 1 OR crossings % 2 = 1 OR contained = 1
    """


def _knn_complete_sql(levels=(15, 13, 11, 9), k: int = 3,
                      ring: int = 1) -> str:
    """SQL mirror of knn_join_complete: per level, ring membership is
    |cellx(q)-cellx(p)| <= ring AND |celly(q)-celly(p)| <= ring (the
    engine replicates targets into the (2r+1)^2 neighbor block; bounds
    clamping never binds in the synthetic region); each point takes the
    FINEST level holding >= k candidates."""
    hav = _hav_sql("q.lat", "q.lon", "p.lat", "p.lon")

    def cx(col, res):
        n = 1 << res
        return (f"GREATEST(0, LEAST({n - 1}, "
                f"CAST(FLOOR(({col} + 180.0) / 360.0 * {float(n)}) "
                f"AS BIGINT)))")

    def cy(col, res):
        n = 1 << res
        return (f"GREATEST(0, LEAST({n - 1}, "
                f"CAST(FLOOR(({col} + 90.0) / 180.0 * {float(n)}) "
                f"AS BIGINT)))")

    blocks = []
    for lvl in levels:
        blocks.append(f"""
            SELECT q.image_id, p.id AS neighbor_id, {lvl} AS lvl,
                   {hav} AS dist
            FROM q JOIN pois p
              ON abs({cx('q.lon', lvl)} - {cx('p.lon', lvl)}) <= {ring}
             AND abs({cy('q.lat', lvl)} - {cy('p.lat', lvl)}) <= {ring}
        """)
    cand_sql = " UNION ALL ".join(blocks)
    return f"""
        WITH pois AS (
            SELECT id, lon, lat FROM {N}
            WHERE visible AND amenity IS NOT NULL
        ),
        q AS (
            SELECT image_id, lon, lat FROM {IMG}
            WHERE image_id < 'img000000200'
        ),
        cand AS ({cand_sql}),
        counts AS (
            SELECT image_id, lvl, count(*) AS n
            FROM cand GROUP BY image_id, lvl
        ),
        chosen AS (
            -- finest level holding >= k candidates; a point that never
            -- fills keeps the COARSEST pass's partial rows (the engine
            -- replaces under-filled rows with each wider pass and
            -- stops after the last level) — candidate sets are nested,
            -- so the coarsest row exists whenever any candidate does
            SELECT image_id,
                   coalesce(max(lvl) FILTER (WHERE n >= {k}),
                            {min(levels)}) AS lvl
            FROM counts GROUP BY image_id
        ),
        ranked AS (
            SELECT c.image_id, c.neighbor_id, c.dist,
                   row_number() OVER (PARTITION BY c.image_id
                       ORDER BY c.dist ASC, c.neighbor_id ASC) AS rk
            FROM cand c JOIN chosen ch
              ON ch.image_id = c.image_id AND ch.lvl = c.lvl
        )
        SELECT image_id, neighbor_id, round(dist, 3) AS distance_m,
               CAST(rk AS INT) AS knn_rank
        FROM ranked WHERE rk <= {k}
    """


_KNN_SQL = f"""
    WITH pois AS (
        SELECT id, lon, lat FROM {N}
        WHERE visible AND amenity IS NOT NULL
    ),
    q AS (
        SELECT image_id, lon, lat FROM {IMG}
        WHERE image_id < 'img000000200'
    ),
    scored AS (
        SELECT q.image_id, p.id AS neighbor_id,
               {{hav}} AS dist
        FROM q JOIN pois p ON true
    ),
    ranked AS (
        SELECT image_id, neighbor_id, dist,
               row_number() OVER (PARTITION BY image_id
                                  ORDER BY dist ASC, neighbor_id ASC) AS rk
        FROM scored
    )
    SELECT image_id, neighbor_id, round(dist, 3) AS distance_m,
           CAST(rk AS INT) AS knn_rank
    FROM ranked WHERE rk <= 3
"""

def _largest_weak_component_sql() -> str:
    """Weak components via recursive transitive closure — viable at
    sf scale (the driving graph is a few hundred nodes; closure is
    O(V^2) pairs). Label = min reachable node id over undirected
    edges; keep edges whose BOTH endpoints sit in the largest label
    class (ties broken by smallest label, matching the Spark side)."""
    return f"""
        WITH RECURSIVE {_network_way_cte('driving')},
        und AS (
            SELECT u AS a, v AS b FROM seg
            UNION SELECT v, u FROM seg
        ),
        reach(node, label) AS (
            SELECT a, a FROM und
            UNION
            SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node
        ),
        comp AS (SELECT node, min(label) AS comp FROM reach GROUP BY node),
        big AS (
            SELECT comp FROM comp GROUP BY comp
            ORDER BY count(*) DESC, comp ASC LIMIT 1
        )
        SELECT s.id, s.u, s.v
        FROM seg s
        JOIN comp cu ON cu.node = s.u
        JOIN comp cv ON cv.node = s.v
        WHERE cu.comp = (SELECT comp FROM big)
          AND cv.comp = (SELECT comp FROM big)
    """


def _simplify_sql() -> str:
    """Recursive-CTE oracle of the UNDIRECTED chain collapse
    (A4/A8/W4; reference spec graph_simplify.py:118-169): endpoints =
    nodes with distinct-neighbor degree != 2 or a self-loop; every
    chain is walked segment-by-segment from each endpoint (the
    successor at an interior node is its unique other incident
    segment — the synth driving graph has no multigraph interiors,
    verified: every interior node has exactly 2 incidences).  Each
    chain is walked from both ends; the (first_sid, last_sid) rule
    keeps exactly one traversal, preserving genuinely parallel chains.
    Endpoint-free rings are emitted per connected component from the
    minimum node (min-label closure), matching the engine's ring walk.
    """
    return f"""
        WITH RECURSIVE {_network_way_cte('driving')},
        sq AS (
            SELECT row_number() OVER (ORDER BY id, u, v) AS sid,
                   id AS wid, u, v, L
            FROM seg
        ),
        inc AS (  -- undirected incidence list (self-loops deduped)
            SELECT u AS node, v AS other, sid FROM sq
            UNION
            SELECT v, u, sid FROM sq
        ),
        ndeg AS (
            SELECT node, count(DISTINCT other) AS dn,
                   bool_or(node = other) AS selfloop
            FROM inc GROUP BY node
        ),
        ep AS (SELECT node FROM ndeg WHERE dn != 2 OR selfloop),
        succ AS (  -- interior successor: the other incident segment
            SELECT i.node AS cur, i.sid AS in_sid,
                   j.sid AS out_sid, j.other AS nxt
            FROM inc i JOIN inc j
              ON j.node = i.node AND j.sid != i.sid
            WHERE i.node NOT IN (SELECT node FROM ep)
        ),
        walk(start, first_sid, cur, cur_sid, total, n, ways) AS (
            SELECT i.node, i.sid, i.other, i.sid, s.L, 1, [s.wid]
            FROM inc i JOIN sq s ON s.sid = i.sid
            WHERE i.node IN (SELECT node FROM ep)
            UNION ALL
            SELECT w.start, w.first_sid, x.nxt, x.out_sid,
                   w.total + s.L, w.n + 1, list_append(w.ways, s.wid)
            FROM walk w
            JOIN succ x ON x.cur = w.cur AND x.in_sid = w.cur_sid
            JOIN sq s ON s.sid = x.out_sid
        ),
        chains AS (
            SELECT * FROM walk
            WHERE cur IN (SELECT node FROM ep)
              AND (first_sid < cur_sid
                   OR (first_sid = cur_sid AND start <= cur))
        ),
        und AS (SELECT u AS a, v AS b FROM sq UNION SELECT v, u FROM sq),
        reach(node, label) AS (
            SELECT a, a FROM und
            UNION
            SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node
        ),
        comp AS (SELECT node, min(label) AS c FROM reach GROUP BY node),
        ringc AS (  -- components containing no endpoint = pure rings
            SELECT c FROM comp GROUP BY c
            HAVING bool_and(node NOT IN (SELECT node FROM ep))
        ),
        rings AS (
            SELECT min(least(s.u, s.v)) AS mn, round(sum(s.L), 3) AS total,
                   count(*) AS n,
                   list_sort(list_distinct(list(s.wid))) AS ways
            FROM sq s JOIN comp cu ON cu.node = s.u
            WHERE cu.c IN (SELECT c FROM ringc)
            GROUP BY cu.c
        )
        SELECT least(start, cur) AS u, greatest(start, cur) AS v,
               round(total, 3) AS length, CAST(n AS INT) AS n_segments,
               array_to_string(list_sort(list_distinct(ways)), ',')
                   AS way_ids
        FROM chains
        UNION ALL
        SELECT mn, mn, total, CAST(n AS INT), array_to_string(ways, ',')
        FROM rings
    """


def _simplify_directed_sql() -> str:
    """Recursive-CTE oracle of the DIRECTED OSMnx simplification (X2,
    rules 1-5; graph_simplify.py:239-432): endpoint detection mirrors
    ``endpoint_nodes`` exactly (self-loop / dead-end / non-pass-through
    / highway-attr disagreement with an explicit NULL class); the walk
    successor at a pass-through node is the out-edge preferring not to
    U-turn, minimum head as tie-break — a pure function of (cur, prev)
    because interior out-edges are never contended (verified: no
    parallel out-edges at interior nodes, no endpoint-free directed
    rings in the synth driving graph)."""
    return f"""
        WITH RECURSIVE {_network_way_cte('driving')},
        tagged AS (
            SELECT seg.id, seg.u, seg.v, seg.L, w.highway,
                   (coalesce(w.oneway IN ('yes','true','1','-1','T','F'),
                             false)
                    OR coalesce(w.junction = 'roundabout', false)) AS oneway,
                   coalesce(w.oneway IN ('-1','T'), false) AS against
            FROM seg JOIN {W} w ON w.id = seg.id
        ),
        d AS (
            SELECT id, u, v, L, highway FROM tagged
            WHERE oneway AND NOT against
            UNION ALL
            SELECT id, v, u, L, highway FROM tagged WHERE oneway AND against
            UNION ALL
            SELECT id, u, v, L, highway FROM tagged WHERE NOT oneway
            UNION ALL
            SELECT id, v, u, L, highway FROM tagged WHERE NOT oneway
        ),
        sq AS (
            SELECT row_number() OVER (ORDER BY id, u, v) AS sid, *
            FROM d
        ),
        outd AS (SELECT u AS node, count(*) AS od FROM sq GROUP BY 1),
        ind AS (SELECT v AS node, count(*) AS idg FROM sq GROUP BY 1),
        nb AS (
            SELECT node, count(DISTINCT nbr) AS dn FROM (
                SELECT u AS node, v AS nbr FROM sq
                UNION ALL SELECT v, u FROM sq)
            GROUP BY 1
        ),
        lp AS (SELECT DISTINCT u AS node FROM sq WHERE u = v),
        att AS (  -- rule 5: incident-edge highway disagreement
            SELECT node,
                   (count(DISTINCT highway)
                    + max(CASE WHEN highway IS NULL THEN 1 ELSE 0 END)
                    > 1) AS adiff
            FROM (SELECT u AS node, highway FROM sq
                  UNION ALL SELECT v, highway FROM sq)
            GROUP BY 1
        ),
        flags AS (
            SELECT nb.node, nb.dn, coalesce(o.od, 0) AS od,
                   coalesce(i.idg, 0) AS idg,
                   nb.node IN (SELECT node FROM lp) AS selfloop,
                   coalesce(a.adiff, false) AS adiff
            FROM nb
            LEFT JOIN outd o ON o.node = nb.node
            LEFT JOIN ind i ON i.node = nb.node
            LEFT JOIN att a ON a.node = nb.node
        ),
        ep AS (
            SELECT node FROM flags
            WHERE selfloop OR idg = 0 OR od = 0
               OR NOT (dn = 2 AND (idg + od) IN (2, 4)) OR adiff
        ),
        succ AS (  -- (cur, prev) -> next out-edge; prefer non-U-turn
            SELECT arr.cur, arr.prev, s.sid AS out_sid, s.v AS nxt
            FROM (SELECT DISTINCT v AS cur, u AS prev FROM sq) arr
            JOIN sq s ON s.u = arr.cur
            WHERE arr.cur NOT IN (SELECT node FROM ep)
            QUALIFY row_number() OVER (
                PARTITION BY arr.cur, arr.prev
                ORDER BY (s.v = arr.prev), s.v, s.sid) = 1
        ),
        walk(start, prev, cur, total, n, ways, hws) AS (
            SELECT s.u, s.u, s.v, s.L, 1, [s.wid], [s.highway]
            FROM (SELECT sid, id AS wid, u, v, L, highway FROM sq) s
            WHERE s.u IN (SELECT node FROM ep)
            UNION ALL
            SELECT w.start, w.cur, x.nxt, w.total + s.L, w.n + 1,
                   list_append(w.ways, s.id), list_append(w.hws, s.highway)
            FROM walk w
            JOIN succ x ON x.cur = w.cur AND x.prev = w.prev
            JOIN sq s ON s.sid = x.out_sid
            WHERE w.cur != w.start
        )
        SELECT start AS u, cur AS v, round(total, 3) AS length,
               CAST(n AS INT) AS n_segments,
               array_to_string(list_sort(list_distinct(ways)), ',')
                   AS way_ids,
               array_to_string(list_sort(list_distinct(
                   list_filter(hws, x -> x IS NOT NULL))), ',') AS highway
        FROM walk WHERE cur IN (SELECT node FROM ep)
    """


_LATEST_SQL = f"""
    WITH ranked AS (
        SELECT id, version, lon, lat,
               row_number() OVER (PARTITION BY id
                                  ORDER BY version DESC, timestamp DESC)
                   AS rk
        FROM {N}
        WHERE visible
    )
    SELECT id, version, lon, lat FROM ranked WHERE rk = 1
"""


def oracle_sql() -> dict[str, str]:
    knn = _KNN_SQL.format(hav=_hav_sql("q.lat", "q.lon", "p.lat", "p.lon"))
    return {
        # golden-snapshot oracle: DuckDB cannot decode PBF or assemble
        # multipolygons, so the oracle reads the committed, pytest-
        # pinned golden of this exact output (see the query docstring).
        "buildings_relations_helsinki": f"""
            SELECT id, osm_type, building, geom_type, wkb_len, wkb_md5
            FROM read_parquet('{REPO_DIR}/data/goldens/helsinki_buildings.parquet')
        """,
        "network_driving_edges": _network_edges_sql("driving"),
        "network_walking_edges": _network_edges_sql("walking"),
        "network_cycling_edges": _network_edges_sql("cycling"),
        "network_all_edges": _network_edges_sql("all"),
        "network_driving_psv_edges": _network_edges_sql("driving+psv"),
        "network_driving_segments": f"""
            WITH {_network_way_cte('driving')}
            SELECT id, u, v, L AS length FROM seg
        """,
        "directed_edges_driving": _DIRECTED_SQL,
        "buildings_ways": _BUILDINGS_SQL,
        "pois_nodes": f"""
            SELECT id, amenity, shop, lon, lat FROM {N}
            WHERE visible AND (amenity IS NOT NULL
                               OR coalesce(shop = 'supermarket', false))
        """,
        "boundaries_admin": f"""
            SELECT id, 'relation' AS osm_type, name FROM {R}
            WHERE visible AND coalesce(boundary = 'administrative', false)
        """,
        "bbox_complete_ways": _bbox_sql(),
        "custom_bracket_network": f"""
            SELECT id, highway FROM {W}
            WHERE visible AND highway IS NOT NULL
              AND regexp_matches(highway, 'path|cycleway')
              AND (bicycle IS NULL OR bicycle != 'no')
        """,
        "crop_bbox_cascade": _crop_sql(),
        "pbf_roundtrip_nodes": f"""
            SELECT id,
                   CAST(round(lon * 1e7) AS BIGINT) AS lon_e7,
                   CAST(round(lat * 1e7) AS BIGINT) AS lat_e7,
                   CAST(cardinality(tags) AS INT) AS n_tags,
                   version, changeset, timestamp, visible
            FROM {N}
        """,
        "pbf_roundtrip_ways": f"""
            SELECT id,
                   coalesce(array_to_string(refs, ','), '') AS refs_sig,
                   CAST(cardinality(tags) AS INT) AS n_tags,
                   version, timestamp, visible
            FROM {W}
        """,
        "pbf_roundtrip_relations": f"""
            SELECT id,
                   coalesce(array_to_string(list_transform(
                       members,
                       m -> CAST(m.member_id AS VARCHAR) || ':' ||
                            m.member_type || ':' ||
                            coalesce(m.member_role, '')
                   ), ';'), '') AS members_sig,
                   CAST(cardinality(tags) AS INT) AS n_tags,
                   version, timestamp, visible
            FROM {R}
        """,
        "pbf_scan_summary": f"""
            SELECT 'node' AS osm_type, count(*) AS n,
                   CAST(sum(id) AS BIGINT) AS id_sum,
                   CAST(sum(cardinality(tags)) AS BIGINT) AS tag_sum,
                   CAST(0 AS BIGINT) AS refs_sum,
                   CAST(0 AS BIGINT) AS members_sum
            FROM {N}
            UNION ALL
            SELECT 'way', count(*), CAST(sum(id) AS BIGINT),
                   CAST(sum(cardinality(tags)) AS BIGINT),
                   CAST(sum(coalesce(len(refs), 0)) AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM {W}
            UNION ALL
            SELECT 'relation', count(*), CAST(sum(id) AS BIGINT),
                   CAST(sum(cardinality(tags)) AS BIGINT),
                   CAST(0 AS BIGINT),
                   CAST(sum(coalesce(len(members), 0)) AS BIGINT)
            FROM {R}
        """,
        "straddling_relations": f"""
            WITH m AS (
                SELECT DISTINCT id AS rel_id, u.member_id AS way_id
                FROM (SELECT id, unnest(members) AS u FROM {R}
                      WHERE visible)
                WHERE u.member_type = 'way'
            ),
            p AS (
                SELECT m.rel_id, count(*) AS n_members,
                       sum(CASE WHEN w.id IS NOT NULL THEN 1 ELSE 0 END)
                           AS n_present
                FROM m LEFT JOIN (SELECT DISTINCT id FROM {W}
                                  WHERE visible) w
                  ON w.id = m.way_id
                GROUP BY m.rel_id
            )
            SELECT rel_id, CAST(n_members AS BIGINT) AS n_members,
                   CAST(n_present AS BIGINT) AS n_present
            FROM p
            WHERE n_present > 0 AND n_present < n_members
        """,
        "latest_node_version": _LATEST_SQL,
        "latest_history_nodes": f"""
            WITH v AS (
                SELECT * FROM
                read_parquet('{SYNTH_DIR}/osm_nodes_history.parquet')
                WHERE visible
            ),
            w AS (
                SELECT id,
                       last_value(round(lon, 6)) OVER win AS lon,
                       last_value(round(lat, 6)) OVER win AS lat,
                       last_value(name IGNORE NULLS) OVER win AS name,
                       last_value(amenity IGNORE NULLS) OVER win AS amenity,
                       row_number() OVER (PARTITION BY id
                           ORDER BY version DESC, timestamp DESC) AS rk
                FROM v
                WINDOW win AS (PARTITION BY id
                    ORDER BY version ASC, timestamp ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
            )
            SELECT id, lon, lat, name, amenity FROM w WHERE rk = 1
        """,
        "tag_presentation_ways": f"""
            -- 'visible' mirrors the engine's load_osm(visible_only=
            -- True); 'height' mirrors its full requested key list —
            -- both held green by seed luck before (no invisible
            -- maxspeed way, no maxspeed+height way in the committed
            -- world), and would silently diverge on regeneration
            WITH src AS (
                SELECT * FROM {W}
                WHERE len(tags['maxspeed']) > 0 AND visible
            )
            SELECT id,
                   try_cast(try_cast(maxspeed AS DOUBLE) AS BIGINT)
                       AS maxspeed,
                   try_cast(try_cast(lanes AS DOUBLE) AS BIGINT) AS lanes,
                   name,
                   CASE WHEN len(list_filter(map_entries(tags),
                            e -> e.key NOT IN
                                ('maxspeed','lanes','name','height')))
                            > 0
                        THEN array_to_string(list_sort(list_transform(
                            list_filter(map_entries(tags),
                                e -> e.key NOT IN
                                    ('maxspeed','lanes','name','height')),
                            e -> e.key || '=' || e.value)), '&')
                   END AS tags_leftover
            FROM src
        """,
        "id_tag_rename": f"""
            SELECT id, tags['id'][1] AS id_tag, amenity FROM {N}
            WHERE len(tags['id']) > 0 AND visible
        """,
        "street_count_driving": f"""
            WITH {_network_way_cte('driving')},
            und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
                    FROM seg),
            ends AS (SELECT a AS node FROM und
                     UNION ALL
                     SELECT b AS node FROM und)
            SELECT node, count(*) AS street_count FROM ends GROUP BY node
        """,
        "degrees_directed_driving": f"""
            WITH d AS ({_DIRECTED_SQL}),
            o AS (SELECT u AS node, count(*) AS out_degree FROM d GROUP BY 1),
            i AS (SELECT v AS node, count(*) AS in_degree FROM d GROUP BY 1),
            nb AS (
                SELECT node, count(DISTINCT nbr) AS n_neighbors FROM (
                    SELECT u AS node, v AS nbr FROM d
                    UNION ALL SELECT v, u FROM d)
                GROUP BY node
            )
            SELECT nb.node, nb.n_neighbors,
                   coalesce(o.out_degree, 0) AS out_degree,
                   coalesce(i.in_degree, 0) AS in_degree
            FROM nb LEFT JOIN o ON o.node = nb.node
            LEFT JOIN i ON i.node = nb.node
        """,
        "tile_assignment": _tile_sql(15, agg=False),
        "tile_counts": _tile_sql(12, agg=True),
        "tile_adaptive_split": _tile_adaptive_sql(12, 3, 4.0),
        "zorder_pruned_scan": _zorder_scan_sql(),
        "checkpointed_tile_counts": _tile_sql(12, agg=True),
        "pip_bbox_join": _PIP_BBOX_SQL,
        "pip_exact_ways": _PIP_EXACT_WAYS_SQL,
        "pip_left_join": f"""
            WITH {_PIP_WAYS_CTES},
            hits AS ({_PIP_WAYS_HITS})
            SELECT i.image_id, h.poly_id
            FROM {IMG} i LEFT JOIN hits h ON h.image_id = i.image_id
        """,
        "pip_exact_join": _PIP_EXACT_JOIN_SQL,
        "pip_compact_join": _PIP_EXACT_JOIN_SQL,
        # auto = exact-join pairs + the literal world rectangle, which
        # contains every image point by construction
        "pip_auto_join": f"""
            SELECT * FROM ({_PIP_EXACT_JOIN_SQL})
            UNION ALL
            SELECT image_id, -1 AS poly_id, 'synthetic' AS osm_type
            FROM {IMG}
        """,
        "raster_polygon_join": _raster_polygon_sql(12),
        "largest_weak_component": _largest_weak_component_sql(),
        "simplify_chains_driving": _simplify_sql(),
        "simplify_directed_osmnx": _simplify_directed_sql(),
        "knn_images_pois": knn,
        "knn_escalating": _knn_complete_sql(),
        # generator-differential: the stored phash/h/w are the
        # independent reference values for the engine's decode output
        "decode_features": f"""
            SELECT image_id, CAST(1 AS BOOLEAN) AS ok, h, w,
                   phash AS phash_computed,
                   CAST(1 AS BOOLEAN) AS phash_match,
                   CAST(length(caption) AS INT) AS caption_len
            FROM {IMG} WHERE bytes IS NOT NULL
        """,
    }


# ==========================================================================
# Compare
# ==========================================================================

def _normalized(rows) -> list:
    """Rows with floats rounded to 5 places (NaN as a string), sorted
    by their string form: an order-insensitive canonical form."""
    out = []
    for r in rows:
        out.append(tuple(
            ("nan" if math.isnan(v) else round(v, 5))
            if isinstance(v, float) else v
            for v in r))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def assert_matches(df: DataFrame, con, sql: str) -> None:
    """Assert that ``df`` equals the DuckDB result of ``sql`` on
    connection ``con``: the same column names, the same row count and,
    after sorting, the same values row by row (floats within 1e-5)."""
    cols = sorted(df.columns)
    got = _normalized(tuple(r[c] for c in cols) for r in df.collect())
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    assert cols == sorted(ocols), f"columns {cols} != {sorted(ocols)}"
    order = [ocols.index(c) for c in cols]
    exp = _normalized(tuple(r[i] for i in order) for r in cur.fetchall())
    assert len(got) == len(exp), f"rows {len(got)} != {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        for gv, ev in zip(g, e):
            same = (math.isclose(gv, ev, rel_tol=1e-5, abs_tol=1e-5)
                    if isinstance(gv, float) and isinstance(ev, float)
                    else gv == ev)
            assert same, f"row {i}: got {g}, expected {e}"
