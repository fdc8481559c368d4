"""Traced per-layer sweep: times the calls into each ``pyrosm_spark``
layer's public functions from outside the program.

Spark is lazy, so every layer's output is persisted and materialized
with a ``noop`` write at its boundary; the next layer reads the
persisted frame. A span's time is therefore that layer's self time.
The sweep covers every layer, whichever workload the run is for, so
one traced run reports every per-layer metric.

The tracing overhead is measured on the named workload's own pass:
``Boundaries`` is the ``mat`` hook of ``workloads``, so a traced pass
runs the same ops with every layer's output persisted and materialized,
and its wall time is set beside the untraced pass time.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import inputs
from workloads import KNN_EVERY, polygons_of, read_batch

# An Overpass-bracket filter, the form get_data_by_custom_criteria takes.
CUSTOM_FILTER = '["highway"~"primary|secondary|tertiary"]["name"]'

def materialize(df):
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


class Boundaries:
    """A ``mat`` hook that materializes every layer output it is given
    and unpersists them all on ``release``."""

    def __init__(self):
        self.frames: list = []

    def __call__(self, df):
        self.frames.append(materialize(df))
        return self.frames[-1]

    def release(self) -> None:
        for df in self.frames:
            df.unpersist(blocking=True)
        self.frames.clear()


class Spans:
    def __init__(self):
        self.m: dict = {}

    def time(self, name: str, fn):
        t = time.perf_counter()
        out = fn()
        self.m[name] = (time.perf_counter() - t, "s")
        return out

    def count(self, name: str, value, unit: str = "count") -> None:
        self.m[name] = (value, unit)


def sweep_osm(spark, s: Spans, sample) -> tuple:
    from pyrosm_spark.functions.filters import (
        compile_custom_filter,
        element_filter_column,
    )
    from pyrosm_spark.operators import geometry as geom
    from pyrosm_spark.operators import layers as L
    from pyrosm_spark.operators.graph import connected_components
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm
    from pyrosm_spark.operators.relations import assemble_relations
    from pyrosm_spark.operators.spatial_join import (
        point_in_polygon_join,
        release_pinned_caches,
    )
    from pyrosm_spark.synth.osm import TEST_BBOX

    nodes, ways, rels = s.time("osm_source.scan_s", lambda: [
        materialize(df) for df in load_osm(spark, inputs.world_dir())])
    n_ways = ways.count()
    s.count("osm_source.rows", nodes.count() + n_ways + rels.count())

    t = time.perf_counter()
    pred = element_filter_column(F.col("tags"),
                                 compile_custom_filter(CUSTOM_FILTER))
    s.count("filters.compile_ms", (time.perf_counter() - t) * 1000, "ms")
    s.count("filters.kept_frac", ways.filter(pred).count() / n_ways, "ratio")

    bpred = element_filter_column(F.col("tags"), {"building": True})
    bways = materialize(ways.filter(bpred))
    coords = s.time("geometry.coord_join_s", lambda: materialize(
        geom.way_coordinates(bways, nodes).filter(geom.pts_size() >= 2)))
    s.count("geometry.ways_resolved", coords.count())
    s.time("geometry.wkb_s", lambda: materialize(coords.select(
        "id", geom.way_geometry_wkb(
            F.col(geom.PTS_FIELD),
            geom.way_is_closed() & geom.closed_way_is_polygon(F.col("tags")),
        ).alias("geometry"))))
    rel = s.time("relations.assemble_s", lambda: materialize(
        assemble_relations(rels, ways, nodes)))
    s.count("relations.rows", rel.count())

    layers = {
        "buildings": lambda: L.get_buildings(nodes, ways, rels),
        "pois": lambda: L.get_pois(nodes, ways, rels),
        "landuse": lambda: L.get_landuse(nodes, ways, rels),
        "natural": lambda: L.get_natural(nodes, ways, rels),
        "boundaries": lambda: L.get_boundaries(nodes, ways, rels),
        "custom": lambda: L.get_layer(nodes, ways, rels, CUSTOM_FILTER,
                                      tag_cols=["highway", "name"]),
    }
    built = {}
    for name, fn in layers.items():
        built[name] = s.time(f"layers.{name}_s", lambda: materialize(fn()))
        s.count(f"layers.{name}_rows", built[name].count())
    buildings = materialize(polygons_of(built["buildings"]))
    release_pinned_caches()  # the cover must be built cold
    s.time("spatial_join.pip_cold_s", lambda: materialize(
        point_in_polygon_join(sample, polygons_of(built["buildings"]),
                              res=17)))

    nets = {
        "driving": lambda: get_network(nodes, ways, "driving"),
        "walking": lambda: get_network(nodes, ways, "walking",
                                       with_nodes=True)[1],
        "cycling": lambda: get_network(nodes, ways, "cycling"),
        "bbox": lambda: get_network(nodes, ways, "cycling", bbox=TEST_BBOX),
    }
    for name, fn in nets.items():
        e = s.time(f"network.{name}_s", lambda: materialize(fn()))
        s.count(f"network.{name}_edges", e.count())
    edges = materialize(get_network(nodes, ways, "driving",
                                    with_nodes=True)[1])
    comp = s.time("graph.components_s",
                  lambda: materialize(connected_components(edges)))
    s.count("graph.components", comp.select("comp").distinct().count())
    return nodes, buildings


def sweep_tiles(spark, s: Spans, batch_id: int, nodes, polygons) -> None:
    from pyrosm_spark.operators.spatial_join import (
        assign_tiles,
        knn_join,
        point_in_polygon_join,
        polygon_cover,
        raster_polygon_join,
        wkb_segment_sets,
    )

    pois = materialize(nodes.filter(F.map_contains_key("tags", "amenity"))
                       .select("id", "lon", "lat"))
    batch = s.time("table.images_scan_s",
                   lambda: materialize(read_batch(spark, batch_id)))
    pts = s.time("tiles.assign_s",
                 lambda: materialize(assign_tiles(batch, 15)))
    s.count("tiles.cells", pts.select("cell").distinct().count())
    cover = s.time("spatial_join.cover_s", lambda: materialize(polygon_cover(
        polygons.withColumn("_segsets", wkb_segment_sets(F.col("geometry"))),
        17)))
    s.count("spatial_join.cover_cells", cover.count())
    # warm the cross-call cover memo, as tile_stream's warm-up does
    point_in_polygon_join(batch, polygons, res=17).count()
    pip = s.time("spatial_join.pip_s", lambda: materialize(
        point_in_polygon_join(batch, polygons, res=17)))
    cand = assign_tiles(batch, 17).join(cover.select("cell"), "cell").count()
    matches = pip.count()
    s.count("spatial_join.pip_candidates", cand)
    s.count("spatial_join.pip_matches", matches)
    s.count("spatial_join.pip_yield", matches / cand, "ratio")

    tiles14 = materialize(assign_tiles(batch, 14).groupBy("cell").agg(
        F.count("*").alias("n_images")))
    raster_polygon_join(tiles14, polygons, res=14).count()
    r = s.time("spatial_join.raster_s", lambda: materialize(
        raster_polygon_join(tiles14, polygons, res=14)))
    s.count("spatial_join.raster_pairs", r.count())
    sample = materialize(batch.filter(
        F.substring("image_id", 4, 9).cast("long") % KNN_EVERY == 0))
    k = s.time("spatial_join.knn_s", lambda: materialize(knn_join(
        sample, pois, k=3, res=14, ring=1, point_id_col="image_id")))
    s.count("spatial_join.knn_rows", k.count())


def sweep_pbf(spark, s: Spans, quadrant: int, root: str, polygons) -> None:
    from pyrosm_spark.operators.crop import crop_tables
    from pyrosm_spark.operators.osm_source import ENGINE_COLUMNS
    from pyrosm_spark.plans.checkpoint import CheckpointManager
    from pyrosm_spark.sources.geoparquet import write_geoparquet
    from pyrosm_spark.sources.pbf import (
        iter_blob_index,
        read_pbf_union,
        write_pbf,
    )

    path = inputs.pbf_path()
    s.count("pbf.blobs", sum(1 for t, _o, _n in iter_blob_index(path)
                             if t == "OSMData"))
    union = s.time("pbf.decode_s",
                   lambda: materialize(read_pbf_union(spark, path)))
    s.count("pbf.elements", union.count())
    # split the persisted union the way read_pbf and load_osm do, so the
    # file is decoded once rather than once per element table
    n, w, r = (union.filter(F.col("osm_type") == kind)
               .select(*ENGINE_COLUMNS[table]).filter(F.col("visible"))
               for kind, table in (("node", "osm_nodes"), ("way", "osm_ways"),
                                   ("relation", "osm_relations")))
    crop = s.time("crop.select_s", lambda: [
        materialize(df) for df in crop_tables(
            n, w, r, inputs.quadrant_bbox(quadrant))])
    s.count("crop.rows", sum(df.count() for df in crop))
    out = os.path.join(root, "crop.osm.pbf")
    s.time("pbf.encode_s", lambda: write_pbf(*crop, out))
    s.count("pbf.bytes_out", os.path.getsize(out), "bytes")

    gp = os.path.join(root, "buildings.parquet")
    s.time("geoparquet.write_s", lambda: write_geoparquet(polygons, gp))
    s.count("geoparquet.bytes", sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(gp) for f in fs if f.endswith(".parquet")),
        "bytes")
    args = ("buildings", {"layer": "buildings"}, [path], lambda: polygons)
    ck = os.path.join(root, "ckpt")
    s.time("checkpoint.write_s",
           lambda: CheckpointManager(spark, ck).stage(*args))
    again = CheckpointManager(spark, ck)
    s.time("checkpoint.resume_s", lambda: again.stage(*args))
    s.count("checkpoint.skipped", len(again.skipped))


def sweep(spark, picks: dict) -> dict:
    """Every per-layer metric as {name: (value, unit)}."""
    root = os.path.join(inputs.scratch_dir(), "trace")
    os.makedirs(root, exist_ok=True)
    s = Spans()
    try:
        sample = materialize(read_batch(spark, picks["sample_batch"])
                             .limit(inputs.SAMPLE_ROWS))
        nodes, buildings = sweep_osm(spark, s, sample)
        sweep_tiles(spark, s, picks["batches"][0], nodes, buildings)
        sweep_pbf(spark, s, picks["quadrant"], root, buildings)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.catalog.clearCache()
    return s.m
