"""The closed-loop workloads.

A workload builds its pinned state in ``setup`` and lists the ops of
one pass in ``ops``. Every op returns a small value that ``run.py``
compares with the recorded answer for its key in ``expected.json``, so
every op's output is checked in every pass. Most ops return a digest:
the row count and an order-independent checksum of the key columns
(sum of ``xxhash64`` mod 2^31-1). The tile histogram is compared whole,
against the numpy tile formula in ``oracle.py``.

``ops`` takes a ``mat`` function that every layer's output passes
through. It is the identity in a timed pass; the traced pass in
``tracing.py`` passes one that persists and materializes each output,
so the same ops run with every layer boundary made eager.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs

KNN_EVERY = 16  # one image in KNN_EVERY is a kNN query point


def same(df: DataFrame) -> DataFrame:
    return df


def digest(df: DataFrame, cols) -> list:
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))),
    ).first()
    return [int(row[0]), int(row[1] or 0)]


def polygons_of(layer: DataFrame) -> DataFrame:
    return layer.select("id", "osm_type", "geometry")


def pip_digest(points: DataFrame, polygons: DataFrame, mat=same) -> list:
    from pyrosm_spark.operators.spatial_join import point_in_polygon_join

    j = mat(point_in_polygon_join(points, polygons, res=17))
    return digest(j, ["image_id", "poly_id", "poly_osm_type"])


def read_batch(spark, i: int) -> DataFrame:
    from pyrosm_spark.sources.table import read_table

    return read_table(spark, inputs.batch_path(i),
                      columns=["image_id", "lon", "lat"])


class TileStream:
    """Image batches stream through tiling and the spatial joins against
    a pinned building layer: the steady state of a tiling service."""

    name = "tile_stream"

    def __init__(self, spark, picks: dict):
        self.spark = spark
        self.batches = picks["batches"]
        self.polygons = None
        self.pois = None

    def setup(self) -> None:
        from pyrosm_spark.operators.layers import get_buildings
        from pyrosm_spark.operators.osm_source import load_osm
        from pyrosm_spark.operators.spatial_join import release_pinned_caches

        release_pinned_caches()
        for df in (self.polygons, self.pois):
            if df is not None:
                df.unpersist(blocking=True)
        nodes, ways, rels = load_osm(self.spark, inputs.world_dir())
        self.polygons = polygons_of(get_buildings(nodes, ways, rels)).persist()
        self.polygons.count()
        self.pois = nodes.filter(F.map_contains_key("tags", "amenity")) \
            .select("id", "lon", "lat").persist()
        self.pois.count()

    def op_tiles(self, batch: DataFrame, mat=same) -> dict:
        from pyrosm_spark.operators.spatial_join import assign_tiles

        rows = mat(assign_tiles(batch, 15)).groupBy("cell").count().collect()
        return {str(r["cell"]): int(r["count"]) for r in rows}

    def op_pip(self, batch: DataFrame, mat=same) -> list:
        return pip_digest(batch, self.polygons, mat)

    def op_raster(self, batch: DataFrame, mat=same) -> list:
        from pyrosm_spark.operators.spatial_join import (
            assign_tiles,
            raster_polygon_join,
        )

        tiles = mat(assign_tiles(batch, 14).groupBy("cell").agg(
            F.count("*").alias("n_images")))
        j = mat(raster_polygon_join(tiles, self.polygons, res=14))
        return digest(j, ["cell", "poly_id", "poly_osm_type", "n_images"])

    def op_knn(self, batch: DataFrame, mat=same) -> list:
        from pyrosm_spark.operators.spatial_join import knn_join

        sample = batch.filter(
            F.substring("image_id", 4, 9).cast("long") % KNN_EVERY == 0)
        j = mat(knn_join(sample, self.pois, k=3, res=14, ring=1,
                         point_id_col="image_id"))
        return digest(j, ["image_id", "neighbor_id", "knn_rank",
                          F.round("distance_m", 2)])

    def ops(self, k: int, mat=same) -> list:
        b = self.batches[k % len(self.batches)]
        batch = mat(read_batch(self.spark, b))
        return [
            (f"tiles/b{b}", lambda: self.op_tiles(batch, mat)),
            (f"pip/b{b}", lambda: self.op_pip(batch, mat)),
            (f"raster/b{b}", lambda: self.op_raster(batch, mat)),
            (f"knn/b{b}", lambda: self.op_knn(batch, mat)),
        ]


class OsmLayers:
    """The pyrosm facade over a parquet world, a fresh plan per call.
    The PIP join against each freshly built polygon layer builds its
    cover cold: the cross-call cover memo is released after every
    layer."""

    name = "osm_layers"

    def __init__(self, spark, picks: dict):
        self.spark = spark
        self.sample_batch = picks["sample_batch"]
        self.sample = None

    def setup(self) -> None:
        from pyrosm_spark import OSM

        if self.sample is not None:
            self.sample.unpersist(blocking=True)
        self.osm = OSM(self.spark, inputs.world_dir())
        self.sample = read_batch(self.spark, self.sample_batch) \
            .limit(inputs.SAMPLE_ROWS).persist()
        self.sample.count()

    def op_layer(self, build, mat=same) -> list:
        from pyrosm_spark.operators.spatial_join import release_pinned_caches

        try:
            return pip_digest(self.sample, mat(polygons_of(build())), mat)
        finally:
            # hand the pinned cover back, as a caller does between
            # pipeline stages: the next layer's PIP builds it cold
            release_pinned_caches()

    def ops(self, k: int, mat=same) -> list:
        return [(f"buildings/s{self.sample_batch}",
                 lambda: self.op_layer(self.osm.get_buildings, mat))]


WORKLOADS = {w.name: w for w in (TileStream, OsmLayers)}
